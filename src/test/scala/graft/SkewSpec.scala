package graft

import graft.ops.Skew
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** saltedJoin must be semantically identical to the plain equi-join it
  * replaces, and must actually spread a hot key across sub-partitions.
  */
class SkewSpec extends AnyFunSuite with Matchers with SharedSpark {

  test("salted join equals plain join on skewed data and spreads the hot key") {
    import spark.implicits._
    // 50k rows, 90% on one hot key
    val big = spark.range(0, 50000)
      .select(col("id"), when(col("id") % 10 < 9, 1L).otherwise(col("id") % 100).as("k"))
    val dim = spark.range(0, 100).select(col("id").as("k"), concat(lit("v"), col("id")).as("payload"))

    val plain = big.join(dim, "k").groupBy(col("k"))
      .agg(count(lit(1)).as("n"), first(col("payload")).as("p"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    val salted = Skew.saltedJoin(big, dim, "k", col("id"), 8).groupBy(col("k"))
      .agg(count(lit(1)).as("n"), first(col("payload")).as("p"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    salted shouldBe plain

    // the hot key's rows now span all 8 sub-keys
    val spread = big.filter(col("k") === 1)
      .select(pmod(xxhash64(col("id")), lit(8L)).as("s"))
      .distinct().count()
    spread shouldBe 8L
  }

  /** AQE's runtime skew-join split is the NO-CODE-CHANGE counterpart of
    * manual salting: the same skewed join, left alone, must come out of
    * adaptive execution with the hot partition split (`skew=true` on
    * the SortMergeJoin, partial-reducer reads on the shuffle) — the
    * mechanism a 1000-executor job leans on when a hot key appears at
    * runtime that nobody pre-salted for. Thresholds are lowered to make
    * a local-scale hot key trip the same code path production sizes do.
    */
  test("AQE splits the skewed partition of an unsalted join at runtime") {
    Sessions.withConfs(spark,
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "32KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") { // keep it a SMJ
      // 200k rows, 90% on hot key 1, with a payload wide enough that the
      // hot partition clears the (lowered) skew byte threshold
      val big = spark.range(0, 200000)
        .select(col("id"), when(col("id") % 10 < 9, 1L).otherwise(col("id") % 500).as("k"),
          concat(lit("payload_"), col("id"), lit("_"), md5(col("id").cast("string"))).as("pay"))
      val dim = spark.range(0, 500)
        .select(col("id").as("k"), concat(lit("v"), col("id")).as("v"))
      val joined = big.join(dim, "k")
      // drive the Dataset's OWN QueryExecution (count() would plan a
      // fresh one and the adaptive result would be invisible here)
      val n = joined.queryExecution.toRdd.count()
      n shouldBe 200000L // inner join on a complete dim: row-preserving

      import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
      val aqe = (joined.queryExecution.executedPlan +: joined.queryExecution.executedPlan.children)
        .flatMap(_.collect { case a: AdaptiveSparkPlanExec => a }).head
      // the final plan tree nests inside leaf QueryStageExec wrappers
      // (collect() can't cross them) — assert on the rendered plan,
      // which is also what a human audits in explain()
      val fin = aqe.executedPlan.toString
      withClue(s"final adaptive plan:\n$fin\n") {
        // the SMJ itself is re-planned as a skew join...
        fin should include("SortMergeJoin(skew=true)")
        // ...because the runtime shuffle read split the hot partition
        // into partial-reducer slices
        fin should include("AQEShuffleRead skewed")
      }
    }
  }
}
