package graft.ops

import graft.Sessions
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.CoalesceExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Property tests for [[Science.cumCounts]] — the one range-partitioned
  * prefix sum under every rank and ECDF statistic: q22 (Spearman ranks,
  * one channel), q124 (KS), q130 (MWU) and q135 (Gini), up to q330's
  * four channels. A sequential scan over the sorted counts is the
  * executable spec; the property must hold for ANY distinct-value frame
  * and any channel count, including empty, single-row, all-zero-channel,
  * and frames smaller than the partition count (empty range partitions),
  * on both of the prefix-sum node's paths: one task, and range partitions
  * shifted by a totals job.
  * Frames are drawn from a FIXED-seed generator so failures reproduce.
  */
class CumCountsPropSpec extends AnyFunSuite with Matchers with graft.SharedSpark
    with AdaptiveSparkPlanHelper {

  private type Frame = List[(Double, Vector[Long])]

  /** Channels 1–2 draw small counts, channels 3–4 cents-weighted sizes
    * like q330's; the draw order keeps the two-channel frames of a seed
    * unchanged. */
  private def randomFrames(seed: Long, n: Int, arity: Int): Seq[Frame] = {
    val rnd = new scala.util.Random(seed)
    (1 to n).map { _ =>
      val size = 1 + rnd.nextInt(40)
      val vs = List.fill(size)(rnd.nextInt(2001) - 1000).distinct
      vs.map(v => (v.toDouble, Vector.tabulate(arity)(j => rnd.nextInt(if (j < 2) 6 else 900).toLong)))
    }
  }

  private def toDF(rows: Frame, arity: Int) = {
    val schema = StructType(StructField("v", DoubleType) +:
      (1 to arity).map(j => StructField(s"c$j", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (v, cs) => Row.fromSeq((v: Any) +: cs) }), schema)
  }

  /** True when the prefix sum ran in one task (a CoalesceExec under it),
    * false when a range exchange fed it partitions and a totals job. */
  private def oneTask(out: DataFrame): Boolean = {
    val plan = out.queryExecution.executedPlan
    val coalesced = collect(plan) { case c: CoalesceExec => c }.nonEmpty
    val ranged = collect(plan) {
      case e: ShuffleExchangeLike if e.outputPartitioning.isInstanceOf[RangePartitioning] => e
    }.nonEmpty
    withClue(s"one of CoalesceExec and a range exchange:\n$plan\n") { coalesced should not be ranged }
    coalesced
  }

  /** The settings the property runs in, each with the path a non-empty
    * frame `g` must take there: as shipped, where AQE reads the
    * frame as one task; AQE off; and AQE splitting every non-empty
    * shuffle partition into its own task (the frames are a few hundred
    * bytes, so even a few-KB advisory size would read them as one). */
  private val settings: Seq[(String, Seq[(String, String)], DataFrame => Boolean)] = Seq(
    ("as shipped", Nil, _ => true),
    ("AQE off", Seq("spark.sql.adaptive.enabled" -> "false"), _ => false),
    ("1-byte partitions", Seq(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1b",
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "1b"),
      g => g.rdd.mapPartitions(it => Iterator(it.hasNext)).collect().count(identity) <= 1))

  /** Checks [[Science.cumCounts]] at `arity` channels against a sequential
    * scan, on hand-picked edge frames and 20 seeded random frames, in
    * each of [[settings]]. */
  private def checkPrefixSums(arity: Int): Unit = settings.foreach { case (setting, confs, expectOneTask) =>
    // hand-picked edge frames first: empty, single row, one channel
    // all-zero, a zero row between non-zero ones
    def row(v: Double, cs: Long*) = (v, Vector.tabulate(arity)(j => cs(j % cs.size)))
    val edges: Seq[Frame] = Seq(
      Nil,
      List(row(0.0, 1L, 0L)),
      List(row(1.0, 0L, 3L), row(2.0, 0L, 1L)),
      List(row(-5.0, 2L), row(0.0, 0L), row(5.0, 1L, 4L)))
    val paths = (edges ++ randomFrames(40L + arity, 20, arity)).flatMap { rows =>
      val g = toDF(rows, arity).repartition(7) // deliberately misaligned input partitioning
      val names = (1 to arity).map(j => s"c$j") ++ Seq("below") ++
        (1 to arity).map(j => s"cum$j") ++ (1 to arity).map(j => s"n$j")
      Sessions.withConfs(spark, confs: _*) {
        val out = Science.cumCounts(spark, g)
        // rows come back in v order on both paths
        val got = out.collect()
          .map(r => (r.getAs[Double]("v"), names.map(c => r.getAs[Long](c))))
        val sorted = rows.sortBy(_._1)
        val n = (0 until arity).map(j => sorted.map(_._2(j)).sum)
        val cum = Array.fill(arity)(0L)
        val want = sorted.map { case (v, cs) =>
          val below = cum.sum
          (0 until arity).foreach(j => cum(j) += cs(j))
          (v, cs ++ Seq(below) ++ cum.toSeq ++ n)
        }
        withClue(s"$setting arity=$arity frame=$rows ") {
          out.columns.toSeq shouldBe "v" +: names
          got.toSeq shouldBe want
          if (rows.isEmpty) None else {
            val path = oneTask(out)
            path shouldBe expectOneTask(g)
            Some(path)
          }
        }
      }
    }
    // the two non-default settings each reach the totals path
    if (confs.nonEmpty) withClue(s"$setting arity=$arity: ") { paths should contain(false) }
  }

  test("cumCounts equals the sequential prefix-sum spec on 20 random frames") {
    Seq(1, 2).foreach(checkPrefixSums)
  }

  // the four-channel shape q330 sums, plus three channels between
  test("cumCounts4 equals the sequential four-channel prefix-sum spec") {
    Seq(3, 4).foreach(checkPrefixSums)
  }

  test("midranks derived from cumCounts equal brute-force pooled ranks") {
    // one channel is q22's Spearman rank, in its Column arithmetic; two
    // channels pool both groups as q130/q161 do
    val rank = Map(
      1 -> (col("below").cast("double") + (col("c1") + 1) / lit(2.0)),
      2 -> expr("cast(below + (c1 + c2 + 1) / 2.0 as double)"))
    rank.foreach { case (arity, ar) =>
      randomFrames(7L, 10, arity).map(_.filter(_._2.sum > 0)).filter(_.nonEmpty)
        .foreach { pos =>
          val got = Science.cumCounts(spark, toDF(pos, arity))
            .withColumn("ar", ar)
            .collect().map(r => r.getAs[Double]("v") -> r.getAs[Double]("ar")).toMap
          // brute force: expand every (v, count) to rows, rank 1..n, avg per v
          val expanded = pos.flatMap(r => List.fill(r._2.sum.toInt)(r._1)).sorted
          val want = expanded.zipWithIndex.map { case (v, i) => (v, (i + 1).toDouble) }
            .groupBy(_._1).view.mapValues(l => l.map(_._2).sum / l.size).toMap
          withClue(s"arity=$arity frame=$pos ") {
            got.keySet shouldBe want.keySet
            got.foreach { case (v, ar) => ar shouldBe want(v) +- 1e-9 }
          }
        }
    }
  }

  test("a cumCounts frame joins with itself") {
    val cc = Science.cumCounts(spark, toDF(randomFrames(9L, 1, 2).head, 2))
    cc.as("a").join(cc.as("b"), "v").count() shouldBe cc.count()
  }
}
