package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Bit-parity and contract tests for the native `md5_mod` expression:
  * it must be indistinguishable from the built-in chain
  * `cast(conv(substr(md5(cast(s as binary)), 1, 15), 16, 10) as bigint) % m`
  * it replaces — same values on the codegen AND interpreted paths,
  * same NULL contract — plus a definitional recompute through
  * java.security.MessageDigest.
  */
class Md5ModSpec extends AnyFunSuite with Matchers with SharedSpark {

  private lazy val df = {
    import spark.implicits._
    org.apache.spark.sql.GraftFunctions.register(spark)
    Seq("", "a", "abc", "hello world", "ünïcödé ✓ 的是不", "1|2|3",
      "sf|42|2024-01-05", (1 to 100).map(_ => "x").mkString)
      .toDF("s")
  }

  test("md5_mod matches the built-in md5→substr→conv chain for several moduli") {
    for (m <- Seq(2L, 10L, 100L, 1024L, 1000003L)) {
      val bad = df
        .withColumn("native", expr(s"md5_mod(s, ${m}L)"))
        .withColumn("chain", expr(
          s"cast(conv(substr(md5(cast(s as binary)), 1, 15), 16, 10) as bigint) % $m"))
        .filter(col("native") =!= col("chain"))
        .count()
      withClue(s"m=$m: ") { bad shouldBe 0L }
    }
  }

  test("md5_mod matches the chain on 200 seeded random strings (ascii + unicode + long)") {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val pool = "abz019 |:_-\t的是ünï✓" // includes separators the split idioms use
    val strs = (1 to 200).map { _ =>
      val n = rnd.nextInt(40)
      (1 to n).map(_ => pool(rnd.nextInt(pool.length))).mkString
    }.distinct
    val d2 = strs.toDF("s")
    val bad = d2
      .withColumn("native", expr("md5_mod(s, 1000003L)"))
      .withColumn("chain", expr(
        "cast(conv(substr(md5(cast(s as binary)), 1, 15), 16, 10) as bigint) % 1000003"))
      .filter(col("native") =!= col("chain")).count()
    bad shouldBe 0L
  }

  test("md5_mod accepts an INT modulus via implicit cast (the natural spelling)") {
    val bad = df
      .withColumn("a", expr("md5_mod(s, 64)"))   // INT literal
      .withColumn("b", expr("md5_mod(s, 64L)"))  // BIGINT literal
      .filter(col("a") =!= col("b")).count()
    bad shouldBe 0L
  }

  test("md5_mod matches a definitional MessageDigest recompute (covers the eval path)") {
    val expected = df.collect().map(_.getString(0)).map { s =>
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      s -> java.lang.Long.parseLong(h.substring(0, 15), 16) % 1024L
    }.toMap
    // interpreted path: evaluate the expression directly, no codegen
    val e = graft.functions.Md5Mod(
      org.apache.spark.sql.catalyst.expressions.Literal.create(null,
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.catalyst.expressions.Literal(1024L))
    assert(e.eval(null) == null) // NULL in → NULL out
    expected.foreach { case (s, want) =>
      val ex = graft.functions.Md5Mod(
        org.apache.spark.sql.catalyst.expressions.Literal(
          org.apache.spark.unsafe.types.UTF8String.fromString(s)),
        org.apache.spark.sql.catalyst.expressions.Literal(1024L))
      withClue(s"s=$s (interpreted): ") { ex.eval(null) shouldBe want }
    }
    // codegen path through the DataFrame API agrees with the map too
    val got = df.withColumn("h", expr("md5_mod(s, 1024L)")).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    got shouldBe expected
  }

  test("md5_mod returns NULL on a zero modulus, matching the Remainder chain (both paths)") {
    // interpreted path
    val e = graft.functions.Md5Mod(
      org.apache.spark.sql.catalyst.expressions.Literal(
        org.apache.spark.unsafe.types.UTF8String.fromString("abc")),
      org.apache.spark.sql.catalyst.expressions.Literal(0L))
    assert(e.eval(null) == null)
    // codegen path: md5_mod is NULL on m=0 regardless of mode
    df.withColumn("native", expr("md5_mod(s, 0L)"))
      .select(col("native")).collect()
      .foreach(r => assert(r.isNullAt(0)))
    // and next to the chain it claims parity with, under the chain's
    // NULL-returning (non-ANSI) remainder semantics
    Sessions.withConfs(spark, "spark.sql.ansi.enabled" -> "false") {
      val rows = df
        .withColumn("native", expr("md5_mod(s, 0L)"))
        .withColumn("chain", expr(
          "cast(conv(substr(md5(cast(s as binary)), 1, 15), 16, 10) as bigint) % 0"))
        .select(col("native"), col("chain"))
        .collect()
      rows.foreach { r => assert(r.isNullAt(0) && r.isNullAt(1)) }
    }
  }
}
