package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Scalar recomputes for the round-9 additions — each query's math
  * re-derived with plain Scala collections from the same raw rows, so
  * a plan bug and an oracle bug can't agree by accident.
  */
class Round9Spec extends AnyFunSuite with Matchers with SharedSpark {

  test("q292 Neyman allocation: n_h = largest-remainder(200 · N_h·S_h / ΣN·S), sums to exactly 200") {
    val rows = Tables.documents(spark, sf)
      .select(col("lang"), col("n_chars").cast("long")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val strata = rows.groupBy(_._1).map { case (lang, xs) =>
      val n = xs.length.toLong
      val sx = xs.map(_._2).sum
      val sx2 = xs.map(x => x._2 * x._2).sum
      val sh = math.sqrt((sx2 - sx.toDouble * sx / n) / (n - 1))
      lang -> (n, sh, n * sh)
    }
    val sw = strata.values.map(_._3).sum
    val quotas = strata.map { case (l, (n, sh, wh)) => (l, n, sh, 200.0 * wh / sw) }
    val base = quotas.map { case (l, n, sh, q) => (l, n, sh, q.toLong, q - math.floor(q)) }
    val deficit = 200L - base.map(_._4).sum
    val byRem = base.toSeq.sortBy { case (l, _, _, _, rem) => (-rem, l) }
    val alloc = byRem.zipWithIndex.map { case ((l, n, sh, b, _), i) =>
      l -> (n, sh, b + (if (i < deficit) 1L else 0L))
    }.toMap
    alloc.values.map(_._3).sum shouldBe 200L

    val got = SparkEntry.queries("q292_neyman_alloc")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2), r.getLong(3), r.getLong(4)))
      .toMap
    got.keySet shouldBe alloc.keySet
    for ((l, (n, sh, nh)) <- alloc) withClue(l) {
      val (gn, gsd, galloc, gsampled) = got(l)
      gn shouldBe n
      gsd shouldBe (math.rint(sh * 1e6) / 1e6)
      galloc shouldBe nh
      // every stratum is big enough here that the allocation is honored
      gsampled shouldBe nh
    }
  }

  test("q301 ICC(1): matches a scalar one-way random-effects recompute with unbalanced k0") {
    val xs = Tables.orders(spark, sf)
      .select(col("o_orderpriority"),
        col("o_totalprice").cast("decimal(18,2)").cast("double")).collect()
      .map(r => (r.getString(0), r.getDouble(1)))
    val groups = xs.groupBy(_._1).values.map(_.map(_._2)).toSeq
    val k = groups.size.toDouble
    val n = xs.length.toDouble
    val grand = xs.map(_._2).sum / n
    val ssb = groups.map(g => g.length * math.pow(g.sum / g.length - grand, 2)).sum
    val ssw = groups.map(g => { val m = g.sum / g.length; g.map(x => (x - m) * (x - m)).sum }).sum
    val msb = ssb / (k - 1)
    val msw = ssw / (n - k)
    val sn2 = groups.map(g => g.length.toDouble * g.length).sum
    val k0 = (n - sn2 / n) / (k - 1)
    val icc = (msb - msw) / (msb + (k0 - 1) * msw)

    val r = SparkEntry.queries("q301_icc")(spark, sf).collect().head
    r.getLong(0) shouldBe k.toLong
    r.getLong(1) shouldBe n.toLong
    r.getDouble(2) shouldBe msb +- msb.abs * 1e-9 // scalar path accumulates in a different order
    r.getDouble(3) shouldBe msw +- msw.abs * 1e-9
    r.getDouble(4) shouldBe (math.rint(k0 * 1e6) / 1e6)
    r.getDouble(5) shouldBe (math.rint(icc * 1e6) / 1e6)
  }

  test("q296 contamination attribution: matches a scalar 8-gram set recompute per source") {
    val docs = Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"), col("source")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    def grams(t: String): Set[String] =
      t.split(" ").filter(_.nonEmpty).sliding(8).filter(_.length == 8)
        .map(_.mkString(" ")).toSet
    val bench = docs.filter(_._1 % 101 == 7).flatMap(d => grams(d._2)).toSet
    val corpus = docs.filter(_._1 % 101 != 7)
    val contam = corpus.filter(d => grams(d._2).exists(bench.contains)).map(_._1).toSet
    val bySource = corpus.groupBy(_._3)
    val expected = bySource.map { case (src, ds) =>
      src -> (ds.length.toLong, ds.count(d => contam(d._1)).toLong)
    }
    val got = SparkEntry.queries("q296_contamination_attr")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    got shouldBe expected
    // shares sum to 1 over the contaminated mass
    val rows = SparkEntry.queries("q296_contamination_attr")(spark, sf).collect()
    rows.map(_.getDouble(4)).sum shouldBe 1.0 +- 1e-4
    // no document is contaminated at sf0.1 (tot_contam = 0): the share
    // is NULL there, as in the oracle, not an ANSI divide-by-zero
    val sf01 = SparkEntry.queries("q296_contamination_attr")(spark,
      s"${new java.io.File(sf).getParent}/sf0.1").collect()
    sf01 should not be empty
    sf01.map(_.getLong(2)).sum shouldBe 0L
    sf01.foreach(r => r.isNullAt(4) shouldBe true)
  }

  test("q297 bootstrap-median CI: brackets the observed median and matches a scalar resample") {
    val out = SparkEntry.queries("q297_bootstrap_median")(spark, sf).collect()
    out.length should be > 0
    for (r <- out) withClue(r.getString(0)) {
      val (med, lo, hi) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      lo should be <= hi
      // percentile-bootstrap CI of a median contains the point estimate
      // for any non-degenerate resample distribution
      med should be >= lo - 1e-9
      med should be <= hi + 1e-9
    }
    // scalar recompute of one type's resample medians via the same
    // md5-mod index discipline
    val daily = Tables.events(spark, sf)
      .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("vd"))
      .orderBy(col("day"))
    val ty = out.head.getString(0)
    val vs = daily.filter(col("event_type") === ty).collect()
      .map(_.getDecimal(2).doubleValue())
    val n = vs.length
    def md5mod(sstr: String, m: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(sstr.getBytes("UTF-8"))
      val hex = d.map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16) % m
    }
    def median(a: Seq[Double]): Double = {
      val s = a.sorted; val h = (s.length - 1) / 2.0
      val (i, j) = (math.floor(h).toInt, math.ceil(h).toInt)
      (s(i) + s(j)) / 2.0
    }
    val meds = (1 to 200).map { b =>
      median((1 to n).map(i => vs(md5mod(s"bsm|$ty|$b|$i", n).toInt)))
    }.sorted
    def pct(p: Double): Double = {
      val h = p * (meds.length - 1)
      val (i, j) = (math.floor(h).toInt, math.ceil(h).toInt)
      meds(i) + (h - i) * (meds(j) - meds(i))
    }
    out.head.getDouble(3) shouldBe (math.rint(pct(0.025) * 1e6) / 1e6)
    out.head.getDouble(4) shouldBe (math.rint(pct(0.975) * 1e6) / 1e6)
  }

  test("q293 GROUP BY ALL + FILTER: cells match a scalar recompute from raw events") {
    val raw = Tables.events(spark, sf)
      .select(col("event_type"), col("ts").cast("date").cast("string"),
        col("value"), col("user_id")).collect()
      .map(r => (r.getString(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getLong(3)))
    val expected = raw.groupBy(t => (t._1, t._2)).map { case (kv, ts) =>
      val hi = ts.filter(_._3.exists(_ > 100))
      val sumHi = hi.flatMap(_._3).map(v => BigDecimal(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)).sum
      kv -> (ts.length.toLong, hi.length.toLong, sumHi.toDouble, ts.map(_._4).distinct.length.toLong)
    }
    val got = SparkEntry.queries("q293_groupby_all")(spark, sf).collect()
      .map(r => (r.getString(0), r.getDate(1).toString) ->
        (r.getLong(2), r.getLong(3), r.getDouble(4), r.getLong(5))).toMap
    got.keySet shouldBe expected.keySet
    for ((k, (nEv, nHi, sHi, nU)) <- expected) withClue(k) {
      got(k)._1 shouldBe nEv
      got(k)._2 shouldBe nHi
      got(k)._3 shouldBe sHi +- 1e-6
      got(k)._4 shouldBe nU
    }
  }
}
