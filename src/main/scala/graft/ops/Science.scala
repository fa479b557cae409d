package graft.ops

import graft.{QueryPack, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-4 pack: ranked retrieval (BM25), distribution tests (KS,
  * Welch t, Mann–Whitney U), changepoint detection (CUSUM), ANN index
  * QUALITY evaluation (recall@k of the LSH index vs exact top-k),
  * rolling distinct actives, Benford digit profiling, Jensen–Shannon
  * domain divergence, Theil–Sen robust trend, and skyline (Pareto)
  * extraction.
  *
  * Scale notes (100 TB north star):
  *  - Every statistic is computed over a CONTRACTED frame first:
  *    KS/MWU group the raw values to per-distinct-value counts, then —
  *    because a continuous `value` keeps the contracted frame
  *    data-sized — their cumsums/midranks ride [[cumCounts]]'
  *    range-partitioned prefix sums, NEVER an unpartitioned global
  *    window; CUSUM/Theil–Sen contract events to daily counts (the
  *    post-agg frame is ≤#days, so their windows are bounded);
  *    JSD/BM25 contract the corpus to (token, count) cells; Benford to
  *    9 digit cells; skyline to one candidate per p_size. The fact
  *    table is touched by exactly one partial-agg shuffle each; BM25's
  *    top-20 is TakeOrderedAndProject, not a corpus-sized rank window.
  *  - q126 evaluates the q55-style LSH index against exact top-k
  *    ground truth ON A PROBE SAMPLE — the standard way to tune
  *    (#planes, #tables) before committing a billion-vector index.
  *  - q133's skyline never self-joins the raw table: per-size min
  *    contraction (one shuffle) then an O(s²) dominance anti-join on
  *    the ≤|distinct sizes| candidates, broadcast.
  *  - Float determinism follows SURVEY §4.3: per-term quantization to
  *    DECIMAL before distributed sums; composites computed from RAW
  *    ratios; round(…,6) on OUTPUT columns only.
  */
object Science extends QueryPack {

  /** Shared tokenizer — identical to Text.scala's (split on single
    * space, drop empties); the DuckDB mirror is string_split+unnest. */
  private def toks(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.documents(s, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")

  /** Range-partitioned prefix sums over per-distinct-value counts
    * `(v, c1..cN)`, one or more long channels, the arity read off `g`'s
    * columns. This replaces the unpartitioned global cumsum window that
    * would sort a data-sized frame on ONE task. The frame is lazy: one
    * [[graft.plans.PrefixSum]] plan node, which starts no job while the
    * DataFrame is built. When it runs, an input AQE has measured as one
    * task's worth is summed in that task; a larger one is
    * range-partitioned by value, summed per partition, and each partition
    * shifted by the totals of the partitions before it (one job collects
    * #partitions total vectors — a constant, not data-sized). Returns one
    * row per distinct v: `v, c1..cN`, the EXCLUSIVE count of rows
    * strictly below v over all channels (`below`), the INCLUSIVE
    * cumulative counts `cum1..cumN`, and the grand totals `n1..nN` on
    * every row. Exact long arithmetic; non-null columns.
    */
  private[ops] def cumCounts(s: org.apache.spark.sql.SparkSession,
                             g: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cs = Iterator.from(1).map(i => s"c$i").takeWhile(g.columns.contains).toVector
    val in = g.select(col("v").cast("double") +: cs.map(col(_).cast("long")): _*)
    org.apache.spark.sql.GraftFunctions.withPlan(in)(graft.plans.PrefixSum.of)
  }

  /** The one-row rank-sum statistics q161 (Kruskal–Wallis) and q340
    * (Dunn) share over `events.value` in the view/click/purchase groups:
    * group sizes `n1..n3`, midrank sums `r1..r3` (quantized to
    * DECIMAL(28,6) before the distributed sum), the tie term
    * `ties` = Σ(t³−t) (DECIMAL(38,0), so it cannot overflow) and
    * `nt` = n1 + n2 + n3. One value groupBy contracts the table to
    * per-distinct-value group counts; [[cumCounts]] supplies `below`, and
    * the midrank is below + (ct+1)/2. */
  private def groupRankSums(s: org.apache.spark.sql.SparkSession,
                        dir: String): org.apache.spark.sql.DataFrame = {
    val g = Tables.events(s, dir)
      .filter(col("event_type").isin("view", "click", "purchase") && col("value").isNotNull)
      .groupBy(col("value").as("v"))
      .agg(sum(when(col("event_type") === "view", 1).otherwise(0)).as("g1"),
        sum(when(col("event_type") === "click", 1).otherwise(0)).as("g2"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("g3"))
      .localCheckpoint() // consumed twice: cumCounts pass + midrank join
    val below = cumCounts(s, g.select(col("v"), (col("g1") + col("g2") + col("g3")).as("c1")))
      .select(col("v"), col("below"))
    g.join(below, "v")
      .withColumn("ct", col("g1") + col("g2") + col("g3"))
      .withColumn("ar", expr("below + (ct + 1) / 2.0"))
      .agg(sum(col("g1")).as("n1"), sum(col("g2")).as("n2"), sum(col("g3")).as("n3"),
        sum(expr("cast(ar * g1 as decimal(28,6))")).as("r1"),
        sum(expr("cast(ar * g2 as decimal(28,6))")).as("r2"),
        sum(expr("cast(ar * g3 as decimal(28,6))")).as("r3"),
        sum(expr("cast(ct * ct * ct - ct as decimal(38,0))")).as("ties"))
      .withColumn("nt", col("n1") + col("n2") + col("n3"))
  }

  def queries: Map[String, Q] = Map(
    // ------------------------------------------------------------------
    // BM25 ranked retrieval (k1=1.2, b=0.75) for a fixed 3-term query:
    // tf and dl contract the corpus in one tokenize+groupBy pass; df
    // and avgdl are tiny aggregates; the per-(doc,term) score is
    // quantized to DECIMAL(28,12) before the per-doc sum so partial-agg
    // merge order can never move a ULP, and the top-20 ranking orders
    // by that exact decimal. ln() and raw-ratio composites per §4.3.
    "q123_bm25" -> ((s, dir) => {
      val t = toks(s, dir)
      val dl = t.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
        .localCheckpoint() // consumed twice: corpus stats + per-doc norm
      val stats = dl.agg(count(lit(1)).as("n"),
        sum(col("dl")).as("sumdl"))
      val tf = t.filter(col("tok").isin("spark", "join", "filter"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val scored = tf.join(broadcast(df), "tok")
        .join(dl, "doc_id").crossJoin(broadcast(stats))
        .withColumn("term_score", expr(
          "cast(ln((n - df + 0.5) / (df + 0.5) + 1.0) * " +
            "(tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl) / (cast(sumdl as double) / n))) " +
            "as decimal(28,12))"))
        .groupBy(col("doc_id"))
        .agg(sum(col("term_score")).as("score_x"), max(col("dl")).as("dl"))
      // top-20 via orderBy+limit → TakeOrderedAndProject (distributed
      // per-partition heaps + driver merge of 20-row tails), NOT a
      // global row_number window over every matching doc — that window
      // is corpus-sized for common terms and sorts it on one task
      // (q92's documented pattern, Text.scala). The rank window after
      // the limit runs on exactly 20 rows.
      val top = scored.orderBy(col("score_x").desc, col("doc_id")).limit(20)
      top.withColumn("rank",
          row_number().over(Window.orderBy(col("score_x").desc, col("doc_id"))))
        .select(col("rank"), col("doc_id"), col("dl"),
          round(col("score_x").cast("double"), 6).as("score"))
        .orderBy(col("rank"))
    }),

    // ------------------------------------------------------------------
    // Two-sample Kolmogorov–Smirnov: D = max |ECDF_view − ECDF_click|
    // over `value`. The raw rows contract to per-distinct-value counts
    // first (one shuffle); the ECDF cumsums then come from cumCounts'
    // RANGE-PARTITIONED prefix sums — `value` is a continuous double,
    // so the "contracted" frame still scales ~linearly with data and a
    // global unpartitioned window would sort it all on one task.
    // NULL values are excluded EXPLICITLY on both engines (Spark sorts
    // NULLS FIRST, DuckDB NULLS LAST — parity must not depend on the
    // driver's data never being NULL). Integer cumsums + exactly-
    // rounded IEEE divisions → the D grid is bit-identical across
    // engines; round only on output.
    "q124_ks_test" -> ((s, dir) => {
      val g = Tables.events(s, dir)
        .filter(col("event_type").isin("view", "click") && col("value").isNotNull)
        .groupBy(col("value").as("v"))
        .agg(sum(when(col("event_type") === "view", 1).otherwise(0)).as("c1"),
          sum(when(col("event_type") === "click", 1).otherwise(0)).as("c2"))
      cumCounts(s, g)
        .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          max(expr("abs(cast(cum1 as double) / n1 - cast(cum2 as double) / n2)")).as("d_raw"))
        .select(col("n1"), col("n2"), round(col("d_raw"), 6).as("ks_d"),
          round(expr("sqrt(cast(n1 as double) * n2 / (n1 + n2)) * d_raw"), 6).as("ks_stat"))
    }),

    // ------------------------------------------------------------------
    // CUSUM changepoint over the daily event counts: S_i = cum_i − i·μ
    // computed CLOSED-FORM from the exact integer cumsum (never a
    // running float sum, so no accumulation-order drift); the
    // changepoint is argmax |S_i| with earliest-day tie-break. Daily
    // contraction is the only fact-table shuffle.
    "q125_changepoint" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint() // window branch + broadcast total both consume it
      val wd = Window.orderBy(col("day"))
      val cum = daily
        .withColumn("i", row_number().over(wd))
        .withColumn("cum", sum(col("n")).over(wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .crossJoin(broadcast(daily.agg(count(lit(1)).as("nd"), sum(col("n")).as("tot"))))
        .withColumn("s_raw", expr("cast(cum as double) - (cast(i as double) * tot) / nd"))
      cum.withColumn("rk", row_number().over(Window.orderBy(abs(col("s_raw")).desc, col("day"))))
        .filter(col("rk") === 1)
        .select(col("day").as("cp_day"), col("n").as("n_that_day"),
          round(col("s_raw"), 6).as("cusum"), col("nd").as("n_days"), col("tot").as("n_events"))
    }),

    // ------------------------------------------------------------------
    // ANN index QUALITY: recall@10 of a 6-plane sign-random-projection
    // LSH table (q55's md5-weight construction, 64 buckets) against
    // exact cosine top-10 ground truth, per probe. The exact side runs
    // only over the 20-probe sample (broadcast), never all-pairs; the
    // LSH side is the one-shuffle bucket build. This is the
    // measure-then-tune step a billion-vector index deploy runs.
    "q126_ann_recall" -> ((s, dir) => {
      val planes = s.range(0, 6).select(col("id").cast("int").as("j"))
        .crossJoin(s.range(1, 65).select(col("id").cast("int").as("d")))
        .withColumn("w2", expr(
          "2 * (position(substr(md5(cast(concat(cast(j as string), '_', cast(d as string)) as binary)), 1, 1), '0123456789abcdef') - 1) - 15"))
      val buckets = Tables.embeddings(s, dir)
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .select(col("vec_id"), (col("pos") + 1).as("d"),
          expr("cast(floor(cast(x as double) * 1000000) as bigint)").as("xq"))
        .join(broadcast(planes), "d")
        .groupBy(col("vec_id"), col("j"))
        .agg(sum(col("xq") * col("w2")).as("dot"))
        .withColumn("bit", expr("CASE WHEN dot >= 0 THEN cast(1 as bigint) ELSE cast(0 as bigint) END"))
        .groupBy(col("vec_id"))
        .agg(sum(expr("shiftleft(bit, j)")).as("bucket"))
        .localCheckpoint() // probes + corpus side both consume it
      val e = Tables.embeddings(s, dir)
      val probes = e.filter(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
      val wTruth = Window.partitionBy(col("probe_id")).orderBy(col("cos").desc, col("vec_id"))
      val truth = e.crossJoin(broadcast(probes))
        .filter(col("vec_id") =!= col("probe_id"))
        .withColumn("cos", round(expr("cosine_sim(embedding, p_emb)"), 6))
        .withColumn("rn", row_number().over(wTruth))
        .filter(col("rn") <= 10)
        .select(col("probe_id"), col("vec_id"))
      val cand = buckets.filter(col("vec_id") < 20)
        .select(col("vec_id").as("probe_id"), col("bucket"))
        .join(buckets, "bucket")
        .filter(col("vec_id") =!= col("probe_id"))
        .select(col("probe_id"), col("vec_id"))
        .localCheckpoint() // counted + intersected
      val nCand = cand.groupBy(col("probe_id")).agg(count(lit(1)).as("n_cand"))
      val hits = truth.join(cand, Seq("probe_id", "vec_id"), "left_semi")
        .groupBy(col("probe_id")).agg(count(lit(1)).as("n_hit"))
      truth.select(col("probe_id")).distinct()
        .join(nCand, Seq("probe_id"), "left").join(hits, Seq("probe_id"), "left")
        .select(col("probe_id"),
          coalesce(col("n_cand"), lit(0L)).as("n_cand"),
          coalesce(col("n_hit"), lit(0L)).as("n_hit"),
          round(coalesce(col("n_hit"), lit(0L)).cast("double") / 10.0, 6).as("recall_at_10"))
        .orderBy(col("probe_id"))
    }),

    // ------------------------------------------------------------------
    // Rolling 7-day distinct actives per day (DAU + trailing WAU):
    // exact sliding DISTINCT cannot merge per-day partials, so the
    // correct distributed plan is the interval join — the tiny day
    // spine (≤31 rows) broadcasts against the fact table and the
    // count-distinct shuffle is keyed by day. (The approximate path at
    // 100 TB is per-day HLL sketches merged over the window — q13.)
    "q127_rolling_distinct" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("ts").cast("date").as("eday"), col("user_id"))
      val days = ev.select(col("eday").as("day")).distinct()
      ev.join(broadcast(days), expr("day >= eday AND datediff(day, eday) <= 6"))
        .groupBy(col("day"))
        .agg(countDistinct(when(col("eday") === col("day"), col("user_id"))).as("dau"),
          countDistinct(col("user_id")).as("wau7"))
        .orderBy(col("day"))
    }),

    // ------------------------------------------------------------------
    // q127's rolling 7-day distinct, SKETCHED: one HLL sketch per day
    // (hll_sketch_agg, lgK=12), then each day's trailing week is a
    // 7-sketch hll_union_agg MERGE — at 100 TB the exact path rescans
    // a week of raw events per day while this path persists #days tiny
    // binary sketches and merges 7 of them, the canonical
    // sketch-per-bucket rollup. Same bounded day-range join shape as
    // q127 (no window). Oracle-gated like q240: exact trailing-week
    // distinct + the accuracy-bound bool; Round6bSpec asserts the
    // per-day estimates and union-vs-direct mergeability.
    "q241_hll_rolling" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("ts").cast("date").as("eday"), col("user_id"))
      val days = ev.select(col("eday").as("day")).distinct()
      val exact = ev
        .join(broadcast(days), expr("day >= eday AND datediff(day, eday) <= 6"))
        .groupBy(col("day")).agg(countDistinct(col("user_id")).as("exact_wau7"))
      val est = ev.groupBy(col("eday"))
        .agg(expr("hll_sketch_agg(user_id, 12)").as("sk"))
        .join(broadcast(days), expr("day >= eday AND datediff(day, eday) <= 6"))
        .groupBy(col("day"))
        .agg(expr("cast(hll_sketch_estimate(hll_union_agg(sk)) as double)").as("est"))
      exact.join(est, "day")
        .select(col("day"), col("exact_wau7"),
          (abs(col("est") - col("exact_wau7")) <=
            greatest(lit(3.0), lit(0.09) * col("exact_wau7"))).as("hll_ok"))
        .orderBy(col("day"))
    }),

    // ------------------------------------------------------------------
    // Welch's two-sample t-test (view vs click `value`): per-group
    // n/mean/var in ONE partial-agg pass, then the t statistic and
    // Welch–Satterthwaite df as scalar composites of the RAW moments
    // (round on output only, §4.3).
    "q128_welch_ttest" -> ((s, dir) => {
      // n1/n2 count the VALUE (NULL-skipping), not the row: a NULL
      // value is invisible to avg/var_samp, so counting it into n
      // would silently misweight v/n in t and the W–S df. Same
      // robustness contract as q124/q130's explicit NULL exclusion.
      Tables.events(s, dir)
        .filter(col("event_type").isin("view", "click"))
        .groupBy()
        .agg(
          count(when(col("event_type") === "view", col("value"))).as("n1"),
          count(when(col("event_type") === "click", col("value"))).as("n2"),
          avg(when(col("event_type") === "view", col("value"))).as("m1"),
          avg(when(col("event_type") === "click", col("value"))).as("m2"),
          var_samp(when(col("event_type") === "view", col("value"))).as("v1"),
          var_samp(when(col("event_type") === "click", col("value"))).as("v2"))
        .select(col("n1"), col("n2"),
          round(col("m1"), 6).as("mean_view"), round(col("m2"), 6).as("mean_click"),
          round(expr("(m1 - m2) / sqrt(v1 / n1 + v2 / n2)"), 6).as("t_stat"),
          round(expr("pow(v1 / n1 + v2 / n2, 2) / (pow(v1 / n1, 2) / (n1 - 1) + pow(v2 / n2, 2) / (n2 - 1))"), 6).as("welch_df"))
    }),

    // ------------------------------------------------------------------
    // Benford first-digit profile of o_totalprice: 9-cell contraction,
    // observed share vs Benford's log expectation, per-digit z-ish
    // deviation — the classic fraud/corruption screen over a money
    // column. floor→BIGINT→string avoids DuckDB's round-on-cast trap.
    "q129_benford" -> ((s, dir) => {
      val d = Tables.orders(s, dir)
        .filter(col("o_totalprice") >= 1)
        .select(expr("cast(substr(cast(cast(floor(o_totalprice) as bigint) as string), 1, 1) as int)").as("digit"))
        .groupBy(col("digit")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // 9-cell frame: share branch + broadcast total
      d.crossJoin(broadcast(d.agg(sum(col("cnt")).as("n"))))
        .withColumn("obs", expr("cast(cnt as double) / n"))
        .withColumn("exp", expr("ln(1.0 + 1.0 / digit) / ln(10.0)"))
        .select(col("digit"), col("cnt"), col("n"),
          round(col("obs"), 6).as("obs_share"),
          round(col("exp"), 6).as("benford_share"),
          round(expr("(obs - exp) / sqrt(exp * (1.0 - exp) / n)"), 6).as("z_dev"))
        .orderBy(col("digit"))
    }),

    // ------------------------------------------------------------------
    // Mann–Whitney U (view vs click `value`): pooled midranks derived
    // CLOSED-FORM from the per-distinct-value contraction — the avg
    // rank of a tied block is (#rows strictly below) + (ties+1)/2, so
    // no row-level rank assignment ever happens: the fact table is
    // touched by ONE groupBy shuffle and the midranks ride cumCounts'
    // range-partitioned prefix sums (never a raw-row global
    // row_number, which would sort the pooled fact table on one task).
    // `below` is an exact integer and (c1+c2+1)/2.0 a half-integer, so
    // ar is exact in double and the rank sums ride a DECIMAL sum. U
    // and the normal-approximation z are scalar composites of exact
    // terms. NULL values excluded explicitly on both engines (same
    // contract as q124).
    "q130_mann_whitney" -> ((s, dir) => {
      val g = Tables.events(s, dir)
        .filter(col("event_type").isin("view", "click") && col("value").isNotNull)
        .groupBy(col("value").as("v"))
        .agg(sum(when(col("event_type") === "view", 1).otherwise(0)).as("c1"),
          sum(when(col("event_type") === "click", 1).otherwise(0)).as("c2"))
      cumCounts(s, g)
        .withColumn("ar", expr("below + (c1 + c2 + 1) / 2.0"))
        .agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"),
          sum(expr("cast(ar * c1 as decimal(28,6))")).as("r1x"))
        .select(col("n1"), col("n2"),
          round(col("r1x").cast("double"), 6).as("rank_sum_view"),
          round(expr("cast(r1x as double) - cast(n1 as double) * (n1 + 1) / 2.0"), 6).as("u_stat"),
          round(expr("(cast(r1x as double) - cast(n1 as double) * (n1 + 1) / 2.0 - cast(n1 as double) * n2 / 2.0) / sqrt(cast(n1 as double) * n2 * (n1 + n2 + 1) / 12.0)"), 6).as("z_stat"))
    }),

    // ------------------------------------------------------------------
    // Jensen–Shannon divergence between the src0 and src1 token
    // distributions: one tokenize+groupBy contraction to (tok, c1, c2)
    // cells, per-token contribution from RAW ratios quantized to
    // DECIMAL(28,12) before the sum (zero-count sides contribute 0 —
    // the p·ln(p/m) limit), reported in nats and bits.
    "q131_jsd_domains" -> ((s, dir) => {
      val c = Tables.documents(s, dir)
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("tok"))
        .agg(sum(when(col("source") === "src0", 1).otherwise(0)).as("c1"),
          sum(when(col("source") === "src1", 1).otherwise(0)).as("c2"))
        .localCheckpoint() // term branch + broadcast totals both consume it
      c.crossJoin(broadcast(c.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))))
        .withColumn("term", expr(
          "cast(0.5 * (CASE WHEN c1 > 0 THEN (cast(c1 as double) / n1) * ln((cast(c1 as double) / n1) / ((cast(c1 as double) / n1 + cast(c2 as double) / n2) / 2.0)) ELSE 0.0 END "
            + "+ CASE WHEN c2 > 0 THEN (cast(c2 as double) / n2) * ln((cast(c2 as double) / n2) / ((cast(c1 as double) / n1 + cast(c2 as double) / n2) / 2.0)) ELSE 0.0 END) "
            + "as decimal(28,12))"))
        .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          count(lit(1)).as("vocab"), sum(col("term")).as("jsd_x"))
        .select(col("n1"), col("n2"), col("vocab"),
          round(col("jsd_x").cast("double"), 6).as("jsd_nats"),
          round(expr("cast(jsd_x as double) / ln(2.0)"), 6).as("jsd_bits"))
    }),

    // ------------------------------------------------------------------
    // Theil–Sen robust trend per event_type over daily counts: the
    // fact table contracts to ≤31 daily cells per type, pairwise
    // slopes are an O(d²) self-join on that bounded frame (broadcast,
    // never on raw rows), and the estimator is the exact-interpolation
    // median of slopes.
    "q132_theil_sen" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type").as("et"), col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("n"))
        .withColumn("i", expr("datediff(day, date'2024-01-01')"))
        .localCheckpoint() // both sides of the pair join
      val a = daily.select(col("et"), col("i").as("ia"), col("n").as("na"))
      val b = daily.select(col("et").as("etb"), col("i").as("ib"), col("n").as("nb"))
      a.join(broadcast(b), col("et") === col("etb") && col("ia") < col("ib"))
        .withColumn("slope", expr("cast(nb - na as double) / (ib - ia)"))
        .groupBy(col("et"))
        .agg(count(lit(1)).as("n_pairs"),
          round(expr("percentile(slope, 0.5)"), 6).as("ts_slope"))
        .orderBy(col("et"))
    }),

    // ------------------------------------------------------------------
    // Skyline (Pareto frontier) of parts — maximize p_size, minimize
    // p_retailprice: per-size min-price contraction (one shuffle, ≤
    // |distinct sizes| candidates), O(s²) dominance anti-join on the
    // broadcast candidate set, then re-expansion to the full part rows
    // on the frontier. The raw table is never self-joined.
    "q133_skyline" -> ((s, dir) => {
      val p = Tables.part(s, dir)
      val cand = p.groupBy(col("p_size").as("sz"))
        .agg(min(col("p_retailprice")).as("bp"))
        .localCheckpoint() // both sides of the dominance join + expansion
      val dom = cand.select(col("sz").as("szb"), col("bp").as("bpb"))
      val sky = cand.join(broadcast(dom),
          col("szb") > col("sz") && col("bpb") <= col("bp"), "left_anti")
      p.join(broadcast(sky),
          col("p_size") === col("sz") && col("p_retailprice") === col("bp"))
        .select(col("p_partkey"), col("p_size"), col("p_retailprice"))
        .orderBy(col("p_size"), col("p_partkey"))
    }),

    // ------------------------------------------------------------------
    // Kruskal–Wallis H (k=3 groups: view/click/purchase on value) with
    // the tie correction. Midranks ride the SAME scale path as q130:
    // contract the fact table to per-distinct-value group counts (one
    // partial-agg shuffle), then [[cumCounts]]' range-partitioned
    // prefix sums supply `below` and the midrank is closed-form
    // below + (ct+1)/2 — no raw-row rank window anywhere. Rank sums
    // are quantized to DECIMAL(28,6) before the distributed sum; the
    // tie term Σ(t³−t) is per-row long arithmetic summed in
    // DECIMAL(38,0) so the total can never overflow.
    "q161_kruskal_wallis" -> ((s, dir) => {
      groupRankSums(s, dir)
        .withColumn("h_raw", expr(
          "12.0 / (cast(nt as double) * (nt + 1)) * " +
            "(cast(r1 as double) * cast(r1 as double) / n1 + " +
            "cast(r2 as double) * cast(r2 as double) / n2 + " +
            "cast(r3 as double) * cast(r3 as double) / n3) - 3.0 * (nt + 1)"))
        .withColumn("tie_c", expr(
          "1.0 - cast(ties as double) / (cast(nt as double) * nt * nt - nt)"))
        .select(col("n1"), col("n2"), col("n3"),
          round(col("h_raw"), 6).as("h_stat"),
          round(expr("h_raw / tie_c"), 6).as("h_adj"))
    }),

    // ------------------------------------------------------------------
    // Negative-binomial MoM fit on PER-USER event counts (with genuine
    // zeros) — the count-model step after q288's per-day dispersion
    // flag: per (user, type) counts INCLUDING the zero cells (one
    // conditional per-user contraction, then an in-row 5-struct
    // explode — no user×type grid join), r̂ = m²/(s²−m), p̂ = r̂/(r̂+m),
    // and the FIT CHECK the MoM identity can't fake: NB-predicted
    // P(0) = (1+m/r̂)^(−r̂) composed via exp/ln (never pow) vs the
    // OBSERVED zero share. Under-dispersed types (s² ≤ m) emit NULL
    // fit columns instead of a bogus negative r̂.
    "q345_negbin_fit" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("cv"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("cc"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("cp"),
          sum(when(col("event_type") === "signup", 1L).otherwise(0L)).as("cs"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("ce"))
        .select(explode(expr(
          "array(named_struct('event_type', 'view', 'c', cv), " +
            "named_struct('event_type', 'click', 'c', cc), " +
            "named_struct('event_type', 'purchase', 'c', cp), " +
            "named_struct('event_type', 'signup', 'c', cs), " +
            "named_struct('event_type', 'error', 'c', ce))")).as("x"))
        .select(col("x.event_type").as("event_type"), col("x.c").as("c"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), sum(col("c")).as("sc"),
          sum(expr("c * c")).as("sq"),
          sum(when(col("c") === 0, 1L).otherwise(0L)).as("zeros"))
        .withColumn("m", expr("cast(sc as double) / n"))
        .withColumn("v", expr("(cast(sq as double) - cast(sc as double) * sc / n) / (n - 1)"))
        .withColumn("r", expr("CASE WHEN v > m THEN m * m / (v - m) ELSE cast(null as double) END"))
        .selectExpr("event_type", "n AS n_users",
          "round(m, 6) AS mean_c", "round(v, 6) AS var_c",
          "round(v / m, 6) AS dispersion",
          "round(r, 6) AS nb_r",
          "round(r / (r + m), 6) AS nb_p",
          "round(exp(-r * ln(1.0d + m / r)), 6) AS p0_pred",
          "round(cast(zeros as double) / n, 6) AS p0_obs")
        .orderBy(col("event_type"))
    }),

    // ------------------------------------------------------------------
    // Dunn's post-hoc — the pairwise follow-up Kruskal–Wallis q161
    // stops short of (a significant H says "some group differs"; Dunn
    // says WHICH, on the POOLED midranks with the tie correction, the
    // nonparametric sibling of q316's Tukey HSD): z_ij = (R̄_i − R̄_j) /
    // √[(N(N+1)/12 − ΣT/(12(N−1)))(1/n_i + 1/n_j)], two-sided p via
    // Zelen–Severo, Bonferroni-gated at α/3 (the convention for Dunn;
    // q337 carries the step-down variant). Rides q161's exact
    // contraction + cumCounts midranks — ONE value groupBy is the only
    // data-sized stage; the 3 pair rows explode from the 1-row
    // sufficient-statistics frame.
    "q340_dunn_posthoc" -> ((s, dir) => {
      groupRankSums(s, dir)
        .withColumn("s2", expr(
          "cast(nt as double) * (nt + 1) / 12.0d - cast(ties as double) / (12.0d * (nt - 1))"))
        .withColumn("pr", explode(expr(
          "array(named_struct('ga', 'view', 'gb', 'click', 'i', 1, 'j', 2), " +
            "named_struct('ga', 'view', 'gb', 'purchase', 'i', 1, 'j', 3), " +
            "named_struct('ga', 'click', 'gb', 'purchase', 'i', 2, 'j', 3))")))
        .withColumn("na", expr("CASE pr.i WHEN 1 THEN n1 WHEN 2 THEN n2 ELSE n3 END"))
        .withColumn("nb", expr("CASE pr.j WHEN 1 THEN n1 WHEN 2 THEN n2 ELSE n3 END"))
        .withColumn("ma", expr(
          "CASE pr.i WHEN 1 THEN cast(r1 as double) / n1 WHEN 2 THEN cast(r2 as double) / n2 ELSE cast(r3 as double) / n3 END"))
        .withColumn("mb", expr(
          "CASE pr.j WHEN 1 THEN cast(r1 as double) / n1 WHEN 2 THEN cast(r2 as double) / n2 ELSE cast(r3 as double) / n3 END"))
        .withColumn("z", expr("(ma - mb) / sqrt(s2 * (1.0d / na + 1.0d / nb))"))
        .withColumn("t", expr("1.0d / (1.0d + 0.2316419d * abs(z))"))
        .withColumn("p", expr(
          "2.0d * (0.3989422804014327d * exp(-(z * z) / 2.0d) * " +
            "(0.319381530d * t - 0.356563782d * t * t + 1.781477937d * t * t * t " +
            "- 1.821255978d * t * t * t * t + 1.330274429d * t * t * t * t * t))"))
        .select(col("pr.ga").as("group_a"), col("pr.gb").as("group_b"),
          col("na").as("n_a"), col("nb").as("n_b"),
          round(col("ma"), 6).as("mean_rank_a"), round(col("mb"), 6).as("mean_rank_b"),
          round(col("z"), 6).as("z_stat"), round(col("p"), 6).as("p_value"),
          (col("p") < lit(0.05 / 3)).as("reject_bonf"))
        .orderBy(col("group_a"), col("group_b"))
    }),

    // ------------------------------------------------------------------
    // Brown–Forsythe (median-based Levene) homogeneity-of-variance test
    // across the same three groups. Group centers are exact medians
    // ROUNDED TO 6dp on both engines (full-double interpolated
    // percentile parity is engine-sensitive; the rounded center keeps
    // the statistic deterministic and is statistically immaterial).
    // Absolute deviations are quantized to DECIMAL(28,12) before the
    // per-group sums, and the 3-row final agg re-quantizes the num/den
    // terms so even that tiny sum is merge-order-proof.
    "q162_levene" -> ((s, dir) => {
      val e = Tables.events(s, dir)
        .filter(col("event_type").isin("view", "click", "purchase") && col("value").isNotNull)
        .select(col("event_type").as("g"), col("value").cast("double").as("x"))
      val med = e.groupBy(col("g")).agg(expr("round(percentile(x, 0.5), 6)").as("med"))
      val pg = e.join(broadcast(med), "g")
        .withColumn("z", expr("cast(abs(x - med) as decimal(28,12))"))
        .withColumn("z2", expr("cast(abs(x - med) * abs(x - med) as decimal(28,12))"))
        .groupBy(col("g"))
        .agg(count(lit(1)).as("n"), sum(col("z")).as("sz"), sum(col("z2")).as("sz2"))
        .localCheckpoint() // consumed twice: grand totals + per-group terms
      val tot = pg.agg(sum(col("n")).as("nt"), sum(col("sz")).as("szt"),
        count(lit(1)).as("k"))
      pg.crossJoin(broadcast(tot))
        .withColumn("zbar_g", expr("cast(sz as double) / n"))
        .withColumn("zbar", expr("cast(szt as double) / nt"))
        .withColumn("num_g", expr(
          "cast(n * (zbar_g - zbar) * (zbar_g - zbar) as decimal(28,12))"))
        .withColumn("den_g", expr(
          "cast(cast(sz2 as double) - n * zbar_g * zbar_g as decimal(28,12))"))
        .agg(max(col("nt")).as("n_total"), max(col("k")).as("k"),
          sum(col("num_g")).as("num"), sum(col("den_g")).as("den"))
        .select(col("n_total"), col("k"),
          round(expr("(cast(n_total as double) - k) / (k - 1) * " +
            "cast(num as double) / cast(den as double)"), 6).as("w_stat"))
    }),

    // ------------------------------------------------------------------
    // Two-proportion z-test (the A/B experiment readout): EVENTS split
    // into arms by the q58 md5 coin (event-level randomization — the
    // tiny driver user base saturates any user-level conversion
    // definition), success = purchase; pooled
    // z = (p̂₁−p̂₂)/√(p̂(1−p̂)(1/n₁+1/n₂)). Everything up to the final
    // statistic is exact integer counts from one partial agg, so the
    // double arithmetic is identical on both engines by construction.
    "q192_prop_ztest" -> ((s, dir) => {
      val u = Tables.events(s, dir)
        .select(col("event_id"),
          when(col("event_type") === "purchase", 1).otherwise(0).as("conv"))
        .withColumn("arm", expr(
          "md5_mod(cast(event_id as string), 2L)"))
      u.agg(
          sum(when(col("arm") === 0, 1).otherwise(0)).as("n1"),
          sum(when(col("arm") === 1, 1).otherwise(0)).as("n2"),
          sum(when(col("arm") === 0, col("conv")).otherwise(0)).as("c1"),
          sum(when(col("arm") === 1, col("conv")).otherwise(0)).as("c2"))
        .withColumn("p1", expr("cast(c1 as double) / n1"))
        .withColumn("p2", expr("cast(c2 as double) / n2"))
        .withColumn("pp", expr("cast(c1 + c2 as double) / (n1 + n2)"))
        .select(col("n1"), col("n2"), col("c1"), col("c2"),
          round(col("p1"), 6).as("rate_a"),
          round(col("p2"), 6).as("rate_b"),
          round(expr("(p1 - p2) / sqrt(pp * (1.0 - pp) * (1.0 / n1 + 1.0 / n2))"), 6).as("z_stat"))
    }),

    // ------------------------------------------------------------------
    // Classical seasonal decomposition of the daily series: trend =
    // centered 7-day moving average, seasonal = per-weekday mean of the
    // detrended values, residual = remainder. Both windows run on the
    // ≤#days daily contraction (bounded, allowlisted); the seasonal
    // means are DECIMAL-quantized pre-sum so the 7-cell aggregation is
    // merge-order-proof.
    "q193_seasonal_decompose" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(expr("cast(ts as date)").as("day"))
        .agg(count(lit(1)).as("y"))
      val w = Window.orderBy(col("day")).rowsBetween(-3, 3)
      val trended = daily
        .withColumn("n_win", count(lit(1)).over(w))
        .withColumn("trend", expr("cast(sum(y) over (order by day rows between 3 preceding and 3 following) as double) / n_win"))
        .filter(col("n_win") === 7) // centered MA defined only with a full window
        .withColumn("dow", dayofweek(col("day")))
        .withColumn("det", expr("y - trend"))
        .localCheckpoint() // consumed twice: seasonal means + join-back
      val seas = trended.groupBy(col("dow"))
        .agg((sum(expr("cast(det as decimal(28,12))")).cast("double") / count(lit(1)))
          .as("seasonal")) // cast-then-divide IN DOUBLE, matching the oracle
      trended.join(broadcast(seas), "dow")
        .select(col("day"), col("y"),
          round(col("trend"), 6).as("trend"),
          round(col("seasonal"), 6).as("seasonal"),
          round(expr("det - seasonal"), 6).as("residual"))
        .orderBy(col("day"))
    }),

    // ------------------------------------------------------------------
    // Wald–Wolfowitz runs test for serial randomness of daily order
    // revenue around its median. Contraction-first: orders → ≤#days
    // daily cells (revenue summed as exact DECIMAL(18,2) — never a
    // raw double sum), exact interpolated median, then ONE lag window
    // over the bounded daily frame counts sign runs. μ/σ come from the
    // exact integer counts (n₁ above, n₂ below), so z is a
    // deterministic scalar formula — no distributed fp accumulation.
    "q248_runs_test" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr("cast(o_totalprice as decimal(18,2))")).as("rev"))
        .localCheckpoint() // median agg + signed series both consume it
      val med = daily.agg(expr("percentile(cast(rev as double), 0.5)").as("med"))
      val wd = Window.orderBy(col("day")) // bounded: ≤#days cells (allowlisted)
      daily.crossJoin(broadcast(med))
        .filter(col("rev").cast("double") =!= col("med")) // ties drop, both engines
        .withColumn("above", (col("rev").cast("double") > col("med")).cast("int"))
        .withColumn("chg", when(lag(col("above"), 1).over(wd).isNull
          || lag(col("above"), 1).over(wd) =!= col("above"), 1L).otherwise(0L))
        .agg(sum(col("chg")).as("runs"), sum(col("above")).as("n1"),
          sum(expr("1 - above")).as("n2"))
        .selectExpr("n1 + n2 AS n_days", "n1 AS n_above", "n2 AS n_below", "runs",
          "round((runs - (2.0 * n1 * n2 / (n1 + n2) + 1)) / "
            + "sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2) / "
            + "((n1 + n2) * (n1 + n2) * (cast(n1 as double) + n2 - 1))), 6) AS z_stat")
        .selectExpr("n_days", "n_above", "n_below", "runs", "z_stat",
          "abs(z_stat) < 1.959964 AS random_5pct")
    }),

    // ------------------------------------------------------------------
    // Mann–Kendall monotonic-trend test on the same exact daily revenue
    // series: S = Σ_{i<j} sgn(xⱼ − xᵢ) over the bounded ≤#days daily
    // contraction (pair join of two broadcast calendar frames — q136's
    // audited shape, NEVER raw rows), tie-corrected variance from a
    // per-value group count, continuity-corrected z. Revenue cells are
    // exact decimals so every sgn comparison is exact in both engines.
    "q249_mann_kendall" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr("cast(o_totalprice as decimal(18,2))")).as("rev"))
        .localCheckpoint() // both pair-join sides + the tie contraction
      val b = daily.select(col("day").as("day2"), col("rev").as("rev2"))
      val sFrame = daily.join(broadcast(b), col("day") < col("day2"))
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("rev2") > col("rev"), 1L)
            .when(col("rev2") < col("rev"), -1L).otherwise(0L)).as("s_stat"))
      val ties = daily.groupBy(col("rev")).agg(count(lit(1)).as("t"))
        .agg(count(lit(1)).as("n_days"),
          sum(expr("t * (t - 1) * (2 * t + 5)")).as("tsum"))
      sFrame.crossJoin(broadcast(ties))
        .selectExpr("n_days", "s_stat",
          "round((cast(n_days as double) * (n_days - 1) * (2 * n_days + 5) - tsum) / 18.0, 6) AS var_s")
        .selectExpr("n_days", "s_stat", "var_s",
          "round(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s) "
            + "WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s) ELSE 0.0 END, 6) AS z_stat")
        .selectExpr("n_days", "s_stat", "var_s", "z_stat",
          "CASE WHEN z_stat > 1.959964 THEN 'increasing' "
            + "WHEN z_stat < -1.959964 THEN 'decreasing' ELSE 'none' END AS trend")
    }),

    // ------------------------------------------------------------------
    // MERGEABLE fixed-bin histogram quantiles: each day builds a 128-bin
    // histogram of event values (the per-bucket sketch), the global
    // estimate comes from SUMMING the daily bins — never re-sorting raw
    // values. This is the deterministic counterpart of q63's opaque GK
    // sketch: fixed bin edges make the estimate a pure function of
    // integer counts, so it cross-engine matches exactly AND the
    // per-day frames merge associatively (the 100 TB pattern: persist
    // per-partition histograms once, answer any quantile later).
    // Interpolation is uniform-within-bin; the exact interpolated
    // percentile rides along as the audit column. The cum window runs
    // over ≤128 bounded cells (allowlisted).
    "q246_hist_quantile_merge" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("ts").cast("date").as("day"), col("value").as("v"))
      val bounds = ev.agg(min(col("v")).as("lo"), max(col("v")).as("hi"),
        count(lit(1)).as("n"),
        expr("percentile(v, array(0.25d, 0.5d, 0.75d, 0.9d, 0.99d))").as("ex"))
      val daily = ev.crossJoin(broadcast(bounds.select(col("lo"), col("hi"))))
        .withColumn("bin", expr(
          "least(cast(floor((v - lo) / ((hi - lo) / 128.0)) as int), 127)"))
        .groupBy(col("day"), col("bin")).agg(count(lit(1)).as("c"))
      val merged = daily.groupBy(col("bin")).agg(sum(col("c")).as("c"))
      val wb = Window.orderBy(col("bin")) // bounded: ≤128 bin cells
      val cum = merged
        .withColumn("cum", sum(col("c")).over(
          wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("cumb", col("cum") - col("c"))
      val probes = s.range(1).select(posexplode(array(
        lit(0.25d), lit(0.5d), lit(0.75d), lit(0.9d), lit(0.99d))).as(Seq("i", "q")))
      cum.crossJoin(broadcast(probes.crossJoin(bounds)))
        .filter(expr("cum >= q * n AND cumb < q * n"))
        .selectExpr("q",
          "round(lo + ((hi - lo) / 128.0) * (bin + (q * n - cumb) / c), 6) AS est",
          "round(element_at(ex, i + 1), 6) AS exact")
        .selectExpr("q", "est", "exact", "round(abs(est - exact), 6) AS abs_err")
        .orderBy(col("q"))
    }),

    // ------------------------------------------------------------------
    // Hurst exponent by rescaled-range (R/S) analysis over the daily
    // order-revenue series (q248/q249's exact DECIMAL(18,2) cells —
    // order COUNTS are near-constant at small SF, which zeroes every
    // block's variance): does revenue have long memory (H > 0.5) or
    // mean-revert (H < 0.5)? The fact table contracts to ≤#observed-
    // days cells by ONE shuffle; the ×4 window-size expansion runs on
    // that bounded frame; every per-block window (cumdev, block sums)
    // is partitioned by (w, block) with frames ≤64 rows — distributed
    // at any scale. R = range of the within-block cumulative deviations
    // Z_k = Σᵢ≤ₖxᵢ − k·mean; S = population std from exact DECIMAL
    // Σx/Σx² (zero-variance blocks drop in both engines); R/S terms
    // are DECIMAL(28,12)-quantized pre-mean, and H is the closed-form
    // OLS slope of ln(mean R/S) on ln(w) over the 4 bounded points.
    "q259_hurst" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr("cast(o_totalprice as decimal(18,2))")).as("x"))
      val idx = daily
        .withColumn("t", row_number().over(Window.orderBy(col("day")))) // bounded: ≤#days cells (allowlisted)
      val nd = idx.agg(count(lit(1)).as("n_days"))
      val wk = Window.partitionBy(col("w"), col("blk"))
      val wko = wk.orderBy(col("t"))
      val rs = idx
        .select(col("t"), col("x"),
          explode(array(lit(8), lit(16), lit(32), lit(64))).as("w"))
        .withColumn("blk", expr("cast(floor((t - 1) / w) as int)"))
        .crossJoin(broadcast(nd))
        .filter(col("blk") < expr("cast(floor(n_days / w) as int)"))
        .withColumn("k", row_number().over(wko))
        .withColumn("cx", sum(col("x")).over(
          wko.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("sx", sum(col("x")).over(wk))
        .withColumn("sx2", sum(expr("x * x")).over(wk))
        .withColumn("z", expr("cast(cx as double) - k * (cast(sx as double) / w)"))
        .groupBy(col("w"), col("blk"))
        .agg((max(col("z")) - min(col("z"))).as("r"),
          expr("sqrt(cast(first(sx2) as double) / cast(first(w) as double) "
            + "- (cast(first(sx) as double) / cast(first(w) as double)) "
            + "* (cast(first(sx) as double) / cast(first(w) as double)))").as("sd"))
        .filter(col("sd") > 0)
      val perW = rs.groupBy(col("w"))
        .agg(count(lit(1)).as("n_blocks"),
          sum(expr("cast(r / sd as decimal(28,12))")).as("srs"))
        .selectExpr("w", "n_blocks", "cast(srs as double) / n_blocks AS mean_rs")
        .localCheckpoint() // slope agg + per-w output both consume it
      val slope = perW
        .selectExpr("ln(cast(w as double)) AS lx", "ln(mean_rs) AS ly")
        .agg(count(lit(1)).as("np"),
          sum(expr("cast(lx as decimal(28,12))")).as("slx"),
          sum(expr("cast(ly as decimal(28,12))")).as("sly"),
          sum(expr("cast(lx * ly as decimal(28,12))")).as("slxy"),
          sum(expr("cast(lx * lx as decimal(28,12))")).as("slx2"))
        .selectExpr("round((np * cast(slxy as double) - cast(slx as double) * cast(sly as double)) "
          + "/ (np * cast(slx2 as double) - cast(slx as double) * cast(slx as double)), 6) AS hurst")
      perW.crossJoin(broadcast(slope))
        .selectExpr("w", "n_blocks", "round(mean_rs, 6) AS mean_rs", "hurst")
        .orderBy(col("w"))
    }),

    // ------------------------------------------------------------------
    // Per-day distribution drift monitor: the exact two-sample KS
    // statistic of each day's value distribution against the global
    // one — q204's PSI with bins replaced by the exact sup-gap (no
    // binning decision to defend). The corpus contracts to (day, value)
    // count cells in ONE shuffle; the global ECDF rides cumCounts'
    // range-partitioned prefix sums (never a global window); per-day
    // cumsums are day-PARTITIONED windows. Evaluating the gap at each
    // day point AND its left limit is exact: F_day is flat between its
    // own jump points, so every plateau's sup is attained at a
    // neighboring day-point evaluation (both one-sided gaps checked).
    "q268_daily_drift" -> ((s, dir) => {
      val cells = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("ts").cast("date").as("day"), col("value").as("v"))
        .groupBy(col("day"), col("v")).agg(count(lit(1)).as("c"))
        .localCheckpoint() // global contraction + per-day windows
      val gl = cells.groupBy(col("v")).agg(sum(col("c")).as("c1"))
      val gcum = cumCounts(s, gl)
        .select(col("v"), col("cum1").as("cumg"), col("c1").as("cg"), col("n1").as("ng"))
      val wdo = Window.partitionBy(col("day")).orderBy(col("v"))
      val wda = Window.partitionBy(col("day"))
      cells.join(gcum, "v")
        .withColumn("cumd", sum(col("c")).over(
          wdo.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("nd", sum(col("c")).over(wda))
        .withColumn("gap", expr(
          "greatest(abs(cast(cumd as double) / nd - cast(cumg as double) / ng), "
            + "abs(cast(cumd - c as double) / nd - cast(cumg - cg as double) / ng))"))
        .groupBy(col("day"))
        .agg(max(col("nd")).as("n_day"), round(max(col("gap")), 6).as("ks_d"))
        .crossJoin(broadcast(gl.agg(sum(col("c1")).as("ng"))))
        .selectExpr("day", "n_day", "ks_d",
          "round(1.358102 * sqrt(cast(n_day + ng as double) / (cast(n_day as double) * ng)), 6) AS crit_5pct",
          "ks_d > 1.358102 * sqrt(cast(n_day + ng as double) / (cast(n_day as double) * ng)) AS drift_flag")
        .orderBy(col("day"))
    }),

    // ------------------------------------------------------------------
    // Distribution-free median CI: exact order-statistic (binomial-
    // rank) 95% bounds for the median of event values — the CI q99's
    // bootstrap gives the MEAN, obtained here with zero resampling and
    // an exact-rank guarantee. Ranks l = ⌊(n − z√n)/2⌋, u = ⌈1 +
    // (n + z√n)/2⌉ looked up in the cumCounts prefix-sum frame (three
    // bounded rank probes against the broadcast 1-row rank frame; the
    // contraction is the only corpus shuffle). The exact interpolated
    // median rides along as the audit column.
    "q270_median_ci" -> ((s, dir) => {
      val ev = Tables.events(s, dir).filter(col("value").isNotNull)
      val g = ev.groupBy(col("value").as("v")).agg(count(lit(1)).as("c1"))
      val cum = cumCounts(s, g)
        .select(col("v"), col("below"), col("cum1"), col("n1"))
        // three rank probes consume it: lazy, ReuseExchange shares the
        // count shuffle but each probe re-runs the prefix sum (warm
        // build+noop at sf0.01 1.07-1.39 s lazy, 0.96-1.02 s checkpointed)
        .localCheckpoint()
      val ranks = cum.select(col("n1")).limit(1)
        .selectExpr("n1",
          // clamp to [1, n]: tiny n would otherwise push rl < 1 / ru > n and
          // make the rank probes unsatisfiable (zero-row result, no diagnostic)
          "greatest(cast(floor((n1 - 1.959964 * sqrt(n1)) / 2.0) as bigint), 1L) AS rl",
          "least(cast(ceil(1.0 + (n1 + 1.959964 * sqrt(n1)) / 2.0) as bigint), n1) AS ru")
      val med = ev.agg(expr("round(percentile(value, 0.5), 6)").as("median"))
      val lo = cum.crossJoin(broadcast(ranks))
        .filter(col("below") < col("rl") && col("cum1") >= col("rl"))
        .select(col("v").as("ci_lo")).limit(1) // rank probe is unique; limit proves boundedness
      val hi = cum.crossJoin(broadcast(ranks))
        .filter(col("below") < col("ru") && col("cum1") >= col("ru"))
        .select(col("v").as("ci_hi")).limit(1)
      ranks.crossJoin(broadcast(med)).crossJoin(broadcast(lo)).crossJoin(broadcast(hi))
        .selectExpr("n1 AS n", "rl AS rank_lo", "ru AS rank_hi", "median",
          "round(ci_lo, 6) AS ci_lo", "round(ci_hi, 6) AS ci_hi",
          "ci_lo <= median AND median <= ci_hi AS contains_median")
    }),

    // ------------------------------------------------------------------
    // Cochran's Q: do the k=|event types| "treatments" elicit the same
    // binary response across user "blocks" — the k-sample McNemar the
    // pairwise tests (q128/q130) can't give. Response x_{u,t} = 1 iff
    // user u's max value for type t exceeds the type's p90 (raw
    // presence is degenerate here: every user touches every type, so
    // ΣR(k−R) = 0 and Q is undefined — measured). One (user, type)
    // max-contraction + broadcast ≤k p90 bounds (6dp-rounded, q200's
    // convention); column totals C_j contract to ≤k cells, row totals
    // R_u to one user-keyed agg whose ΣR/ΣR² collapse to a 1-row
    // frame. Q = k(k−1)·Σ(C_j − ΣR/k)² / (k·ΣR − ΣR²), χ²(k−1) at 5%.
    // Exact integer sums; the Σ(C_j−N̄)² terms DECIMAL-quantized.
    "q261_cochran_q" -> ((s, dir) => {
      val ev = Tables.events(s, dir).filter(col("value").isNotNull)
      val mv = ev.groupBy(col("user_id"), col("event_type"))
        .agg(max(col("value")).as("m"))
      val p90 = ev.groupBy(col("event_type"))
        .agg(expr("round(percentile(value, 0.9), 6)").as("p90"))
      val pairs = mv.join(broadcast(p90), "event_type")
        .filter(col("m") > col("p90"))
        .select(col("user_id"), col("event_type"))
        .localCheckpoint() // column totals + row totals both consume it
      val cols_ = pairs.groupBy(col("event_type")).agg(count(lit(1)).as("cj"))
      val rows_ = pairs.groupBy(col("user_id")).agg(count(lit(1)).as("ru"))
        .agg(count(lit(1)).as("n_users"), sum(col("ru")).as("sr"),
          sum(expr("ru * ru")).as("sr2"))
      val k = p90.agg(count(lit(1)).as("k"))
      cols_.crossJoin(broadcast(k)).crossJoin(broadcast(rows_))
        .withColumn("dev2", expr(
          "cast((cj - cast(sr as double) / k) * (cj - cast(sr as double) / k) as decimal(28,12))"))
        .agg(first(col("k")).as("k"), first(col("n_users")).as("n_users"),
          first(col("sr")).as("sr"), first(col("sr2")).as("sr2"),
          sum(col("dev2")).as("sdev"))
        .selectExpr("k", "n_users",
          "round(k * (k - 1) * cast(sdev as double) / (k * sr - sr2), 6) AS q_stat")
        .selectExpr("k", "n_users", "q_stat",
          // critical value tracks df = k-1; out-of-table df => NULL flag
          // (loud) rather than a silently-wrong fixed chi2(4) cutoff
          "q_stat > (CASE k - 1 WHEN 1 THEN 3.841459 WHEN 2 THEN 5.991465 "
            + "WHEN 3 THEN 7.814728 WHEN 4 THEN 9.487729 WHEN 5 THEN 11.070498 "
            + "WHEN 6 THEN 12.591587 WHEN 7 THEN 14.067140 WHEN 8 THEN 15.507313 "
            + "WHEN 9 THEN 16.918978 END) AS reject_equal_reach_5pct")
    }),

    // ------------------------------------------------------------------
    // Hill tail-index estimator over the top order statistics of
    // o_totalprice — the heavy-tail audit q106 (Zipf) and q129
    // (Benford) imply but never quantify: α̂(k) = 1 / (mean of
    // ln(x_(n−i+1) / x_(n−k)) over the top k), reported at k ∈
    // {100, 200, 400} so tail-index STABILITY across k is visible
    // (the Hill-plot decision). ONE TakeOrderedAndProject of 401 rows
    // (value-desc with orderkey tiebreak so the cut is deterministic);
    // everything after is bounded in-row algebra over ≤401 cells.
    "q264_hill_tail" -> ((s, dir) => {
      val top = Tables.orders(s, dir)
        .select(col("o_totalprice").as("v"), col("o_orderkey"))
        .orderBy(col("v").desc, col("o_orderkey"))
        .limit(401)
        .withColumn("rk", row_number().over(
          Window.orderBy(col("v").desc, col("o_orderkey")))) // bounded: 401 rows post-limit
        .localCheckpoint() // three k-slices consume it
      top.select(explode(array(lit(100), lit(200), lit(400))).as("k"), col("rk"), col("v"))
        .join(broadcast(top.select(col("rk").as("kk"), col("v").as("xmin"))),
          col("k") + 1 === col("kk"))
        .filter(col("rk") <= col("k"))
        .withColumn("lr", expr("cast(ln(v / xmin) as decimal(28,12))"))
        .groupBy(col("k"))
        .agg(first(col("xmin")).as("xmin"), sum(col("lr")).as("slr"))
        .selectExpr("k", "round(xmin, 2) AS xmin",
          "round(cast(k as double) / cast(slr as double), 6) AS alpha")
        .orderBy(col("k"))
    }),

    // ------------------------------------------------------------------
    // Bloom-filter FPP audit: measured vs theoretical false-positive
    // rate of q103's bloom-prune pattern at three (m, k) sizings — THE
    // table consulted before spending m bits/key on a 100 TB bloom-
    // pruned join. Membership = customers ordering BEFORE 1996 (every
    // customer orders eventually, so the date cutoff is what makes a
    // non-empty probe complement); probes = the rest, so every probe
    // hit is a TRUE false positive. Positions are md5-deterministic,
    // the per-config bit set is bounded by m (≤64k rows — broadcast),
    // and the theory column (1−e^{kn·ln(1−1/m)})^k is written with
    // ln/exp only (the proven parity transcendentals — no pow). The
    // three sizings deliberately straddle saturation at bench scale:
    // an undersized filter's fpp→1 row IS the sizing lesson.
    "q260_bloom_fpp" -> ((s, dir) => {
      import s.implicits._
      val cfgDf = broadcast(Seq((4096, 3), (16384, 3), (65536, 4)).toDF("m", "kh"))
      val members = Tables.orders(s, dir)
        .filter(col("o_orderdate").cast("date") < lit("1996-01-01").cast("date"))
        .select(col("o_custkey").as("u")).distinct()
        .localCheckpoint() // bitset build + probe anti-join + n count
      val probes = Tables.customer(s, dir).select(col("c_custkey").as("u"))
        .join(members, Seq("u"), "left_anti")
      def positions(keys: org.apache.spark.sql.DataFrame) = keys
        .crossJoin(cfgDf)
        .select(col("u"), col("m"), col("kh"),
          explode(expr("sequence(1, kh)")).as("t"))
        .withColumn("pos", expr(
          "md5_mod(concat('bf', cast(t as string), '|', cast(u as string)), cast(m as bigint))"))
      val bitset = positions(members)
        .select(col("m"), col("kh"), col("pos")).distinct()
        .localCheckpoint() // probed per config + bits_set count
      val bits = bitset.groupBy(col("m"), col("kh")).agg(count(lit(1)).as("bits_set"))
      val nMem = members.agg(count(lit(1)).as("n_keys"))
      val fp = positions(probes)
        .join(broadcast(bitset.withColumn("hit", lit(1))), Seq("m", "kh", "pos"), "left")
        .groupBy(col("m"), col("kh"), col("u"))
        .agg(sum(coalesce(col("hit"), lit(0))).as("hits"))
        .groupBy(col("m"), col("kh"))
        .agg(count(lit(1)).as("n_probes"),
          sum(when(col("hits") === col("kh"), 1L).otherwise(0L)).as("false_pos"))
      fp.join(broadcast(bits), Seq("m", "kh"))
        .crossJoin(broadcast(nMem))
        .selectExpr("m", "kh AS k", "n_keys", "bits_set",
          "round(cast(bits_set as double) / m, 6) AS fill_ratio",
          "n_probes", "false_pos",
          "round(cast(false_pos as double) / n_probes, 6) AS fpp_measured",
          "round(exp(kh * ln(1.0 - exp(kh * n_keys * ln(1.0 - 1.0 / m)))), 6) AS fpp_theory")
        .orderBy(col("m"), col("k"))
    }),

    // ------------------------------------------------------------------
    // Missing-value imputation audit — the data-prep operator every
    // feature pipeline runs before modeling. The corpus has no real
    // NULLs, so missingness is a deterministic MCAR mask (md5(event_id)
    // % 7 = 0, ~14% — the documented simulation, never rand()): per
    // event_type, the observed-only median imputes the masked cells,
    // and the readout quantifies the imputation bill — masked count,
    // imputed value, observed mean vs post-imputation mean (the shift
    // median-imputation introduces). One fact-scan groupBy; numerators
    // exact DECIMAL (sum_obs + n_missing·median), divisions in double
    // with identical operation order both engines.
    "q287_missing_impute" -> ((s, dir) => {
      Tables.events(s, dir)
        .withColumn("miss", expr("md5_mod(cast(event_id as string), 7L)") === 0)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("miss"), 1L).otherwise(0L)).as("n_missing"),
          sum(when(!col("miss"), expr("cast(value as decimal(18,2))"))).as("sum_obs"),
          expr("round(percentile(CASE WHEN NOT miss THEN value END, 0.5), 6)").as("median_imputed"))
        .selectExpr("event_type", "n_rows", "n_missing", "median_imputed",
          "round(cast(sum_obs as double) / (n_rows - n_missing), 6) AS mean_obs",
          ("round(cast(cast(sum_obs as decimal(28,6)) "
            + "+ cast(median_imputed as decimal(18,6)) * n_missing as double) / n_rows, 6) AS mean_after"))
        .orderBy(col("event_type"))
    }),

    // ------------------------------------------------------------------
    // Poisson overdispersion of the daily arrival counts per event_type
    // — the variance/mean diagnostic that decides Poisson vs negative-
    // binomial rate modeling (q125/q268 assume stable daily rates; this
    // measures whether the variance claim holds). Daily contraction →
    // per-type exact integer (nd, Σn, Σn²) cells → closed-form sample
    // variance and dispersion index D = s²/x̄; significance via the
    // df-FREE normal approximation z = (D−1)·√((nd−1)/2) against the
    // one-sided 5% bound 1.644854 (a hardcoded χ² critical would
    // silently wrong-df if the day count changed — q261's review
    // lesson).
    "q288_poisson_dispersion" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("ts").cast("date").as("day"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("nd"), sum(col("n")).as("tot"),
          sum(col("n") * col("n")).as("sq"))
        .selectExpr("event_type", "nd", "tot",
          "round(cast(tot as double) / nd, 6) AS mean_daily",
          "round((cast(sq as double) - cast(tot as double) * tot / nd) / (nd - 1), 6) AS var_daily",
          ("round(((cast(sq as double) - cast(tot as double) * tot / nd) / (nd - 1)) "
            + "/ (cast(tot as double) / nd), 6) AS dispersion"),
          ("round((((cast(sq as double) - cast(tot as double) * tot / nd) / (nd - 1)) "
            + "/ (cast(tot as double) / nd) - 1.0) * sqrt((nd - 1) / 2.0), 6) AS z_disp"),
          ("(((cast(sq as double) - cast(tot as double) * tot / nd) / (nd - 1)) "
            + "/ (cast(tot as double) / nd) - 1.0) * sqrt((nd - 1) / 2.0) > 1.644854 AS overdispersed"))
        .orderBy(col("event_type"))
    }),

    // ------------------------------------------------------------------
    // BM25 with pseudo-relevance-feedback query expansion (Rocchio-
    // style PRF with Robertson–Sparck-Jones offer weights — the
    // classic two-pass retrieval loop): pass 1 scores the 3 seed
    // terms (q123's BM25 verbatim) and takes the top-10 docs as the
    // feedback set; expansion candidates are the feedback docs'
    // vocabulary scored by the RSJ weight ln(((r+0.5)(N−df−R+r+0.5))/
    // ((df−r+0.5)(R−r+0.5))) with r = feedback-doc frequency, gated on
    // r≥3, df≥5, positive log argument, and w>0; the top-5 terms join
    // the seeds at half query weight and pass 2 rescores the corpus
    // with the 8-term weighted query. Every post-contraction frame is
    // bounded (feedback vocab, ≤8 query terms, broadcast stats); the
    // corpus-scale ops are the token contraction passes and the
    // vocabulary df build (q37's shape). Both top-k selections are
    // orderBy+limit → TakeOrderedAndProject, never a global window.
    "q294_bm25_prf" -> ((s, dir) => {
      import s.implicits._
      val seeds = Seq("spark", "join", "filter")
      // ONE tokenize pass + one (doc, tok) contraction feeds everything:
      // the raw token stream was previously re-split and re-exploded by
      // FIVE consumers (dl, df, seed tf, feedback r, rescore tf). Every
      // downstream frame is an exact algebraic derivation of (doc_id,
      // tok, tf): dl = Σ tf per doc, df = row count per tok (rows are
      // unique per (doc, tok)), each tf pass = a filter/join of it.
      val tc = toks(s, dir)
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
        .localCheckpoint() // dl + df + seed tf + r-counts + rescore tf
      val dl = tc.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
        .localCheckpoint() // corpus stats + two scoring passes
      val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
      val dfAll = tc.groupBy(col("tok")).agg(count(lit(1)).as("df"))
        .localCheckpoint() // seed pass + RSJ + rescore pass
      val bm25 = "ln((n - df + 0.5) / (df + 0.5) + 1.0) * " +
        "(tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl) / (cast(sumdl as double) / n)))"
      val tf1 = tc.filter(col("tok").isin(seeds: _*))
      val scored1 = tf1
        .join(broadcast(dfAll.filter(col("tok").isin(seeds: _*))), "tok")
        .join(dl, "doc_id").crossJoin(broadcast(stats))
        .withColumn("term_score", expr(s"cast($bm25 as decimal(28,12))"))
        .groupBy(col("doc_id")).agg(sum(col("term_score")).as("score_x"))
      val fb = scored1.orderBy(col("score_x").desc, col("doc_id")).limit(10)
        .select(col("doc_id")).localCheckpoint() // r-counts + fbn
      val fbn = fb.agg(count(lit(1)).as("rn"))
      val r = tc.join(broadcast(fb), "doc_id")
        .groupBy(col("tok")).agg(count(lit(1)).as("r"))
      val expTerms = dfAll.join(broadcast(r), "tok")
        .crossJoin(broadcast(stats)).crossJoin(broadcast(fbn))
        .filter(!col("tok").isin(seeds: _*) && col("r") >= 3 && col("df") >= 5)
        .filter(expr("(n - df - rn + r + 0.5) > 0"))
        .withColumn("w", expr(
          "ln(((r + 0.5) * (n - df - rn + r + 0.5)) / ((df - r + 0.5) * (rn - r + 0.5)))"))
        .filter(col("w") > 0)
        .orderBy(col("w").desc, col("tok")).limit(5)
        .select(col("tok"), lit(0.5).as("qw"))
      val qterms = seeds.toDF("tok").withColumn("qw", lit(1.0))
        .unionByName(expTerms)
        .localCheckpoint() // ≤8 rows: tf join + df join both consume it
      val tf2 = tc.join(broadcast(qterms.select(col("tok"))), "tok")
      val scored2 = tf2
        .join(broadcast(dfAll.join(broadcast(qterms), "tok")), "tok")
        .join(dl, "doc_id").crossJoin(broadcast(stats))
        .withColumn("term_score", expr(s"cast(qw * ($bm25) as decimal(28,12))"))
        .groupBy(col("doc_id")).agg(sum(col("term_score")).as("score_x"))
      val top = scored2.orderBy(col("score_x").desc, col("doc_id")).limit(15)
      top.withColumn("rank",
          row_number().over(Window.orderBy(col("score_x").desc, col("doc_id"))))
        .select(col("rank"), col("doc_id"),
          round(col("score_x").cast("double"), 6).as("score"))
        .orderBy(col("rank"))
    }),

    // ------------------------------------------------------------------
    // Friedman test — the nonparametric repeated-measures ANOVA
    // closing the rank-test family (Kruskal–Wallis q161 = independent
    // groups, Mann–Whitney q130 = two samples, this = k treatments
    // over matched blocks): blocks = days, treatments = event types,
    // response = the per-(day, type) mean value. Only COMPLETE blocks
    // (days observing every type) enter, per the design. Within-block
    // ranks come from a day-PARTITIONED window over ≤k cells (means
    // are continuous so exact ties are measure-zero; the (m, type)
    // tie-break keeps both engines identical regardless). χ²_F =
    // 12/(nk(k+1))·ΣR_j² − 3n(k+1), df = k−1 with the critical value
    // a CASE over the COMPUTED df (q261's discipline — never
    // hardcoded for one k).
    "q307_friedman" -> ((s, dir) => {
      val crit = ("CASE kk - 1 WHEN 1 THEN 3.841459 WHEN 2 THEN 5.991465 WHEN 3 THEN 7.814728 "
        + "WHEN 4 THEN 9.487729 WHEN 5 THEN 11.070498 WHEN 6 THEN 12.591587 ELSE cast(null as double) END")
      val cells = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .groupBy(col("ts").cast("date").as("day"), col("event_type"))
        .agg(sum(col("value").cast("decimal(18,2)")).as("sx"), count(lit(1)).as("cnt"))
        .withColumn("m", expr("cast(sx as double) / cnt"))
        .localCheckpoint() // k-count + completeness + ranks all consume it
      val kf = cells.agg(countDistinct(col("event_type")).as("kk"))
      val complete = cells.groupBy(col("day")).agg(count(lit(1)).as("kd"))
        .crossJoin(broadcast(kf)).filter(col("kd") === col("kk")).select(col("day"))
      val ranked = cells.join(complete, "day")
        .withColumn("r", row_number().over(
          Window.partitionBy(col("day")).orderBy(col("m"), col("event_type"))))
      val rsums = ranked.groupBy(col("event_type"))
        .agg(sum(col("r")).as("rj"), count(lit(1)).as("nd"))
      rsums.agg(max(col("nd")).as("n"), count(lit(1)).as("kk"),
          sum(col("rj") * col("rj")).as("sr2"))
        .selectExpr("n", "kk AS k",
          "cast(12 as double) / (n * kk * (kk + 1.0d)) * sr2 - cast(3 as double) * n * (kk + 1.0d) AS chi2_raw",
          s"$crit AS critv")
        .selectExpr("n AS n_blocks", "k", "round(chi2_raw, 6) AS chi2_friedman",
          "chi2_raw > critv AS reject_5pct")
    }),

    // ------------------------------------------------------------------
    // Bartlett's test for variance homogeneity across o_orderpriority
    // groups — the parametric counterpart of Levene (q162; Bartlett is
    // more powerful under normality, fragile otherwise — reading both
    // IS the diagnostic): T = [(N−k)·ln s²_p − Σ(n_g−1)·ln s²_g] / C,
    // C = 1 + (Σ1/(n_g−1) − 1/(N−k))/(3(k−1)). All from q116's exact
    // (n, Σx, Σx²) cells; the three k-term sums quantize DECIMAL
    // before summing; df = k−1 critical via the computed-df CASE.
    // ------------------------------------------------------------------
    // Wilcoxon signed-rank test — the PAIRED continuous design closing
    // the rank-test matrix (Mann–Whitney q130 = two independent
    // samples, Friedman q307 = k matched treatments, McNemar q308 =
    // paired binary; this = paired continuous): per user, d = mean
    // value after Jan 16 − mean before; zero differences drop per the
    // standard procedure. |d| midranks ride cumCounts' range-
    // partitioned prefix sums exactly like q130 (one groupBy
    // contraction, never a row-level global rank), W+ = Σ midrank over
    // d>0, and the tie-corrected normal approximation z = (W+ −
    // n(n+1)/4)/√(n(n+1)(2n+1)/24 − Σ(t³−t)/48) — the tie term is an
    // exact integer ridden through the same cells.
    "q314_wilcoxon_signed" -> ((s, dir) => {
      val per = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp))").as("us"),
          col("value").cast("decimal(18,2)").as("x"))
        .groupBy(col("user_id"))
        .agg(sum(when(col("us") < lit(1705363200000000L), col("x"))).as("spre"),
          count(when(col("us") < lit(1705363200000000L), 1)).as("npre"),
          sum(when(col("us") >= lit(1705363200000000L), col("x"))).as("spost"),
          count(when(col("us") >= lit(1705363200000000L), 1)).as("npost"))
        .filter(col("npre") > 0 && col("npost") > 0)
        .withColumn("d", expr("cast(spost as double) / npost - cast(spre as double) / npre"))
        .filter(col("d") =!= 0.0)
      val g = per.groupBy(abs(col("d")).as("v"))
        .agg(sum(when(col("d") > 0, 1).otherwise(0)).as("c1"),
          sum(when(col("d") < 0, 1).otherwise(0)).as("c2"))
      cumCounts(s, g)
        .withColumn("ar", expr("below + (c1 + c2 + 1) / 2.0"))
        .agg(sum(col("c1") + col("c2")).as("n"),
          sum(expr("cast(ar * c1 as decimal(28,6))")).as("wx"),
          sum(expr("(c1 + c2) * (c1 + c2) * (c1 + c2) - (c1 + c2)")).as("tie"))
        .selectExpr("n", "round(cast(wx as double), 6) AS w_plus",
          ("round((cast(wx as double) - n * (n + 1.0d) / 4.0d) / "
            + "sqrt(n * (n + 1.0d) * (2.0d * n + 1.0d) / 24.0d - cast(tie as double) / 48.0d), 6) AS z_stat"),
          ("abs((cast(wx as double) - n * (n + 1.0d) / 4.0d) / "
            + "sqrt(n * (n + 1.0d) * (2.0d * n + 1.0d) / 24.0d - cast(tie as double) / 48.0d)) > 1.959964 AS reject_5pct"))
    }),

    // ------------------------------------------------------------------
    // Two-sample Cramér–von Mises — the INTEGRATED-square EDF test
    // closing the distribution-comparison family (KS q124 reads the
    // MAX ECDF gap — sensitive to one sharp deviation; CvM integrates
    // the squared gap over the whole pooled sample — more powerful
    // against dispersed alternatives): T = n1·n2/N² · Σ_x (F₁(x) −
    // F₂(x))², summed at every pooled observation (per-distinct-value
    // counts weight the tied points). Rides q124's exact contraction +
    // cumCounts' range-partitioned prefix sums; per-value terms
    // quantize DECIMAL(28,12) before the order-free sum; the squared
    // gap is an explicit product (never pow — cross-engine pow(x,2)
    // parity is not guaranteed). Asymptotic 5% critical T = 0.461
    // (Anderson 1962), identical constant in both engines.
    "q319_cvm_test" -> ((s, dir) => {
      val g = Tables.events(s, dir)
        .filter(col("event_type").isin("view", "click") && col("value").isNotNull)
        .groupBy(col("value").as("v"))
        .agg(sum(when(col("event_type") === "view", 1).otherwise(0)).as("c1"),
          sum(when(col("event_type") === "click", 1).otherwise(0)).as("c2"))
      cumCounts(s, g)
        .withColumn("gap", expr("cast(cum1 as double) / n1 - cast(cum2 as double) / n2"))
        .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          sum(expr("cast((c1 + c2) * gap * gap as decimal(28,12))")).as("sx"))
        .selectExpr("n1", "n2",
          ("round(cast(n1 as double) * n2 / (cast(n1 + n2 as double) * (n1 + n2)) "
            + "* cast(sx as double), 6) AS cvm_t"),
          ("cast(n1 as double) * n2 / (cast(n1 + n2 as double) * (n1 + n2)) "
            + "* cast(sx as double) > 0.461 AS reject_5pct"))
    }),

    // ------------------------------------------------------------------
    // Query-likelihood retrieval with Dirichlet smoothing (μ=300,
    // Zhai/Lafferty) — the language-model scorer closing the retrieval
    // family (BM25 q123 = tf·idf saturation, PRF q294 = expansion, RRF
    // q300 = fusion; this = the generative model): score(q,d) =
    // Σ_t ln((tf_{t,d} + μ·P(t|C))/(dl_d + μ)). Every doc scores every
    // query term INCLUDING tf=0 — decomposed so the zero terms never
    // join: score = Σ_t ln(μ·pc_t/(dl+μ)) [all-docs side, from dl
    // alone + the broadcast 3-row query-stats frame] + Σ_{tf>0}
    // [ln(tf + μ·pc_t) − ln(μ·pc_t)] [the bounded tf-join side].
    // Per-term adjustments quantize DECIMAL(28,12); top-15 via
    // TakeOrderedAndProject (q123's discipline).
    "q323_qlm_dirichlet" -> ((s, dir) => {
      val t = toks(s, dir)
      val dl = t.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
        .localCheckpoint() // consumed twice: corpus total + per-doc base
      val ctot = dl.agg(sum(col("dl")).as("ctot"))
      val cf = t.filter(col("tok").isin("spark", "data", "query"))
        .groupBy(col("tok")).agg(count(lit(1)).as("cf"))
        .crossJoin(broadcast(ctot))
        .withColumn("mpc", expr("300.0d * cf / ctot")) // μ·P(t|C), forced DOUBLE (decimal-division precision rules differ across engines)
        .localCheckpoint() // consumed twice: base-sum scalar + tf join
      // nq = COUNT of in-corpus query terms (an OOV term has no cf row
      // and is dropped per standard QLM practice — hardcoding 3 would
      // mis-pair the ln(dl+μ) denominators if a term never occurs)
      val baseTerm = cf.agg(sum(expr("cast(ln(mpc) as decimal(28,12))")).as("slnmpc"),
        count(lit(1)).as("nq"))
      val base = dl.crossJoin(broadcast(baseTerm))
        .withColumn("base_x", expr(
          "cast(cast(slnmpc as double) - nq * ln(dl + 300.0) as decimal(28,12))"))
      val adj = t.filter(col("tok").isin("spark", "data", "query"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
        .join(broadcast(cf.select(col("tok"), col("mpc"))), "tok")
        .groupBy(col("doc_id"))
        .agg(sum(expr("cast(ln(tf + mpc) - ln(mpc) as decimal(28,12))")).as("adj_x"),
          count(lit(1)).as("n_hit"))
      val scored = base.join(adj, Seq("doc_id"), "left")
        .withColumn("score_x", expr("base_x + coalesce(adj_x, cast(0 as decimal(28,12)))"))
      val top = scored.orderBy(col("score_x").desc, col("doc_id")).limit(15)
      top.withColumn("rank",
          row_number().over(Window.orderBy(col("score_x").desc, col("doc_id"))))
        .select(col("rank"), col("doc_id"), col("dl"),
          coalesce(col("n_hit"), lit(0L)).as("n_terms_present"),
          round(col("score_x").cast("double"), 6).as("score"))
        .orderBy(col("rank"))
    }),

    // ------------------------------------------------------------------
    // DFT periodogram + Fisher's g-test for hidden periodicity — the
    // FREQUENCY-domain reading of the daily series (q111 tests a
    // hypothesized weekday cycle; Fisher's g asks "is ANY single
    // frequency carrying more power than white noise would put
    // there?"): P_k = (Σy·cos(2πki/n))² + (Σy·sin(2πki/n))² for
    // k = 1..⌊(n−1)/2⌋, g = max P/ΣP, and the exact-under-normality
    // tail bound p ≈ nf·(1−g)^{nf−1} composed as nf·exp((nf−1)·
    // ln(1−g)) (never pow). Per-(day, k) trig terms quantize
    // DECIMAL(28,12) before the per-k sums (order-free); the
    // day-index window and the n×nf cell grid are both ≤ #days-bounded
    // (allowlisted). The squared sums are explicit products.
    "q328_periodogram" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("y"))
      val wd = Window.orderBy(col("day")) // bounded: <= #days daily cells (allowlisted)
      val idx = daily
        .withColumn("i", row_number().over(wd) - 1)
        .crossJoin(broadcast(daily.agg(count(lit(1)).as("n"))))
      val cells = idx
        .withColumn("k", explode(expr("sequence(1, cast((n - 1) div 2 as int))")))
        .groupBy(col("k"))
        .agg(max(col("n")).as("n"),
          sum(expr("cast(y * cos(2.0d * pi() * k * i / n) as decimal(28,12))")).as("sc"),
          sum(expr("cast(y * sin(2.0d * pi() * k * i / n) as decimal(28,12))")).as("ss"))
        .withColumn("p", expr(
          "cast(sc as double) * cast(sc as double) + cast(ss as double) * cast(ss as double)"))
        .localCheckpoint() // consumed twice: totals + argmax
      val tot = cells.agg(sum(expr("cast(p as decimal(38,6))")).as("ptot"),
        count(lit(1)).as("nf"))
      cells.orderBy(col("p").desc, col("k")).limit(1)
        .crossJoin(broadcast(tot))
        .withColumn("g", expr("p / cast(ptot as double)"))
        .selectExpr("n", "nf", "k AS k_star",
          "round(p, 6) AS p_max", "round(g, 6) AS fisher_g",
          ("round(case when g < 1.0 then nf * exp((nf - 1) * ln(1.0 - g)) else 0.0 end, 6) "
            + "AS p_fisher"))
    }),

    // ------------------------------------------------------------------
    // Anderson–Darling normality test (case 4: both parameters
    // estimated) — the TAIL-weighted EDF test closing the
    // goodness-of-fit family (KS q124 reads the max gap, CvM q319 the
    // integrated square; AD weights by 1/[F(1−F)], the most powerful
    // of the three against tail departures — exactly where heavy-tailed
    // `value` data breaks normality first): A² = −n − (1/n)Σᵢ(2i−1)
    // [lnΦ(zᵢ) + ln(1−Φ(z_{n+1−i}))]. The rank sum is folded to ONE
    // pass over per-distinct-value cells: a value with count c at
    // exclusive prefix `below` owns ranks (below, below+c], so
    // Σ(2i−1) = 2c·below + c² and Σ(2n+1−2i) = c(2n+1) − 2c·below −
    // c(c+1) — closed-form tie handling, no row-level rank. Ranks ride
    // cumCounts' range-partitioned prefix sums; Φ via the Zelen–Severo
    // polynomial (q212's idiom, identical doubles both engines);
    // per-value terms quantize DECIMAL(28,12) pre-sum. A*² = A²(1 +
    // 0.75/n + 2.25/n²) vs the 0.752 Stephens 5% critical.
    "q329_anderson_darling" -> ((s, dir) => {
      val x = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("value").cast("decimal(18,2)").as("x"))
      val st = x.agg(count(lit(1)).as("nn"), sum(col("x")).as("sx"),
        sum(expr("cast(x * x as decimal(38,4))")).as("sxx"))
      val g = x.groupBy(expr("cast(x as double)").as("v")).agg(count(lit(1)).as("c1"))
      cumCounts(s, g)
        .crossJoin(broadcast(st))
        .withColumn("mu", expr("cast(sx as double) / nn"))
        .withColumn("sd", expr(
          "sqrt((cast(sxx as double) - cast(sx as double) * cast(sx as double) / nn) / (nn - 1))"))
        .withColumn("z", expr("(v - mu) / sd"))
        .withColumn("az", expr("abs(z)"))
        .withColumn("t", expr("1.0d / (1.0d + 0.2316419d * az)"))
        .withColumn("q", expr(
          "0.3989422804014327d * exp(-(az * az) / 2.0d) * " +
            "(0.319381530d * t - 0.356563782d * t * t + 1.781477937d * t * t * t " +
            "- 1.821255978d * t * t * t * t + 1.330274429d * t * t * t * t * t)"))
        .withColumn("lph", expr("CASE WHEN z >= 0.0d THEN ln(1.0d - q) ELSE ln(q) END"))
        .withColumn("lmq", expr("CASE WHEN z >= 0.0d THEN ln(q) ELSE ln(1.0d - q) END"))
        .withColumn("term", expr(
          "cast((2.0d * c1 * below + cast(c1 as double) * c1) * lph " +
            "+ (c1 * (2.0d * nn + 1.0d) - 2.0d * c1 * below - cast(c1 as double) * (c1 + 1.0d)) * lmq " +
            "as decimal(28,12))"))
        .agg(max(col("nn")).as("n"), max(col("mu")).as("mu"), max(col("sd")).as("sd"),
          sum(col("term")).as("sterm"))
        .selectExpr("n", "round(mu, 6) AS mean", "round(sd, 6) AS sd",
          "round(-cast(n as double) - cast(sterm as double) / n, 6) AS a2",
          ("round((-cast(n as double) - cast(sterm as double) / n) " +
            "* (1.0d + 0.75d / n + 2.25d / (n * n)), 6) AS a2_star"),
          ("(-cast(n as double) - cast(sterm as double) / n) " +
            "* (1.0d + 0.75d / n + 2.25d / (n * n)) > 0.752 AS reject_5pct"))
    }),

    // ------------------------------------------------------------------
    // Gumbel extreme-value fit on daily block maxima — the EVT reading
    // the central-moment family can't give (q275 fits the BODY of the
    // length distribution; capacity planning needs the TAIL of the
    // maxima: "what daily peak do we see once a month?"): block = day,
    // x_d = max(value); method-of-moments Gumbel β̂ = s√6/π, μ̂ = x̄ − γβ̂
    // (γ = Euler–Mascheroni, identical literal both engines), 30-day
    // return level μ̂ − β̂·ln(−ln(1−1/30)), and the exceedance
    // probability of the observed grand max under the fitted law.
    // ONE daily-max contraction (the only fact shuffle) + a 1-row
    // closed form from exact DECIMAL sums over the ≤#days cells.
    "q334_gumbel_maxima" -> ((s, dir) => {
      Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(max(col("value").cast("decimal(18,2)")).as("x"))
        .agg(count(lit(1)).as("nd"), sum(col("x")).as("sx"),
          sum(expr("cast(x * x as decimal(38,4))")).as("sxx"),
          max(col("x")).as("xmx"))
        .withColumn("m", expr("cast(sx as double) / nd"))
        .withColumn("sd", expr(
          "sqrt((cast(sxx as double) - cast(sx as double) * cast(sx as double) / nd) / (nd - 1))"))
        .withColumn("beta", expr("sd * sqrt(6.0d) / pi()"))
        .withColumn("mu", expr("m - 0.5772156649015329d * beta"))
        .selectExpr("nd AS n_days", "round(m, 6) AS mean_max", "round(sd, 6) AS sd_max",
          "round(mu, 6) AS gumbel_mu", "round(beta, 6) AS gumbel_beta",
          "round(mu - beta * ln(-ln(1.0d - 1.0d / 30.0d)), 6) AS return_level_30d",
          "round(1.0d - exp(-exp(-(cast(xmx as double) - mu) / beta)), 6) AS p_exceed_observed_max")
    }),

    // ------------------------------------------------------------------
    // Two-sample ENERGY distance (Székely–Rizzo) between the click and
    // purchase value distributions — the characteristic-function-based
    // distance that is zero IFF the distributions are equal (KS/CvM/AD
    // read ECDF gaps; energy distance metrizes equality and powers the
    // energy two-sample test): D² = 2E|X−Y| − E|X−X′| − E|Y−Y′|. In
    // 1-D every pairwise-|Δ| expectation is EXACT from sorted prefix
    // sums — never an O(n²) pair join: for each distinct v,
    // Σ_y c₂(y)|v−y| = v·cum₂ − cw₂ + (W₂−cw₂) − v·(n₂−cum₂) with cw
    // the value-weighted prefix sum. Values quantize to integer CENTS
    // (the data is 2-decimal) so all pair sums are exact integers —
    // order-free across engines; ONE four-channel cumCounts pass (plain
    // + cents-weighted counters) over the distinct-value contraction —
    // one sampling job, one sort, one totals collect. V-statistic
    // denominators (n², includes i=j zeros).
    "q330_energy_distance" -> ((s, dir) => {
      val g = Tables.events(s, dir)
        .filter(col("event_type").isin("click", "purchase") && col("value").isNotNull)
        .groupBy(expr("cast(cast(value as decimal(18,2)) as double)").as("v"))
        .agg(sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c1"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c2"))
        .withColumn("cents", expr("cast(cast(v as decimal(18,2)) * 100 as bigint)"))
      val counts = cumCounts(s, g.select(col("v"), col("c1"), col("c2"),
          (col("c1") * col("cents")).as("c3"), (col("c2") * col("cents")).as("c4")))
        .withColumnsRenamed(Map("cum3" -> "cw1", "cum4" -> "cw2",
          "n3" -> "w1tot", "n4" -> "w2tot"))
      counts
        .withColumn("cents", expr("cast(cast(v as decimal(18,2)) * 100 as bigint)"))
        .withColumn("txy", expr(
          "cast(c1 * (cents * cum2 - cw2 + (w2tot - cw2) - cents * (n2 - cum2)) as decimal(38,0))"))
        .withColumn("txx", expr(
          "cast(2 * c1 * (cents * (cum1 - c1) - (cw1 - c1 * cents)) as decimal(38,0))"))
        .withColumn("tyy", expr(
          "cast(2 * c2 * (cents * (cum2 - c2) - (cw2 - c2 * cents)) as decimal(38,0))"))
        .agg(max(col("n1")).as("n1"), max(col("n2")).as("n2"),
          sum(col("txy")).as("sxy"), sum(col("txx")).as("sxx2"), sum(col("tyy")).as("syy2"))
        .selectExpr("n1", "n2",
          "round(cast(sxy as double) / n1 / n2 / 100.0d, 6) AS e_xy",
          "round(cast(sxx2 as double) / n1 / n1 / 100.0d, 6) AS e_xx",
          "round(cast(syy2 as double) / n2 / n2 / 100.0d, 6) AS e_yy",
          ("round(2.0d * (cast(sxy as double) / n1 / n2 / 100.0d) " +
            "- cast(sxx2 as double) / n1 / n1 / 100.0d " +
            "- cast(syy2 as double) / n2 / n2 / 100.0d, 6) AS energy_dist"))
    }),

    // ------------------------------------------------------------------
    // Tukey's HSD post-hoc — the pairwise follow-up ANOVA q116 stops
    // short of (a significant F says "some pair differs"; HSD says
    // WHICH, at a family-wise 5%): per-group exact (n, Σx, Σx²) cells
    // give MSW, the k(k−1)/2 pairs are a broadcast self-join on the
    // k-cell frame (never on rows), and q = |m_i − m_j| /
    // √(MSW/2·(1/n_i + 1/n_j)) (the Tukey–Kramer unequal-n form)
    // compares against the studentized-range critical q_{0.05,k,∞} —
    // a CASE over the COMPUTED k (q261's discipline; df = N−k is
    // ~15k+ here, the ∞ asymptote's error is <0.2%, and the constant
    // is identical in both engines so the oracle is unaffected).
    "q316_tukey_hsd" -> ((s, dir) => {
      val crit = ("CASE kk WHEN 2 THEN 2.771808 WHEN 3 THEN 3.314493 WHEN 4 THEN 3.633162 "
        + "WHEN 5 THEN 3.858296 WHEN 6 THEN 4.030270 WHEN 7 THEN 4.170210 ELSE cast(null as double) END")
      val g = Tables.orders(s, dir)
        .select(col("o_orderpriority").as("pr"), col("o_totalprice").cast("decimal(18,2)").as("x"))
        .groupBy(col("pr"))
        .agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"),
          sum((col("x") * col("x")).cast("decimal(28,4)")).as("q_g"))
        // NOT checkpointed: all three consumers (MSW + both pair sides)
        // sit in the one final job, where AQE stage reuse serves them
        // from the single k-cell exchange — the eager checkpoint paid
        // an extra serial job for a ≤7-row frame (q147's lesson)
      val msw = g.agg(count(lit(1)).as("kk"), sum(col("n_g")).as("nn"),
          sum(expr("cast(cast(q_g as double) - cast(s_g as double) * cast(s_g as double) / n_g as decimal(28,6))")).as("ssw"))
        .withColumn("msw", expr("cast(ssw as double) / (nn - kk)"))
      val a = g.select(col("pr").as("pr_a"), col("n_g").as("na"),
        expr("cast(s_g as double) / n_g").as("ma"))
      val b = g.select(col("pr").as("pr_b"), col("n_g").as("nb"),
        expr("cast(s_g as double) / n_g").as("mb"))
      a.join(broadcast(b), col("pr_a") < col("pr_b"))
        .crossJoin(broadcast(msw))
        .withColumn("qstat", expr("abs(ma - mb) / sqrt(msw / 2.0 * (1.0 / na + 1.0 / nb))"))
        .selectExpr("pr_a", "pr_b", "round(ma - mb, 6) AS mean_diff",
          "round(qstat, 6) AS q_stat", s"qstat > ($crit) AS reject_5pct")
        .orderBy(col("pr_a"), col("pr_b"))
    }),

    "q310_bartlett" -> ((s, dir) => {
      val crit = ("CASE kk - 1 WHEN 1 THEN 3.841459 WHEN 2 THEN 5.991465 WHEN 3 THEN 7.814728 "
        + "WHEN 4 THEN 9.487729 WHEN 5 THEN 11.070498 WHEN 6 THEN 12.591587 ELSE cast(null as double) END")
      val g = Tables.orders(s, dir)
        .select(col("o_orderpriority").as("pr"), col("o_totalprice").cast("decimal(18,2)").as("x"))
        .groupBy(col("pr"))
        .agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"),
          sum((col("x") * col("x")).cast("decimal(28,4)")).as("q_g"))
        .withColumn("s2", expr(
          "(cast(q_g as double) - cast(s_g as double) * cast(s_g as double) / n_g) / (n_g - 1)"))
      g.agg(count(lit(1)).as("kk"), sum(col("n_g")).as("nn"),
          sum(expr("cast((n_g - 1) * s2 as decimal(28,6))")).as("sw"),
          sum(expr("cast((n_g - 1) * ln(s2) as decimal(28,12))")).as("sl"),
          sum(expr("cast(1.0 / (n_g - 1) as decimal(28,12))")).as("si"))
        .selectExpr("kk", "nn",
          "cast(sw as double) / (nn - kk) AS sp2",
          "cast(sl as double) AS sld", "cast(si as double) AS sid")
        .selectExpr("kk", "nn",
          "(nn - kk) * ln(sp2) - sld AS num",
          "1.0 + (sid - 1.0 / (nn - kk)) / (3.0 * (kk - 1.0)) AS cc")
        .selectExpr("kk AS k", "nn AS n", "round(num / cc, 6) AS bartlett_stat",
          s"num / cc > ($crit) AS reject_5pct")
    }),

    // ------------------------------------------------------------------
    // Hybrid retrieval via Reciprocal Rank Fusion (Cormack 2009, the
    // fusion every lexical+vector search stack runs): list A = BM25
    // top-50 for the seed query (q123's scoring), list B = cosine
    // top-50 against the vec_id-0 probe embedding (broadcast probe ×
    // corpus, the brute-force baseline — at index scale the same list
    // comes from q61/q142's IVF path), fused on doc_id = vec_id with
    // RRF(d) = Σ_lists 1/(60 + rank_d). Both lists are bounded 50-row
    // frames (orderBy+limit → TakeOrderedAndProject), the fusion is a
    // 50×50 full-outer join, absent ranks report the -1 sentinel
    // (NULL-typed ranks would dtype-drift through pandas), and the
    // division is CAST(1 AS DOUBLE)/(60+rank) in both engines so no
    // decimal-division scale rules apply.
    "q300_rrf_fusion" -> ((s, dir) => {
      val t = toks(s, dir)
      val dl = t.groupBy(col("doc_id")).agg(count(lit(1)).as("dl"))
        .localCheckpoint() // corpus stats + per-doc norm
      val stats = dl.agg(count(lit(1)).as("n"), sum(col("dl")).as("sumdl"))
      val tf = t.filter(col("tok").isin("spark", "join", "filter"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
      val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val scored = tf.join(broadcast(df), "tok")
        .join(dl, "doc_id").crossJoin(broadcast(stats))
        .withColumn("term_score", expr(
          "cast(ln((n - df + 0.5) / (df + 0.5) + 1.0) * " +
            "(tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl) / (cast(sumdl as double) / n))) " +
            "as decimal(28,12))"))
        .groupBy(col("doc_id")).agg(sum(col("term_score")).as("score_x"))
      val topB = scored.orderBy(col("score_x").desc, col("doc_id")).limit(50)
        .withColumn("rank_b", row_number().over(
          Window.orderBy(col("score_x").desc, col("doc_id"))))
        .select(col("doc_id").as("id"), col("rank_b"))
      val e = Tables.embeddings(s, dir)
      val probe = e.filter(col("vec_id") === 0).select(col("embedding").as("p_emb"))
      val topV = e.filter(col("vec_id") =!= 0).crossJoin(broadcast(probe))
        .withColumn("cos", round(expr("cosine_sim(embedding, p_emb)"), 6))
        .orderBy(col("cos").desc, col("vec_id")).limit(50)
        .withColumn("rank_v", row_number().over(
          Window.orderBy(col("cos").desc, col("vec_id"))))
        .select(col("vec_id").as("id"), col("rank_v"))
      val fused = topB.join(topV, Seq("id"), "full_outer")
        .withColumn("rrf", expr(
          "coalesce(cast(1 as double) / (60 + rank_b), 0.0) + coalesce(cast(1 as double) / (60 + rank_v), 0.0)"))
      val top = fused.orderBy(col("rrf").desc, col("id")).limit(15)
      top.withColumn("rank", row_number().over(
          Window.orderBy(col("rrf").desc, col("id"))))
        .select(col("rank"), col("id"),
          coalesce(col("rank_b").cast("long"), lit(-1L)).as("rank_b"),
          coalesce(col("rank_v").cast("long"), lit(-1L)).as("rank_v"),
          round(col("rrf"), 6).as("rrf"))
        .orderBy(col("rank"))
    }),

    // ------------------------------------------------------------------
    // Distributed EXACT L-moments (λ1–λ4, L-CV, L-skewness,
    // L-kurtosis) of o_totalprice — the order-statistic moment family
    // (Hosking 1990) that is robust where classical skew/kurtosis
    // (q20) explode on heavy tails, and the standard first step of a
    // regional-frequency / GEV fit. The textbook estimator needs every
    // global rank i and Σ x_(i)·C(i−1,r) — a global sort. Here the sum
    // collapses per DISTINCT VALUE via the hockey-stick identity
    // Σ_{i=lo..hi} C(i−1,r) = C(hi,r+1) − C(lo−1,r+1): cumCounts'
    // range-partitioned prefix sums give each tie-group its rank span
    // [lo,hi], and the falling-factorial differences ΔP_{r+1} telescope
    // (Σ ΔP = P(n)), so each per-value term is quantized
    // DECIMAL(38,6) and summed order-free — no global window, no
    // data-sized sort on one task. P products run in double ABOVE 2^53
    // for P4, identically associated in both engines (IEEE-
    // deterministic), and all divisions happen once, after the exact
    // sums. b_r = S_r/((r+1)!·n·C(n−1,r)); λ's are the standard
    // linear combinations.
    "q299_lmoments" -> ((s, dir) => {
      val g = Tables.orders(s, dir)
        .groupBy(col("o_totalprice").cast("decimal(18,2)").cast("double").as("v"))
        .agg(count(lit(1)).as("c1"))
      val sums = cumCounts(s, g)
        .withColumn("hi", col("cum1").cast("double"))
        .withColumn("lod", (col("cum1") - col("c1")).cast("double"))
        .agg(
          max(col("n1")).as("n"),
          sum(expr("cast(v * (hi - lod) as decimal(38,6))")).as("s0"),
          sum(expr("cast(v * (hi * (hi - 1.0) - lod * (lod - 1.0)) as decimal(38,6))")).as("s1"),
          sum(expr("cast(v * (hi * (hi - 1.0) * (hi - 2.0) - lod * (lod - 1.0) * (lod - 2.0)) as decimal(38,6))")).as("s2"),
          sum(expr("cast(v * (hi * (hi - 1.0) * (hi - 2.0) * (hi - 3.0) - lod * (lod - 1.0) * (lod - 2.0) * (lod - 3.0)) as decimal(38,6))")).as("s3"))
      sums
        .selectExpr("n", "cast(n as double) AS nd",
          "cast(s0 as double) AS d0", "cast(s1 as double) AS d1",
          "cast(s2 as double) AS d2", "cast(s3 as double) AS d3")
        .selectExpr("n",
          "d0 / nd AS b0",
          "d1 / (2.0 * nd * (nd - 1.0)) AS b1",
          "d2 / (3.0 * nd * (nd - 1.0) * (nd - 2.0)) AS b2",
          "d3 / (4.0 * nd * (nd - 1.0) * (nd - 2.0) * (nd - 3.0)) AS b3")
        .selectExpr("n", "b0 AS lam1", "2.0 * b1 - b0 AS lam2",
          "6.0 * b2 - 6.0 * b1 + b0 AS lam3",
          "20.0 * b3 - 30.0 * b2 + 12.0 * b1 - b0 AS lam4")
        .selectExpr("n", "round(lam1, 6) AS lam1", "round(lam2, 6) AS lam2",
          "round(lam3, 6) AS lam3", "round(lam4, 6) AS lam4",
          "round(lam2 / lam1, 6) AS l_cv",
          "round(lam3 / lam2, 6) AS l_skew",
          "round(lam4 / lam2, 6) AS l_kurt")
    }),

    // ------------------------------------------------------------------
    // Percentile-bootstrap CI for the MEDIAN of per-type daily revenue
    // — the nonparametric statistic q99's mean-bootstrap cannot cover
    // (a median has no CLT normal approximation worth trusting at
    // these n, and q270's order-statistic CI only exists ungrouped).
    // Resampling is q99's discipline verbatim: md5(b,i) mod n picks
    // each resample element — never rand(), so the CI is reproducible
    // across runs/engines/partitionings. B=200 resamples over bounded
    // post-agg daily rows; each resample median interpolates over
    // exact-decimal daily sums cast to double (the q21
    // percentile↔quantile_cont parity recipe); the outer percentile
    // runs over 200 medians per type.
    "q297_bootstrap_median" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).as("vd"))
        .localCheckpoint() // ranked resample frame + original median
      val ranked = daily
        .withColumn("idx", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col("day"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      val grid = ranked.select(col("event_type"), col("n")).distinct()
        .select(col("event_type"), col("n"), explode(expr("sequence(1, 200)")).as("b"))
        .select(col("event_type"), col("n"), col("b"), explode(expr("sequence(1, n)")).as("i"))
        .withColumn("idx", expr(
          "md5_mod(concat('bsm|', event_type, '|', cast(b as string), '|', cast(i as string)), n) + 1"))
      val meds = grid
        .join(ranked.select(col("event_type"), col("idx"), col("vd")), Seq("event_type", "idx"))
        .groupBy(col("event_type"), col("b"), col("n"))
        .agg(expr("percentile(cast(vd as double), 0.5d)").as("med_b"))
      val orig = daily.groupBy(col("event_type"))
        .agg(round(expr("percentile(cast(vd as double), 0.5d)"), 6).as("med_v"))
      meds.groupBy(col("event_type"), col("n"))
        .agg(round(expr("percentile(med_b, 0.025d)"), 6).as("ci_lo"),
          round(expr("percentile(med_b, 0.975d)"), 6).as("ci_hi"))
        .join(broadcast(orig), "event_type")
        .select(col("event_type"), col("n"), col("med_v"), col("ci_lo"), col("ci_hi"))
        .orderBy(col("event_type"))
    }),

    // ------------------------------------------------------------------
    // BM25F — FIELD-WEIGHTED retrieval (q123 treats a document as one
    // bag; real corpora are structured and a title hit should outrank a
    // body hit): fields are synthesized positionally (title = first 5
    // raw tokens, body = the rest — same slice both engines), each
    // field gets its own weight and length normalization (title w=2
    // b=0.5, body w=1 b=0.75), the per-field normalized tfs SUM into
    // one pseudo-frequency, and ONE saturation k1=1.2 applies to the
    // combined value — the defining BM25F property (per-field BM25
    // scores added naively would saturate each field separately).
    // Per-(doc,field,term) terms and the final per-doc score both
    // quantize DECIMAL(28,12) pre-sum; top-15 via TakeOrdered, rank
    // window on the 15-row tail (q123's plan shape).
    "q366_bm25f" -> ((s, dir) => {
      val raw = Tables.documents(s, dir)
        .select(col("doc_id"), split(col("text"), " ").as("arr"))
      val ft = raw.select(col("doc_id"), lit("title").as("fld"),
          explode(expr("slice(arr, 1, 5)")).as("tok"))
        .unionByName(raw.select(col("doc_id"), lit("body").as("fld"),
          explode(expr("slice(arr, 6, greatest(size(arr) - 5, 0))")).as("tok")))
        .filter(col("tok") =!= "")
      val flen = ft.groupBy(col("doc_id"), col("fld")).agg(count(lit(1)).as("fl"))
        .localCheckpoint() // field-length norm + per-field averages
      val avgf = flen.groupBy(col("fld"))
        .agg((sum(col("fl")).cast("double") / count(lit(1))).as("afl"))
      val nd = raw.agg(count(lit(1)).as("n"))
      val tf = ft.filter(col("tok").isin("spark", "join", "filter"))
        .groupBy(col("doc_id"), col("fld"), col("tok")).agg(count(lit(1)).as("tf"))
        .localCheckpoint() // wtf terms + df
      val df = tf.groupBy(col("tok")).agg(countDistinct(col("doc_id")).as("df"))
      val wtf = tf.join(flen, Seq("doc_id", "fld")).join(broadcast(avgf), "fld")
        .withColumn("term", expr(
          "cast((CASE WHEN fld = 'title' THEN 2.0 ELSE 1.0 END) * tf / "
            + "((CASE WHEN fld = 'title' THEN 0.5 ELSE 0.25 END) + "
            + "(CASE WHEN fld = 'title' THEN 0.5 ELSE 0.75 END) * fl / afl) as decimal(28,12))"))
        .groupBy(col("doc_id"), col("tok")).agg(sum(col("term")).as("wtf"))
      val scored = wtf.join(broadcast(df), "tok").crossJoin(broadcast(nd))
        .withColumn("tscore", expr(
          "cast(ln((n - df + 0.5) / (df + 0.5) + 1.0) * "
            + "cast(wtf as double) / (1.2 + cast(wtf as double)) as decimal(28,12))"))
        .groupBy(col("doc_id")).agg(sum(col("tscore")).as("sx"))
      val top = scored.orderBy(col("sx").desc, col("doc_id")).limit(15)
      top.withColumn("rank",
          row_number().over(org.apache.spark.sql.expressions.Window
            .orderBy(col("sx").desc, col("doc_id"))))
        .select(col("rank"), col("doc_id"), round(col("sx").cast("double"), 6).as("score"))
        .orderBy(col("rank"))
    }),

    // ------------------------------------------------------------------
    // Maximum Mean Discrepancy (RBF kernel, unbiased estimator) — the
    // kernel two-sample test that sees distribution differences the
    // 1-D closed forms (q330 energy distance, q124 KS) can miss in
    // higher moments. Samples = daily value sums per event_type (view
    // vs click): the corpus contracts to ≤2·#days rows in ONE shuffle,
    // so the m·n / m(m−1) kernel pair stage is day²-bounded — never a
    // row-level pair join — and both sides broadcast. Bandwidth = the
    // median-heuristic stand-in every large-scale MMD uses when a
    // second pass is too dear: the pooled sample variance of the
    // combined daily series, computed from EXACT decimal power sums.
    // Each kernel term exp(−(vᵢ−vⱼ)²/2σ²) is quantized to
    // DECIMAL(28,12) pre-sum (§4.3: associativity-proof), and
    // MMD² = Sxx/m(m−1) + Syy/n(n−1) − 2·Sxy/mn from raw ratios.
    "q386_mmd_rbf" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .filter(col("event_type").isin("view", "click") && col("value").isNotNull)
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type").as("t"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
        .localCheckpoint() // consumed by σ², the counts, and the pair join
      val sig = daily.agg(count(lit(1)).as("nn"),
          sum(col("v").cast("decimal(28,2)")).as("sv"),
          sum(expr("cast(v * v as decimal(38,6))")).as("sv2"))
        .withColumn("sigma2", expr(
          "(cast(sv2 as double) - cast(sv as double) * cast(sv as double) / nn) / (nn - 1)"))
        .select("sigma2")
      val cnt = daily.agg(
        sum(when(col("t") === "view", 1L).otherwise(0L)).as("m"),
        sum(when(col("t") === "click", 1L).otherwise(0L)).as("n"))
      val b = daily.select(col("t").as("tb"), col("day").as("db"), col("v").as("vb"))
      daily.join(broadcast(b), col("day") =!= col("db") || col("t") =!= col("tb"))
        .crossJoin(broadcast(sig))
        .withColumn("k", expr(
          "cast(exp(-((v - vb) * (v - vb)) / (2.0d * sigma2)) as decimal(28,12))"))
        .agg(max(col("sigma2")).as("sigma2"),
          sum(when(col("t") === "view" && col("tb") === "view", col("k"))).as("sxx"),
          sum(when(col("t") === "click" && col("tb") === "click", col("k"))).as("syy"),
          sum(when(col("t") === "view" && col("tb") === "click", col("k"))).as("sxy"))
        .crossJoin(broadcast(cnt))
        .selectExpr("m", "n", "round(sigma2, 4) AS sigma2",
          "round(cast(sxx as double) / (m * (m - 1)), 8) AS kxx",
          "round(cast(syy as double) / (n * (n - 1)), 8) AS kyy",
          "round(cast(sxy as double) / (m * n), 8) AS kxy",
          ("round(cast(sxx as double) / (m * (m - 1)) + cast(syy as double) / (n * (n - 1)) "
            + "- 2.0d * cast(sxy as double) / (m * n), 8) AS mmd2"))
    }),
  )

  def oracles: Map[String, String] = Map(
    // q386: same contraction, same quantized kernel terms, same raw
    // ratios — the pair stage is the identical day-bounded self-join.
    "q386_mmd_rbf" ->
      ("WITH daily AS (SELECT date_trunc('day', ts) AS day, event_type AS t, "
        + "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v "
        + "FROM events WHERE event_type IN ('view', 'click') AND value IS NOT NULL GROUP BY 1, 2), "
        + "sig AS (SELECT (CAST(sum(CAST(v * v AS DECIMAL(38,6))) AS DOUBLE) "
        + "- CAST(sum(CAST(v AS DECIMAL(28,2))) AS DOUBLE) * CAST(sum(CAST(v AS DECIMAL(28,2))) AS DOUBLE) / count(*)) "
        + "/ (count(*) - 1) AS sigma2 FROM daily), "
        + "cnt AS (SELECT CAST(sum(CASE WHEN t = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS m, "
        + "CAST(sum(CASE WHEN t = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n FROM daily), "
        + "pairs AS (SELECT a.t AS ta, b.t AS tb, "
        + "CAST(exp(-((a.v - b.v) * (a.v - b.v)) / (2.0 * sigma2)) AS DECIMAL(28,12)) AS k "
        + "FROM daily a CROSS JOIN daily b CROSS JOIN sig WHERE a.day <> b.day OR a.t <> b.t), "
        + "agg AS (SELECT sum(CASE WHEN ta = 'view' AND tb = 'view' THEN k END) AS sxx, "
        + "sum(CASE WHEN ta = 'click' AND tb = 'click' THEN k END) AS syy, "
        + "sum(CASE WHEN ta = 'view' AND tb = 'click' THEN k END) AS sxy FROM pairs) "
        + "SELECT m, n, round(sigma2, 4) AS sigma2, "
        + "round(CAST(sxx AS DOUBLE) / (m * (m - 1)), 8) AS kxx, "
        + "round(CAST(syy AS DOUBLE) / (n * (n - 1)), 8) AS kyy, "
        + "round(CAST(sxy AS DOUBLE) / (m * n), 8) AS kxy, "
        + "round(CAST(sxx AS DOUBLE) / (m * (m - 1)) + CAST(syy AS DOUBLE) / (n * (n - 1)) "
        + "- 2.0 * CAST(sxy AS DOUBLE) / (m * n), 8) AS mmd2 "
        + "FROM agg CROSS JOIN cnt CROSS JOIN sig"),
    "q366_bm25f" ->
      ("WITH arr AS (SELECT doc_id, string_split(text, ' ') AS a FROM documents), "
        + "ft AS (SELECT doc_id, fld, tok FROM ("
        + "SELECT doc_id, 'title' AS fld, unnest(list_slice(a, 1, 5)) AS tok FROM arr "
        + "UNION ALL SELECT doc_id, 'body' AS fld, unnest(list_slice(a, 6, len(a))) AS tok FROM arr"
        + ") WHERE tok <> ''), "
        + "flen AS (SELECT doc_id, fld, count(*) AS fl FROM ft GROUP BY 1, 2), "
        + "avgf AS (SELECT fld, CAST(sum(fl) AS DOUBLE) / count(*) AS afl FROM flen GROUP BY 1), "
        + "nd AS (SELECT count(*) AS n FROM arr), "
        + "tf AS (SELECT doc_id, fld, tok, count(*) AS tf FROM ft "
        + "WHERE tok IN ('spark', 'join', 'filter') GROUP BY 1, 2, 3), "
        + "df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY 1), "
        + "wtf AS (SELECT t.doc_id, t.tok, sum(CAST("
        + "(CASE WHEN t.fld = 'title' THEN 2.0 ELSE 1.0 END) * t.tf / "
        + "((CASE WHEN t.fld = 'title' THEN 0.5 ELSE 0.25 END) + "
        + "(CASE WHEN t.fld = 'title' THEN 0.5 ELSE 0.75 END) * l.fl / g.afl) AS DECIMAL(28,12))) AS wtf "
        + "FROM tf t JOIN flen l ON t.doc_id = l.doc_id AND t.fld = l.fld "
        + "JOIN avgf g ON t.fld = g.fld GROUP BY 1, 2), "
        + "scored AS (SELECT w.doc_id, sum(CAST(ln((nd.n - d.df + 0.5) / (d.df + 0.5) + 1.0) * "
        + "CAST(w.wtf AS DOUBLE) / (1.2 + CAST(w.wtf AS DOUBLE)) AS DECIMAL(28,12))) AS sx "
        + "FROM wtf w JOIN df d ON w.tok = d.tok CROSS JOIN nd GROUP BY 1), "
        + "top AS (SELECT doc_id, sx FROM scored ORDER BY sx DESC, doc_id LIMIT 15) "
        + "SELECT row_number() OVER (ORDER BY sx DESC, doc_id) AS rank, doc_id, "
        + "round(CAST(sx AS DOUBLE), 6) AS score FROM top ORDER BY rank"),
    "q328_periodogram" ->
      ("WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y FROM events GROUP BY 1), "
        + "nn AS (SELECT count(*) AS n FROM daily), "
        + "idx AS (SELECT y, row_number() OVER (ORDER BY day) - 1 AS i, n FROM daily CROSS JOIN nn), "
        + "ks AS (SELECT unnest(range(1, CAST(floor((n - 1) / 2) AS BIGINT) + 1)) AS k FROM nn), "
        + "cells AS (SELECT k, max(n) AS n, "
        + "sum(CAST(y * cos(2.0 * pi() * k * i / n) AS DECIMAL(28,12))) AS sc, "
        + "sum(CAST(y * sin(2.0 * pi() * k * i / n) AS DECIMAL(28,12))) AS ss "
        + "FROM idx CROSS JOIN ks GROUP BY k), "
        + "pw AS (SELECT k, n, CAST(sc AS DOUBLE) * CAST(sc AS DOUBLE) + CAST(ss AS DOUBLE) * CAST(ss AS DOUBLE) AS p FROM cells), "
        + "tot AS (SELECT CAST(sum(CAST(p AS DECIMAL(38,6))) AS DOUBLE) AS ptot, count(*) AS nf FROM pw), "
        + "top AS (SELECT * FROM pw ORDER BY p DESC, k LIMIT 1) "
        + "SELECT n, nf, k AS k_star, round(p, 6) AS p_max, round(p / ptot, 6) AS fisher_g, "
        + "round(CASE WHEN p / ptot < 1.0 THEN nf * exp((nf - 1) * ln(1.0 - p / ptot)) ELSE 0.0 END, 6) AS p_fisher "
        + "FROM top CROSS JOIN tot"),
    "q334_gumbel_maxima" ->
      ("WITH daily AS (SELECT CAST(ts AS DATE) AS day, max(CAST(value AS DECIMAL(18,2))) AS x "
        + "FROM events WHERE value IS NOT NULL GROUP BY 1), "
        + "st AS (SELECT count(*) AS nd, sum(x) AS sx, sum(CAST(x * x AS DECIMAL(38,4))) AS sxx, max(x) AS xmx FROM daily), "
        + "f AS (SELECT nd, xmx, CAST(sx AS DOUBLE) / nd AS m, "
        + "sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / nd) / (nd - 1)) AS sd FROM st), "
        + "g AS (SELECT *, sd * sqrt(6.0) / pi() AS beta FROM f), "
        + "h AS (SELECT *, m - 0.5772156649015329 * beta AS mu FROM g) "
        + "SELECT nd AS n_days, round(m, 6) AS mean_max, round(sd, 6) AS sd_max, "
        + "round(mu, 6) AS gumbel_mu, round(beta, 6) AS gumbel_beta, "
        + "round(mu - beta * ln(-ln(1.0 - 1.0 / 30.0)), 6) AS return_level_30d, "
        + "round(1.0 - exp(-exp(-(CAST(xmx AS DOUBLE) - mu) / beta)), 6) AS p_exceed_observed_max FROM h"),
    "q329_anderson_darling" ->
      ("WITH x AS (SELECT CAST(value AS DECIMAL(18,2)) AS x FROM events WHERE value IS NOT NULL), "
        + "st AS (SELECT count(*) AS nn, sum(x) AS sx, sum(CAST(x * x AS DECIMAL(38,4))) AS sxx FROM x), "
        + "g AS (SELECT CAST(x AS DOUBLE) AS v, CAST(count(*) AS BIGINT) AS c1 FROM x GROUP BY 1), "
        + "cum AS (SELECT v, c1, CAST(sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - c1 AS below FROM g), "
        + "zt AS (SELECT v, c1, below, nn, CAST(sx AS DOUBLE) / nn AS mu, "
        + "sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / nn) / (nn - 1)) AS sd FROM cum CROSS JOIN st), "
        + "z2 AS (SELECT *, (v - mu) / sd AS z, abs((v - mu) / sd) AS az FROM zt), "
        + "z3 AS (SELECT *, 1.0 / (1.0 + 0.2316419 * az) AS t FROM z2), "
        + "z4 AS (SELECT *, 0.3989422804014327 * exp(-(az * az) / 2.0) * "
        + "(0.319381530 * t - 0.356563782 * t * t + 1.781477937 * t * t * t "
        + "- 1.821255978 * t * t * t * t + 1.330274429 * t * t * t * t * t) AS q FROM z3), "
        + "z5 AS (SELECT *, CASE WHEN z >= 0.0 THEN ln(1.0 - q) ELSE ln(q) END AS lph, "
        + "CASE WHEN z >= 0.0 THEN ln(q) ELSE ln(1.0 - q) END AS lmq FROM z4), "
        + "agg AS (SELECT max(nn) AS n, max(mu) AS mu, max(sd) AS sd, "
        + "CAST(sum(CAST((2.0 * c1 * below + CAST(c1 AS DOUBLE) * c1) * lph "
        + "+ (c1 * (2.0 * nn + 1.0) - 2.0 * c1 * below - CAST(c1 AS DOUBLE) * (c1 + 1.0)) * lmq "
        + "AS DECIMAL(28,12))) AS DOUBLE) AS sterm FROM z5) "
        + "SELECT n, round(mu, 6) AS mean, round(sd, 6) AS sd, "
        + "round(-CAST(n AS DOUBLE) - sterm / n, 6) AS a2, "
        + "round((-CAST(n AS DOUBLE) - sterm / n) * (1.0 + 0.75 / n + 2.25 / (n * n)), 6) AS a2_star, "
        + "(-CAST(n AS DOUBLE) - sterm / n) * (1.0 + 0.75 / n + 2.25 / (n * n)) > 0.752 AS reject_5pct FROM agg"),
    "q330_energy_distance" ->
      ("WITH g AS (SELECT CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS v, "
        + "CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c1, "
        + "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c2 "
        + "FROM events WHERE event_type IN ('click', 'purchase') AND value IS NOT NULL GROUP BY 1), "
        + "g2 AS (SELECT *, CAST(CAST(v AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents FROM g), "
        + "t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2, "
        + "CAST(sum(c1 * cents) AS BIGINT) AS w1tot, CAST(sum(c2 * cents) AS BIGINT) AS w2tot FROM g2), "
        + "cums AS (SELECT c1, c2, cents, n1, n2, w1tot, w2tot, "
        + "CAST(sum(c1) OVER w AS BIGINT) AS cum1, CAST(sum(c2) OVER w AS BIGINT) AS cum2, "
        + "CAST(sum(c1 * cents) OVER w AS BIGINT) AS cw1, CAST(sum(c2 * cents) OVER w AS BIGINT) AS cw2 "
        + "FROM g2 CROSS JOIN t WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), "
        + "agg AS (SELECT max(n1) AS n1, max(n2) AS n2, "
        + "sum(CAST(c1 * (cents * cum2 - cw2 + (w2tot - cw2) - cents * (n2 - cum2)) AS DECIMAL(38,0))) AS sxy, "
        + "sum(CAST(2 * c1 * (cents * (cum1 - c1) - (cw1 - c1 * cents)) AS DECIMAL(38,0))) AS sxx2, "
        + "sum(CAST(2 * c2 * (cents * (cum2 - c2) - (cw2 - c2 * cents)) AS DECIMAL(38,0))) AS syy2 FROM cums) "
        + "SELECT n1, n2, round(CAST(sxy AS DOUBLE) / n1 / n2 / 100.0, 6) AS e_xy, "
        + "round(CAST(sxx2 AS DOUBLE) / n1 / n1 / 100.0, 6) AS e_xx, "
        + "round(CAST(syy2 AS DOUBLE) / n2 / n2 / 100.0, 6) AS e_yy, "
        + "round(2.0 * (CAST(sxy AS DOUBLE) / n1 / n2 / 100.0) "
        + "- CAST(sxx2 AS DOUBLE) / n1 / n1 / 100.0 "
        + "- CAST(syy2 AS DOUBLE) / n2 / n2 / 100.0, 6) AS energy_dist FROM agg"),
    "q319_cvm_test" ->
      ("WITH g AS (SELECT value AS v, CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS c1, "
        + "CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c2 "
        + "FROM events WHERE event_type IN ('view', 'click') AND value IS NOT NULL GROUP BY value), "
        + "t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM g), "
        + "cums AS (SELECT c1, c2, n1, n2, "
        + "CAST(sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum1, "
        + "CAST(sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum2 FROM g CROSS JOIN t), "
        + "agg AS (SELECT max(n1) AS n1, max(n2) AS n2, CAST(sum(CAST((c1 + c2) * "
        + "(CAST(cum1 AS DOUBLE) / n1 - CAST(cum2 AS DOUBLE) / n2) * (CAST(cum1 AS DOUBLE) / n1 - CAST(cum2 AS DOUBLE) / n2) "
        + "AS DECIMAL(28,12))) AS DOUBLE) AS sx FROM cums) "
        + "SELECT n1, n2, round(CAST(n1 AS DOUBLE) * n2 / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)) * sx, 6) AS cvm_t, "
        + "CAST(n1 AS DOUBLE) * n2 / (CAST(n1 + n2 AS DOUBLE) * (n1 + n2)) * sx > 0.461 AS reject_5pct FROM agg"),
    "q323_qlm_dirichlet" ->
      ("WITH t AS (SELECT doc_id, tok FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) WHERE tok <> ''), "
        + "dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id), "
        + "ctot AS (SELECT CAST(sum(dl) AS BIGINT) AS ctot FROM dl), "
        + "cf AS (SELECT tok, CAST(300 AS DOUBLE) * count(*) / (SELECT ctot FROM ctot) AS mpc "
        + "FROM t WHERE tok IN ('spark', 'data', 'query') GROUP BY tok), "
        + "bt AS (SELECT CAST(sum(CAST(ln(mpc) AS DECIMAL(28,12))) AS DOUBLE) AS slnmpc, count(*) AS nq FROM cf), "
        + "base AS (SELECT doc_id, dl, CAST(slnmpc - nq * ln(dl + 300.0) AS DECIMAL(28,12)) AS base_x FROM dl CROSS JOIN bt), "
        + "tf AS (SELECT doc_id, tok, count(*) AS tf FROM t WHERE tok IN ('spark', 'data', 'query') GROUP BY doc_id, tok), "
        + "adj AS (SELECT doc_id, sum(CAST(ln(tf + mpc) - ln(mpc) AS DECIMAL(28,12))) AS adj_x, count(*) AS n_hit "
        + "FROM tf JOIN cf USING (tok) GROUP BY doc_id), "
        + "scored AS (SELECT base.doc_id, dl, coalesce(n_hit, 0) AS n_terms_present, "
        + "base_x + coalesce(adj_x, CAST(0 AS DECIMAL(28,12))) AS score_x "
        + "FROM base LEFT JOIN adj ON base.doc_id = adj.doc_id) "
        + "SELECT rank, doc_id, dl, n_terms_present, round(CAST(score_x AS DOUBLE), 6) AS score FROM ("
        + "SELECT doc_id, dl, n_terms_present, score_x, row_number() OVER (ORDER BY score_x DESC, doc_id) AS rank FROM scored) "
        + "WHERE rank <= 15 ORDER BY rank"),
    "q314_wilcoxon_signed" ->
      ("WITH per AS (SELECT user_id, "
        + "sum(CASE WHEN epoch_us(ts) < 1705363200000000 THEN CAST(value AS DECIMAL(18,2)) END) AS spre, "
        + "count(CASE WHEN epoch_us(ts) < 1705363200000000 THEN 1 END) AS npre, "
        + "sum(CASE WHEN epoch_us(ts) >= 1705363200000000 THEN CAST(value AS DECIMAL(18,2)) END) AS spost, "
        + "count(CASE WHEN epoch_us(ts) >= 1705363200000000 THEN 1 END) AS npost "
        + "FROM events WHERE value IS NOT NULL GROUP BY user_id), "
        + "d AS (SELECT CAST(spost AS DOUBLE) / npost - CAST(spre AS DOUBLE) / npre AS d "
        + "FROM per WHERE npre > 0 AND npost > 0), "
        + "dd AS (SELECT d FROM d WHERE d <> 0), "
        + "g AS (SELECT abs(d) AS v, CAST(sum(CASE WHEN d > 0 THEN 1 ELSE 0 END) AS BIGINT) AS c1, "
        + "CAST(sum(CASE WHEN d < 0 THEN 1 ELSE 0 END) AS BIGINT) AS c2 FROM dd GROUP BY 1), "
        + "r AS (SELECT v, c1, c2, coalesce(sum(c1 + c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below FROM g), "
        + "agg AS (SELECT CAST(sum(c1 + c2) AS BIGINT) AS n, "
        + "CAST(sum(CAST((below + (c1 + c2 + 1) / 2.0) * c1 AS DECIMAL(28,6))) AS DOUBLE) AS wx, "
        + "CAST(sum((c1 + c2) * (c1 + c2) * (c1 + c2) - (c1 + c2)) AS BIGINT) AS tie FROM r), "
        + "st AS (SELECT n, wx, (wx - n * (n + 1.0) / 4.0) / "
        + "sqrt(n * (n + 1.0) * (2.0 * n + 1.0) / 24.0 - tie / 48.0) AS z FROM agg) "
        + "SELECT n, round(wx, 6) AS w_plus, round(z, 6) AS z_stat, abs(z) > 1.959964 AS reject_5pct FROM st"),
    "q316_tukey_hsd" -> {
      val crit = ("CASE kk WHEN 2 THEN 2.771808 WHEN 3 THEN 3.314493 WHEN 4 THEN 3.633162 "
        + "WHEN 5 THEN 3.858296 WHEN 6 THEN 4.030270 WHEN 7 THEN 4.170210 ELSE CAST(NULL AS DOUBLE) END")
      ("WITH g AS (SELECT o_orderpriority AS pr, count(*) AS n_g, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s_g, "
        + "sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS q_g FROM orders GROUP BY pr), "
        + "m AS (SELECT count(*) AS kk, CAST(sum(n_g) AS BIGINT) AS nn, "
        + "CAST(sum(CAST(CAST(q_g AS DOUBLE) - CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / n_g AS DECIMAL(28,6))) AS DOUBLE) AS ssw FROM g), "
        + "m2 AS (SELECT kk, ssw / (nn - kk) AS msw FROM m), "
        + "p AS (SELECT a.pr AS pr_a, b.pr AS pr_b, CAST(a.s_g AS DOUBLE) / a.n_g AS ma, "
        + "CAST(b.s_g AS DOUBLE) / b.n_g AS mb, a.n_g AS na, b.n_g AS nb "
        + "FROM g a JOIN g b ON a.pr < b.pr), "
        + "q AS (SELECT pr_a, pr_b, ma - mb AS mean_diff, "
        + "abs(ma - mb) / sqrt(msw / 2.0 * (1.0 / na + 1.0 / nb)) AS qstat, kk FROM p CROSS JOIN m2) "
        + s"SELECT pr_a, pr_b, round(mean_diff, 6) AS mean_diff, round(qstat, 6) AS q_stat, qstat > ($crit) AS reject_5pct "
        + "FROM q ORDER BY pr_a, pr_b")
    },
    "q307_friedman" -> {
      val crit = ("CASE kk - 1 WHEN 1 THEN 3.841459 WHEN 2 THEN 5.991465 WHEN 3 THEN 7.814728 "
        + "WHEN 4 THEN 9.487729 WHEN 5 THEN 11.070498 WHEN 6 THEN 12.591587 ELSE CAST(NULL AS DOUBLE) END")
      ("WITH cells AS (SELECT CAST(ts AS DATE) AS day, event_type, "
        + "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) / count(*) AS m "
        + "FROM events WHERE value IS NOT NULL GROUP BY 1, 2), "
        + "kf AS (SELECT count(DISTINCT event_type) AS kk FROM cells), "
        + "complete AS (SELECT day FROM cells CROSS JOIN kf GROUP BY day, kk HAVING count(*) = kk), "
        + "ranked AS (SELECT c.day, c.event_type, row_number() OVER (PARTITION BY c.day ORDER BY c.m, c.event_type) AS r "
        + "FROM cells c JOIN complete USING (day)), "
        + "rsums AS (SELECT event_type, CAST(sum(r) AS BIGINT) AS rj, count(*) AS nd FROM ranked GROUP BY 1), "
        + "agg AS (SELECT max(nd) AS n, count(*) AS kk, CAST(sum(rj * rj) AS BIGINT) AS sr2 FROM rsums), "
        + "st AS (SELECT n, kk, CAST(12 AS DOUBLE) / (n * kk * (kk + CAST(1 AS DOUBLE))) * sr2 - CAST(3 AS DOUBLE) * n * (kk + CAST(1 AS DOUBLE)) AS chi2_raw, "
        + s"$crit AS critv FROM agg) "
        + "SELECT CAST(n AS BIGINT) AS n_blocks, CAST(kk AS BIGINT) AS k, round(chi2_raw, 6) AS chi2_friedman, "
        + "chi2_raw > critv AS reject_5pct FROM st")
    },
    "q310_bartlett" -> {
      val crit = ("CASE kk - 1 WHEN 1 THEN 3.841459 WHEN 2 THEN 5.991465 WHEN 3 THEN 7.814728 "
        + "WHEN 4 THEN 9.487729 WHEN 5 THEN 11.070498 WHEN 6 THEN 12.591587 ELSE CAST(NULL AS DOUBLE) END")
      ("WITH g AS (SELECT o_orderpriority AS pr, count(*) AS n_g, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s_g, "
        + "sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS q_g FROM orders GROUP BY pr), "
        + "g2 AS (SELECT n_g, (CAST(q_g AS DOUBLE) - CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / n_g) / (n_g - 1) AS s2 FROM g), "
        + "agg AS (SELECT count(*) AS kk, CAST(sum(n_g) AS BIGINT) AS nn, "
        + "CAST(sum(CAST((n_g - 1) * s2 AS DECIMAL(28,6))) AS DOUBLE) AS sw, "
        + "CAST(sum(CAST((n_g - 1) * ln(s2) AS DECIMAL(28,12))) AS DOUBLE) AS sl, "
        + "CAST(sum(CAST(1.0 / (n_g - 1) AS DECIMAL(28,12))) AS DOUBLE) AS si FROM g2), "
        + "st AS (SELECT kk, nn, (nn - kk) * ln(sw / (nn - kk)) - sl AS num, "
        + "1.0 + (si - 1.0 / (nn - kk)) / (3.0 * (kk - 1.0)) AS cc, "
        + s"$crit AS critv FROM agg) "
        + "SELECT CAST(kk AS BIGINT) AS k, nn AS n, round(num / cc, 6) AS bartlett_stat, "
        + "num / cc > critv AS reject_5pct FROM st")
    },
    "q300_rrf_fusion" ->
      ("WITH t AS (SELECT doc_id, tok FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) WHERE tok <> ''), "
        + "dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id), "
        + "stats AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sumdl FROM dl), "
        + "tf AS (SELECT doc_id, tok, count(*) AS tf FROM t WHERE tok IN ('spark', 'join', 'filter') GROUP BY doc_id, tok), "
        + "df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok), "
        + "scored AS (SELECT tf.doc_id, sum(CAST(ln((n - df + 0.5) / (df + 0.5) + 1.0) * "
        + "(tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl) / (CAST(sumdl AS DOUBLE) / n))) AS DECIMAL(28,12))) AS score_x "
        + "FROM tf JOIN df USING (tok) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats GROUP BY tf.doc_id), "
        + "topb AS (SELECT doc_id AS id, row_number() OVER (ORDER BY score_x DESC, doc_id) AS rank_b FROM ("
        + "SELECT doc_id, score_x FROM scored ORDER BY score_x DESC, doc_id LIMIT 50)), "
        + "probe AS (SELECT embedding AS p_emb FROM embeddings WHERE vec_id = 0), "
        + "cosd AS (SELECT e.vec_id, round(list_sum(list_transform(range(1, len(e.embedding) + 1), i -> "
        + "CAST(e.embedding[i] AS DOUBLE) * CAST(p.p_emb[i] AS DOUBLE))) / "
        + "(sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * "
        + "sqrt(list_sum(list_transform(p.p_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos "
        + "FROM embeddings e CROSS JOIN probe p WHERE e.vec_id <> 0), "
        + "topv AS (SELECT vec_id AS id, row_number() OVER (ORDER BY cos DESC, vec_id) AS rank_v FROM ("
        + "SELECT vec_id, cos FROM cosd ORDER BY cos DESC, vec_id LIMIT 50)), "
        + "fused AS (SELECT coalesce(b.id, v.id) AS id, b.rank_b, v.rank_v, "
        + "coalesce(CAST(1 AS DOUBLE) / (60 + b.rank_b), 0.0) + coalesce(CAST(1 AS DOUBLE) / (60 + v.rank_v), 0.0) AS rrf "
        + "FROM topb b FULL OUTER JOIN topv v ON b.id = v.id) "
        + "SELECT rank, id, coalesce(CAST(rank_b AS BIGINT), -1) AS rank_b, coalesce(CAST(rank_v AS BIGINT), -1) AS rank_v, round(rrf, 6) AS rrf FROM ("
        + "SELECT id, rank_b, rank_v, rrf, row_number() OVER (ORDER BY rrf DESC, id) AS rank FROM fused) "
        + "WHERE rank <= 15 ORDER BY rank"),
    "q294_bm25_prf" -> {
      val bm25 = ("ln((n - df + 0.5) / (df + 0.5) + 1.0) * "
        + "(tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl) / (CAST(sumdl AS DOUBLE) / n)))")
      ("WITH t AS (SELECT doc_id, tok FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) WHERE tok <> ''), "
        + "dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id), "
        + "stats AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sumdl FROM dl), "
        + "dfa AS (SELECT tok, count(*) AS df FROM (SELECT DISTINCT doc_id, tok FROM t) GROUP BY tok), "
        + "tf1 AS (SELECT doc_id, tok, count(*) AS tf FROM t WHERE tok IN ('spark', 'join', 'filter') GROUP BY 1, 2), "
        + s"s1 AS (SELECT tf1.doc_id, sum(CAST($bm25 AS DECIMAL(28,12))) AS score_x "
        + "FROM tf1 JOIN dfa USING (tok) JOIN dl ON tf1.doc_id = dl.doc_id CROSS JOIN stats GROUP BY 1), "
        + "fb AS (SELECT doc_id FROM s1 ORDER BY score_x DESC, doc_id LIMIT 10), "
        + "fbn AS (SELECT count(*) AS rn FROM fb), "
        + "r AS (SELECT tok, count(*) AS r FROM (SELECT DISTINCT doc_id, tok FROM t WHERE doc_id IN (SELECT doc_id FROM fb)) GROUP BY tok), "
        + "expw AS (SELECT r.tok, ln(((r + 0.5) * (n - df - rn + r + 0.5)) / ((df - r + 0.5) * (rn - r + 0.5))) AS w "
        + "FROM r JOIN dfa USING (tok) CROSS JOIN stats CROSS JOIN fbn "
        + "WHERE r.tok NOT IN ('spark', 'join', 'filter') AND r >= 3 AND df >= 5 AND (n - df - rn + r + 0.5) > 0), "
        + "expt AS (SELECT tok, 0.5 AS qw FROM expw WHERE w > 0 ORDER BY w DESC, tok LIMIT 5), "
        + "qterms AS (SELECT 'spark' AS tok, 1.0 AS qw UNION ALL SELECT 'join', 1.0 UNION ALL SELECT 'filter', 1.0 "
        + "UNION ALL SELECT tok, qw FROM expt), "
        + "tf2 AS (SELECT doc_id, tok, count(*) AS tf FROM t WHERE tok IN (SELECT tok FROM qterms) GROUP BY 1, 2), "
        + s"s2 AS (SELECT tf2.doc_id, sum(CAST(qw * ($bm25) AS DECIMAL(28,12))) AS score_x "
        + "FROM tf2 JOIN qterms USING (tok) JOIN dfa USING (tok) JOIN dl ON tf2.doc_id = dl.doc_id CROSS JOIN stats GROUP BY 1) "
        + "SELECT rank, doc_id, round(CAST(score_x AS DOUBLE), 6) AS score FROM ("
        + "SELECT doc_id, score_x, row_number() OVER (ORDER BY score_x DESC, doc_id) AS rank FROM s2) "
        + "WHERE rank <= 15 ORDER BY rank")
    },
    "q299_lmoments" ->
      ("WITH g AS (SELECT CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS v, count(*) AS c1 FROM orders GROUP BY 1), "
        + "c AS (SELECT v, CAST(sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS hi, "
        + "CAST(sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - c1 AS DOUBLE) AS lod FROM g), "
        + "t AS (SELECT (SELECT CAST(sum(c1) AS BIGINT) FROM g) AS n, "
        + "CAST(sum(CAST(v * (hi - lod) AS DECIMAL(38,6))) AS DOUBLE) AS d0, "
        + "CAST(sum(CAST(v * (hi * (hi - 1.0) - lod * (lod - 1.0)) AS DECIMAL(38,6))) AS DOUBLE) AS d1, "
        + "CAST(sum(CAST(v * (hi * (hi - 1.0) * (hi - 2.0) - lod * (lod - 1.0) * (lod - 2.0)) AS DECIMAL(38,6))) AS DOUBLE) AS d2, "
        + "CAST(sum(CAST(v * (hi * (hi - 1.0) * (hi - 2.0) * (hi - 3.0) - lod * (lod - 1.0) * (lod - 2.0) * (lod - 3.0)) AS DECIMAL(38,6))) AS DOUBLE) AS d3 FROM c), "
        + "b AS (SELECT n, CAST(n AS DOUBLE) AS nd, d0, d1, d2, d3 FROM t), "
        + "bb AS (SELECT n, d0 / nd AS b0, d1 / (2.0 * nd * (nd - 1.0)) AS b1, "
        + "d2 / (3.0 * nd * (nd - 1.0) * (nd - 2.0)) AS b2, "
        + "d3 / (4.0 * nd * (nd - 1.0) * (nd - 2.0) * (nd - 3.0)) AS b3 FROM b), "
        + "lam AS (SELECT n, b0 AS lam1, 2.0 * b1 - b0 AS lam2, 6.0 * b2 - 6.0 * b1 + b0 AS lam3, "
        + "20.0 * b3 - 30.0 * b2 + 12.0 * b1 - b0 AS lam4 FROM bb) "
        + "SELECT n, round(lam1, 6) AS lam1, round(lam2, 6) AS lam2, round(lam3, 6) AS lam3, round(lam4, 6) AS lam4, "
        + "round(lam2 / lam1, 6) AS l_cv, round(lam3 / lam2, 6) AS l_skew, round(lam4 / lam2, 6) AS l_kurt FROM lam"),
    "q297_bootstrap_median" ->
      ("WITH daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, sum(CAST(value AS DECIMAL(18,2))) AS vd FROM events GROUP BY 1, 2), "
        + "ranked AS (SELECT event_type, vd, row_number() OVER (PARTITION BY event_type ORDER BY day) AS idx, count(*) OVER (PARTITION BY event_type) AS n FROM daily), "
        + "tn AS (SELECT DISTINCT event_type, n FROM ranked), "
        + "grid AS (SELECT event_type, n, b, i, CAST('0x' || substr(md5('bsm|' || event_type || '|' || CAST(b AS VARCHAR) || '|' || CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % n + 1 AS idx "
        + "FROM tn, LATERAL (SELECT unnest(range(1, 201)) AS b), LATERAL (SELECT unnest(range(1, CAST(n AS INT) + 1)) AS i)), "
        + "meds AS (SELECT g.event_type, g.b, g.n, quantile_cont(CAST(r.vd AS DOUBLE), 0.5) AS med_b FROM grid g JOIN ranked r ON r.event_type = g.event_type AND r.idx = g.idx GROUP BY 1, 2, 3), "
        + "orig AS (SELECT event_type, round(quantile_cont(CAST(vd AS DOUBLE), 0.5), 6) AS med_v FROM daily GROUP BY 1) "
        + "SELECT m.event_type, CAST(m.n AS BIGINT) AS n, o.med_v, round(quantile_cont(med_b, 0.025), 6) AS ci_lo, round(quantile_cont(med_b, 0.975), 6) AS ci_hi "
        + "FROM meds m JOIN orig o USING (event_type) GROUP BY 1, 2, 3 ORDER BY 1"),
    "q287_missing_impute" ->
      ("WITH ev AS (SELECT event_type, value, "
        + "CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) % 7 = 0 AS miss FROM events) "
        + "SELECT event_type, CAST(count(*) AS BIGINT) AS n_rows, "
        + "CAST(sum(CASE WHEN miss THEN 1 ELSE 0 END) AS BIGINT) AS n_missing, "
        + "round(quantile_cont(CASE WHEN NOT miss THEN value END, 0.5), 6) AS median_imputed, "
        + "round(CAST(sum(CASE WHEN NOT miss THEN CAST(value AS DECIMAL(18,2)) END) AS DOUBLE) "
        + "/ (count(*) - sum(CASE WHEN miss THEN 1 ELSE 0 END)), 6) AS mean_obs, "
        + "round(CAST(CAST(sum(CASE WHEN NOT miss THEN CAST(value AS DECIMAL(18,2)) END) AS DECIMAL(28,6)) "
        + "+ CAST(round(quantile_cont(CASE WHEN NOT miss THEN value END, 0.5), 6) AS DECIMAL(18,6)) "
        + "* sum(CASE WHEN miss THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 6) AS mean_after "
        + "FROM ev GROUP BY event_type ORDER BY event_type"),
    "q288_poisson_dispersion" ->
      ("WITH daily AS (SELECT CAST(ts AS DATE) AS day, event_type, CAST(count(*) AS BIGINT) AS n "
        + "FROM events GROUP BY 1, 2), "
        + "cells AS (SELECT event_type, CAST(count(*) AS BIGINT) AS nd, CAST(sum(n) AS BIGINT) AS tot, "
        + "CAST(sum(n * n) AS BIGINT) AS sq FROM daily GROUP BY 1) "
        + "SELECT event_type, nd, tot, "
        + "round(CAST(tot AS DOUBLE) / nd, 6) AS mean_daily, "
        + "round((CAST(sq AS DOUBLE) - CAST(tot AS DOUBLE) * tot / nd) / (nd - 1), 6) AS var_daily, "
        + "round(((CAST(sq AS DOUBLE) - CAST(tot AS DOUBLE) * tot / nd) / (nd - 1)) "
        + "/ (CAST(tot AS DOUBLE) / nd), 6) AS dispersion, "
        + "round((((CAST(sq AS DOUBLE) - CAST(tot AS DOUBLE) * tot / nd) / (nd - 1)) "
        + "/ (CAST(tot AS DOUBLE) / nd) - 1.0) * sqrt((nd - 1) / 2.0), 6) AS z_disp, "
        + "(((CAST(sq AS DOUBLE) - CAST(tot AS DOUBLE) * tot / nd) / (nd - 1)) "
        + "/ (CAST(tot AS DOUBLE) / nd) - 1.0) * sqrt((nd - 1) / 2.0) > 1.644854 AS overdispersed "
        + "FROM cells ORDER BY event_type"),
    "q123_bm25" ->
      ("WITH t AS (SELECT doc_id, tok FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents) WHERE tok <> ''), "
        + "dl AS (SELECT doc_id, count(*) AS dl FROM t GROUP BY doc_id), "
        + "stats AS (SELECT count(*) AS n, CAST(sum(dl) AS BIGINT) AS sumdl FROM dl), "
        + "tf AS (SELECT doc_id, tok, count(*) AS tf FROM t WHERE tok IN ('spark', 'join', 'filter') GROUP BY doc_id, tok), "
        + "df AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok), "
        + "scored AS (SELECT tf.doc_id, sum(CAST(ln((n - df + 0.5) / (df + 0.5) + 1.0) * "
        + "(tf * 2.2) / (tf + 1.2 * (0.25 + (0.75 * dl) / (CAST(sumdl AS DOUBLE) / n))) AS DECIMAL(28,12))) AS score_x, max(dl.dl) AS dl "
        + "FROM tf JOIN df USING (tok) JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN stats GROUP BY tf.doc_id) "
        + "SELECT rank, doc_id, dl, round(CAST(score_x AS DOUBLE), 6) AS score FROM ("
        + "SELECT doc_id, dl, score_x, row_number() OVER (ORDER BY score_x DESC, doc_id) AS rank FROM scored) "
        + "WHERE rank <= 20 ORDER BY rank"),
    "q124_ks_test" ->
      ("WITH g AS (SELECT value AS v, CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS c1, "
        + "CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c2 "
        + "FROM events WHERE event_type IN ('view', 'click') AND value IS NOT NULL GROUP BY value), "
        + "cums AS (SELECT c1, c2, CAST(sum(c1) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum1, "
        + "CAST(sum(c2) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum2 FROM g), "
        + "agg AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2, "
        + "max(abs(CAST(cum1 AS DOUBLE) / (SELECT CAST(sum(c1) AS BIGINT) FROM g) - CAST(cum2 AS DOUBLE) / (SELECT CAST(sum(c2) AS BIGINT) FROM g))) AS d_raw FROM cums) "
        + "SELECT n1, n2, round(d_raw, 6) AS ks_d, round(sqrt(CAST(n1 AS DOUBLE) * n2 / (n1 + n2)) * d_raw, 6) AS ks_stat FROM agg"),
    "q125_changepoint" ->
      ("WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1), "
        + "tot AS (SELECT count(*) AS nd, CAST(sum(n) AS BIGINT) AS tot FROM daily), "
        + "cum AS (SELECT day, n, row_number() OVER (ORDER BY day) AS i, "
        + "CAST(sum(n) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum FROM daily), "
        + "s AS (SELECT day, n, nd, tot, CAST(cum AS DOUBLE) - (CAST(i AS DOUBLE) * tot) / nd AS s_raw FROM cum CROSS JOIN tot) "
        + "SELECT day AS cp_day, n AS n_that_day, round(s_raw, 6) AS cusum, nd AS n_days, tot AS n_events FROM ("
        + "SELECT *, row_number() OVER (ORDER BY abs(s_raw) DESC, day) AS rk FROM s) WHERE rk = 1"),
    "q126_ann_recall" ->
      ("WITH planes AS (SELECT j, d, 2 * (strpos('0123456789abcdef', substr(md5(CAST(j AS VARCHAR) || '_' || CAST(d AS VARCHAR)), 1, 1)) - 1) - 15 AS w2 "
        + "FROM (SELECT unnest(range(0, 6)) AS j) CROSS JOIN (SELECT unnest(range(1, 65)) AS d)), "
        + "expl AS (SELECT vec_id, generate_subscripts(embedding, 1) AS d, CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000) AS BIGINT) AS xq FROM embeddings), "
        + "dots AS (SELECT e.vec_id, p.j, CAST(sum(e.xq * p.w2) AS BIGINT) AS dot FROM expl e JOIN planes p ON e.d = p.d GROUP BY 1, 2), "
        + "buckets AS (SELECT vec_id, CAST(sum((CASE WHEN dot >= 0 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END) << j) AS BIGINT) AS bucket FROM dots GROUP BY vec_id), "
        + "probes AS (SELECT vec_id AS probe_id, embedding AS p_emb FROM embeddings WHERE vec_id < 20), "
        + "sim AS (SELECT probe_id, vec_id, round(list_sum(list_transform(range(1, len(embedding) + 1), i -> CAST(embedding[i] AS DOUBLE) * CAST(p_emb[i] AS DOUBLE))) / "
        + "(sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) * sqrt(list_sum(list_transform(p_emb, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 6) AS cos "
        + "FROM embeddings CROSS JOIN probes WHERE vec_id <> probe_id), "
        + "truth AS (SELECT probe_id, vec_id FROM (SELECT probe_id, vec_id, row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, vec_id) AS rn FROM sim) WHERE rn <= 10), "
        + "cand AS (SELECT p.vec_id AS probe_id, b.vec_id FROM buckets p JOIN buckets b ON b.bucket = p.bucket AND b.vec_id <> p.vec_id WHERE p.vec_id < 20), "
        + "nc AS (SELECT probe_id, count(*) AS n_cand FROM cand GROUP BY 1), "
        + "hits AS (SELECT t.probe_id, count(*) AS n_hit FROM truth t WHERE EXISTS (SELECT 1 FROM cand c WHERE c.probe_id = t.probe_id AND c.vec_id = t.vec_id) GROUP BY 1) "
        + "SELECT p.probe_id, coalesce(nc.n_cand, 0) AS n_cand, coalesce(hits.n_hit, 0) AS n_hit, "
        + "round(CAST(coalesce(hits.n_hit, 0) AS DOUBLE) / 10.0, 6) AS recall_at_10 "
        + "FROM (SELECT DISTINCT probe_id FROM truth) p LEFT JOIN nc USING (probe_id) LEFT JOIN hits ON hits.probe_id = p.probe_id ORDER BY p.probe_id"),
    "q127_rolling_distinct" ->
      ("WITH ev AS (SELECT CAST(ts AS DATE) AS eday, user_id FROM events), "
        + "days AS (SELECT DISTINCT eday AS day FROM ev) "
        + "SELECT day, count(DISTINCT CASE WHEN eday = day THEN user_id END) AS dau, "
        + "count(DISTINCT user_id) AS wau7 "
        + "FROM ev JOIN days ON day >= eday AND date_diff('day', eday, day) <= 6 "
        + "GROUP BY day ORDER BY day"),
    // q241: sketch estimates can't cross-engine-match; q127's exact
    // trailing-week distinct + the bound bool can (q240's pattern).
    "q241_hll_rolling" ->
      ("WITH ev AS (SELECT CAST(ts AS DATE) AS eday, user_id FROM events), "
        + "days AS (SELECT DISTINCT eday AS day FROM ev) "
        + "SELECT day, count(DISTINCT user_id) AS exact_wau7, TRUE AS hll_ok "
        + "FROM ev JOIN days ON day >= eday AND date_diff('day', eday, day) <= 6 "
        + "GROUP BY day ORDER BY day"),
    "q128_welch_ttest" ->
      ("WITH m AS (SELECT count(CASE WHEN event_type = 'view' THEN value END) AS n1, "
        + "count(CASE WHEN event_type = 'click' THEN value END) AS n2, "
        + "avg(CASE WHEN event_type = 'view' THEN value END) AS m1, "
        + "avg(CASE WHEN event_type = 'click' THEN value END) AS m2, "
        + "var_samp(CASE WHEN event_type = 'view' THEN value END) AS v1, "
        + "var_samp(CASE WHEN event_type = 'click' THEN value END) AS v2 "
        + "FROM events WHERE event_type IN ('view', 'click')) "
        + "SELECT n1, n2, round(m1, 6) AS mean_view, round(m2, 6) AS mean_click, "
        + "round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t_stat, "
        + "round(pow(v1 / n1 + v2 / n2, 2) / (pow(v1 / n1, 2) / (n1 - 1) + pow(v2 / n2, 2) / (n2 - 1)), 6) AS welch_df FROM m"),
    "q129_benford" ->
      ("WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit, count(*) AS cnt "
        + "FROM orders WHERE o_totalprice >= 1 GROUP BY 1), "
        + "t AS (SELECT CAST(sum(cnt) AS BIGINT) AS n FROM d) "
        + "SELECT digit, cnt, n, round(CAST(cnt AS DOUBLE) / n, 6) AS obs_share, "
        + "round(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS benford_share, "
        + "round((CAST(cnt AS DOUBLE) / n - ln(1.0 + 1.0 / digit) / ln(10.0)) / "
        + "sqrt(ln(1.0 + 1.0 / digit) / ln(10.0) * (1.0 - ln(1.0 + 1.0 / digit) / ln(10.0)) / n), 6) AS z_dev "
        + "FROM d CROSS JOIN t ORDER BY digit"),
    "q130_mann_whitney" ->
      ("WITH pooled AS (SELECT value AS v, CASE WHEN event_type = 'view' THEN 1 ELSE 0 END AS is1, "
        + "row_number() OVER (ORDER BY value) AS rn FROM events WHERE event_type IN ('view', 'click') AND value IS NOT NULL), "
        + "pv AS (SELECT v, avg(rn) AS ar, CAST(sum(is1) AS BIGINT) AS c1, CAST(sum(1 - is1) AS BIGINT) AS c2 FROM pooled GROUP BY v), "
        + "agg AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2, sum(CAST(ar * c1 AS DECIMAL(28,6))) AS r1x FROM pv) "
        + "SELECT n1, n2, round(CAST(r1x AS DOUBLE), 6) AS rank_sum_view, "
        + "round(CAST(r1x AS DOUBLE) - CAST(n1 AS DOUBLE) * (n1 + 1) / 2.0, 6) AS u_stat, "
        + "round((CAST(r1x AS DOUBLE) - CAST(n1 AS DOUBLE) * (n1 + 1) / 2.0 - CAST(n1 AS DOUBLE) * n2 / 2.0) / "
        + "sqrt(CAST(n1 AS DOUBLE) * n2 * (n1 + n2 + 1) / 12.0), 6) AS z_stat FROM agg"),
    "q131_jsd_domains" ->
      ("WITH c AS (SELECT tok, CAST(sum(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS c1, "
        + "CAST(sum(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS c2 FROM ("
        + "SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents WHERE source IN ('src0', 'src1')) "
        + "WHERE tok <> '' GROUP BY tok), "
        + "t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM c), "
        + "terms AS (SELECT n1, n2, CAST(0.5 * (CASE WHEN c1 > 0 THEN (CAST(c1 AS DOUBLE) / n1) * ln((CAST(c1 AS DOUBLE) / n1) / ((CAST(c1 AS DOUBLE) / n1 + CAST(c2 AS DOUBLE) / n2) / 2.0)) ELSE 0.0 END "
        + "+ CASE WHEN c2 > 0 THEN (CAST(c2 AS DOUBLE) / n2) * ln((CAST(c2 AS DOUBLE) / n2) / ((CAST(c1 AS DOUBLE) / n1 + CAST(c2 AS DOUBLE) / n2) / 2.0)) ELSE 0.0 END) AS DECIMAL(28,12)) AS term "
        + "FROM c CROSS JOIN t) "
        + "SELECT max(n1) AS n1, max(n2) AS n2, count(*) AS vocab, "
        + "round(CAST(sum(term) AS DOUBLE), 6) AS jsd_nats, "
        + "round(CAST(sum(term) AS DOUBLE) / ln(2.0), 6) AS jsd_bits FROM terms"),
    "q132_theil_sen" ->
      ("WITH daily AS (SELECT event_type AS et, CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1, 2), "
        + "idx AS (SELECT et, date_diff('day', DATE '2024-01-01', day) AS i, n FROM daily), "
        + "pairs AS (SELECT a.et, CAST(b.n - a.n AS DOUBLE) / (b.i - a.i) AS slope "
        + "FROM idx a JOIN idx b ON a.et = b.et AND a.i < b.i) "
        + "SELECT et, count(*) AS n_pairs, round(quantile_cont(slope, 0.5), 6) AS ts_slope "
        + "FROM pairs GROUP BY et ORDER BY et"),
    "q133_skyline" ->
      ("WITH cand AS (SELECT p_size AS sz, min(p_retailprice) AS bp FROM part GROUP BY 1), "
        + "sky AS (SELECT * FROM cand a WHERE NOT EXISTS ("
        + "SELECT 1 FROM cand b WHERE b.sz > a.sz AND b.bp <= a.bp)) "
        + "SELECT p.p_partkey, p.p_size, p.p_retailprice FROM part p "
        + "JOIN sky s ON p.p_size = s.sz AND p.p_retailprice = s.bp "
        + "ORDER BY p_size, p_partkey"),
    "q345_negbin_fit" ->
      ("WITH users AS (SELECT DISTINCT user_id FROM events), "
        + "tps AS (SELECT unnest(['view', 'click', 'purchase', 'signup', 'error']) AS event_type), "
        + "cnt AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS c FROM events GROUP BY 1, 2), "
        + "grid AS (SELECT u.user_id, t.event_type, coalesce(c.c, 0) AS c FROM users u CROSS JOIN tps t "
        + "LEFT JOIN cnt c ON c.user_id = u.user_id AND c.event_type = t.event_type), "
        + "agg AS (SELECT event_type, count(*) AS n, CAST(sum(c) AS BIGINT) AS sc, CAST(sum(c * c) AS BIGINT) AS sq, "
        + "CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS zeros FROM grid GROUP BY 1), "
        + "f AS (SELECT *, CAST(sc AS DOUBLE) / n AS m, "
        + "(CAST(sq AS DOUBLE) - CAST(sc AS DOUBLE) * sc / n) / (n - 1) AS v FROM agg), "
        + "g AS (SELECT *, CASE WHEN v > m THEN m * m / (v - m) END AS r FROM f) "
        + "SELECT event_type, CAST(n AS BIGINT) AS n_users, round(m, 6) AS mean_c, round(v, 6) AS var_c, "
        + "round(v / m, 6) AS dispersion, round(r, 6) AS nb_r, round(r / (r + m), 6) AS nb_p, "
        + "round(exp(-r * ln(1.0 + m / r)), 6) AS p0_pred, round(CAST(zeros AS DOUBLE) / n, 6) AS p0_obs "
        + "FROM g ORDER BY event_type"),
    "q340_dunn_posthoc" ->
      ("WITH pooled AS (SELECT value AS v, event_type AS g, row_number() OVER (ORDER BY value) AS rn "
        + "FROM events WHERE event_type IN ('view', 'click', 'purchase') AND value IS NOT NULL), "
        + "pv AS (SELECT v, avg(rn) AS ar, count(*) AS ct, "
        + "CAST(sum(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS g1, "
        + "CAST(sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS g2, "
        + "CAST(sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS g3 FROM pooled GROUP BY v), "
        + "agg AS (SELECT CAST(sum(g1) AS BIGINT) AS n1, CAST(sum(g2) AS BIGINT) AS n2, CAST(sum(g3) AS BIGINT) AS n3, "
        + "sum(CAST(ar * g1 AS DECIMAL(28,6))) AS r1, sum(CAST(ar * g2 AS DECIMAL(28,6))) AS r2, "
        + "sum(CAST(ar * g3 AS DECIMAL(28,6))) AS r3, sum(CAST(ct * ct * ct - ct AS DECIMAL(38,0))) AS ties FROM pv), "
        + "prs AS (SELECT unnest([struct_pack(ga := 'view', gb := 'click', i := 1, j := 2), "
        + "struct_pack(ga := 'view', gb := 'purchase', i := 1, j := 3), "
        + "struct_pack(ga := 'click', gb := 'purchase', i := 2, j := 3)]) AS pr), "
        + "x AS (SELECT pr.ga AS ga, pr.gb AS gb, pr.i AS i, pr.j AS j, n1, n2, n3, r1, r2, r3, ties, "
        + "n1 + n2 + n3 AS nt FROM prs CROSS JOIN agg), "
        + "y AS (SELECT *, CAST(nt AS DOUBLE) * (nt + 1) / 12.0 - CAST(ties AS DOUBLE) / (12.0 * (nt - 1)) AS s2, "
        + "CASE i WHEN 1 THEN n1 WHEN 2 THEN n2 ELSE n3 END AS na, "
        + "CASE j WHEN 1 THEN n1 WHEN 2 THEN n2 ELSE n3 END AS nb, "
        + "CASE i WHEN 1 THEN CAST(r1 AS DOUBLE) / n1 WHEN 2 THEN CAST(r2 AS DOUBLE) / n2 ELSE CAST(r3 AS DOUBLE) / n3 END AS ma, "
        + "CASE j WHEN 1 THEN CAST(r1 AS DOUBLE) / n1 WHEN 2 THEN CAST(r2 AS DOUBLE) / n2 ELSE CAST(r3 AS DOUBLE) / n3 END AS mb FROM x), "
        + "zz AS (SELECT *, (ma - mb) / sqrt(s2 * (1.0 / na + 1.0 / nb)) AS z FROM y), "
        + "tt AS (SELECT *, 1.0 / (1.0 + 0.2316419 * abs(z)) AS t FROM zz), "
        + "pp AS (SELECT *, 2.0 * (0.3989422804014327 * exp(-(z * z) / 2.0) * "
        + "(0.319381530 * t - 0.356563782 * t * t + 1.781477937 * t * t * t "
        + "- 1.821255978 * t * t * t * t + 1.330274429 * t * t * t * t * t)) AS p FROM tt) "
        + "SELECT ga AS group_a, gb AS group_b, na AS n_a, nb AS n_b, "
        + "round(ma, 6) AS mean_rank_a, round(mb, 6) AS mean_rank_b, "
        + "round(z, 6) AS z_stat, round(p, 6) AS p_value, p < 0.05 / 3 AS reject_bonf "
        + "FROM pp ORDER BY group_a, group_b"),
    "q161_kruskal_wallis" ->
      ("WITH pooled AS (SELECT value AS v, event_type AS g, row_number() OVER (ORDER BY value) AS rn "
        + "FROM events WHERE event_type IN ('view', 'click', 'purchase') AND value IS NOT NULL), "
        + "pv AS (SELECT v, avg(rn) AS ar, count(*) AS ct, "
        + "CAST(sum(CASE WHEN g = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS g1, "
        + "CAST(sum(CASE WHEN g = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS g2, "
        + "CAST(sum(CASE WHEN g = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS g3 FROM pooled GROUP BY v), "
        + "agg AS (SELECT CAST(sum(g1) AS BIGINT) AS n1, CAST(sum(g2) AS BIGINT) AS n2, CAST(sum(g3) AS BIGINT) AS n3, "
        + "sum(CAST(ar * g1 AS DECIMAL(28,6))) AS r1, sum(CAST(ar * g2 AS DECIMAL(28,6))) AS r2, "
        + "sum(CAST(ar * g3 AS DECIMAL(28,6))) AS r3, sum(CAST(ct * ct * ct - ct AS DECIMAL(38,0))) AS ties FROM pv), "
        + "h AS (SELECT n1, n2, n3, "
        + "12.0 / (CAST(n1 + n2 + n3 AS DOUBLE) * (n1 + n2 + n3 + 1)) * "
        + "(CAST(r1 AS DOUBLE) * CAST(r1 AS DOUBLE) / n1 + CAST(r2 AS DOUBLE) * CAST(r2 AS DOUBLE) / n2 + "
        + "CAST(r3 AS DOUBLE) * CAST(r3 AS DOUBLE) / n3) - 3.0 * (n1 + n2 + n3 + 1) AS h_raw, "
        + "1.0 - CAST(ties AS DOUBLE) / (CAST(n1 + n2 + n3 AS DOUBLE) * (n1 + n2 + n3) * (n1 + n2 + n3) - (n1 + n2 + n3)) AS tie_c FROM agg) "
        + "SELECT n1, n2, n3, round(h_raw, 6) AS h_stat, round(h_raw / tie_c, 6) AS h_adj FROM h"),
    "q162_levene" ->
      ("WITH e AS (SELECT event_type AS g, CAST(value AS DOUBLE) AS x FROM events "
        + "WHERE event_type IN ('view', 'click', 'purchase') AND value IS NOT NULL), "
        + "med AS (SELECT g, round(quantile_cont(x, 0.5), 6) AS med FROM e GROUP BY g), "
        + "pg AS (SELECT g, count(*) AS n, sum(CAST(abs(x - med) AS DECIMAL(28,12))) AS sz, "
        + "sum(CAST(abs(x - med) * abs(x - med) AS DECIMAL(28,12))) AS sz2 FROM e JOIN med USING (g) GROUP BY g), "
        + "tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt, sum(sz) AS szt, count(*) AS k FROM pg), "
        + "terms AS (SELECT n, nt, k, CAST(sz AS DOUBLE) / n AS zbar_g, CAST(szt AS DOUBLE) / nt AS zbar, sz2 "
        + "FROM pg CROSS JOIN tot), "
        + "t2 AS (SELECT nt, k, CAST(n * (zbar_g - zbar) * (zbar_g - zbar) AS DECIMAL(28,12)) AS num_g, "
        + "CAST(CAST(sz2 AS DOUBLE) - n * zbar_g * zbar_g AS DECIMAL(28,12)) AS den_g FROM terms) "
        + "SELECT max(nt) AS n_total, max(k) AS k, "
        + "round((CAST(max(nt) AS DOUBLE) - max(k)) / (max(k) - 1) * "
        + "CAST(sum(num_g) AS DOUBLE) / CAST(sum(den_g) AS DOUBLE), 6) AS w_stat FROM t2"),
    "q192_prop_ztest" ->
      ("WITH a AS (SELECT CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) % 2 AS arm, "
        + "CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS conv FROM events), "
        + "g AS (SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1, "
        + "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2, "
        + "CAST(sum(CASE WHEN arm = 0 THEN conv ELSE 0 END) AS BIGINT) AS c1, "
        + "CAST(sum(CASE WHEN arm = 1 THEN conv ELSE 0 END) AS BIGINT) AS c2 FROM a), "
        + "h AS (SELECT n1, n2, c1, c2, CAST(c1 AS DOUBLE) / n1 AS p1, CAST(c2 AS DOUBLE) / n2 AS p2, "
        + "CAST(c1 + c2 AS DOUBLE) / (n1 + n2) AS pp FROM g) "
        + "SELECT n1, n2, c1, c2, round(p1, 6) AS rate_a, round(p2, 6) AS rate_b, "
        + "round((p1 - p2) / sqrt(pp * (1.0 - pp) * (1.0 / n1 + 1.0 / n2)), 6) AS z_stat FROM h"),
    "q193_seasonal_decompose" ->
      ("WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y FROM events GROUP BY 1), "
        + "t AS (SELECT day, y, count(*) OVER w AS n_win, "
        + "CAST(sum(y) OVER w AS DOUBLE) / count(*) OVER w AS trend FROM daily "
        + "WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)), "
        + "d AS (SELECT day, y, trend, dayofweek(day) + 1 AS dow, y - trend AS det FROM t WHERE n_win = 7), "
        + "s AS (SELECT dow, CAST(sum(CAST(det AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS seasonal FROM d GROUP BY dow) "
        + "SELECT day, y, round(trend, 6) AS trend, round(seasonal, 6) AS seasonal, "
        + "round(det - seasonal, 6) AS residual FROM d JOIN s USING (dow) ORDER BY day"),
    "q248_runs_test" ->
      ("WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev FROM orders GROUP BY 1), "
        + "m AS (SELECT quantile_cont(CAST(rev AS DOUBLE), 0.5) AS med FROM daily), "
        + "sgn AS (SELECT day, CASE WHEN CAST(rev AS DOUBLE) > med THEN 1 ELSE 0 END AS above FROM daily CROSS JOIN m WHERE CAST(rev AS DOUBLE) <> med), "
        + "r AS (SELECT above, CASE WHEN lag(above) OVER (ORDER BY day) IS NULL OR lag(above) OVER (ORDER BY day) <> above THEN 1 ELSE 0 END AS chg FROM sgn), "
        + "a AS (SELECT CAST(sum(chg) AS BIGINT) AS runs, CAST(sum(above) AS BIGINT) AS n1, CAST(sum(1 - above) AS BIGINT) AS n2 FROM r), "
        + "z AS (SELECT n1 + n2 AS n_days, n1 AS n_above, n2 AS n_below, runs, "
        + "round((runs - (2.0 * n1 * n2 / (n1 + n2) + 1)) / "
        + "sqrt(2.0 * n1 * n2 * (2.0 * n1 * n2 - n1 - n2) / "
        + "((n1 + n2) * (n1 + n2) * (CAST(n1 AS DOUBLE) + n2 - 1))), 6) AS z_stat FROM a) "
        + "SELECT n_days, n_above, n_below, runs, z_stat, abs(z_stat) < 1.959964 AS random_5pct FROM z"),
    "q249_mann_kendall" ->
      ("WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev FROM orders GROUP BY 1), "
        + "p AS (SELECT CAST(sum(CASE WHEN b.rev > a.rev THEN 1 WHEN b.rev < a.rev THEN -1 ELSE 0 END) AS BIGINT) AS s_stat "
        + "FROM daily a JOIN daily b ON a.day < b.day), "
        + "t AS (SELECT CAST(count(*) AS BIGINT) AS n_days, CAST(sum(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tsum "
        + "FROM (SELECT count(*) AS t FROM daily GROUP BY rev)), "
        + "v AS (SELECT n_days, s_stat, round((CAST(n_days AS DOUBLE) * (n_days - 1) * (2 * n_days + 5) - tsum) / 18.0, 6) AS var_s FROM p CROSS JOIN t), "
        + "z AS (SELECT n_days, s_stat, var_s, round(CASE WHEN s_stat > 0 THEN (s_stat - 1) / sqrt(var_s) "
        + "WHEN s_stat < 0 THEN (s_stat + 1) / sqrt(var_s) ELSE 0.0 END, 6) AS z_stat FROM v) "
        + "SELECT n_days, s_stat, var_s, z_stat, CASE WHEN z_stat > 1.959964 THEN 'increasing' "
        + "WHEN z_stat < -1.959964 THEN 'decreasing' ELSE 'none' END AS trend FROM z"),
    "q246_hist_quantile_merge" ->
      ("WITH ev AS (SELECT CAST(ts AS DATE) AS day, value AS v FROM events), "
        + "b AS (SELECT min(v) AS lo, max(v) AS hi, CAST(count(*) AS BIGINT) AS n, "
        + "quantile_cont(v, [0.25, 0.5, 0.75, 0.9, 0.99]) AS ex FROM ev), "
        + "daily AS (SELECT day, least(CAST(floor((v - lo) / ((hi - lo) / 128.0)) AS INT), 127) AS bin, count(*) AS c "
        + "FROM ev CROSS JOIN b GROUP BY 1, 2), "
        + "merged AS (SELECT bin, CAST(sum(c) AS BIGINT) AS c FROM daily GROUP BY bin), "
        + "cb AS (SELECT bin, c, CAST(sum(c) OVER (ORDER BY bin) AS BIGINT) AS cum, "
        + "CAST(sum(c) OVER (ORDER BY bin) AS BIGINT) - c AS cumb FROM merged), "
        + "probes AS (SELECT i, CAST(q AS DOUBLE) AS q FROM (VALUES (0, 0.25), (1, 0.5), (2, 0.75), (3, 0.9), (4, 0.99)) AS p(i, q)), "
        + "sel AS (SELECT q, round(lo + ((hi - lo) / 128.0) * (bin + (q * n - cumb) / c), 6) AS est, "
        + "round(ex[i + 1], 6) AS exact FROM cb CROSS JOIN probes CROSS JOIN b "
        + "WHERE cum >= q * n AND cumb < q * n) "
        + "SELECT q, est, exact, round(abs(est - exact), 6) AS abs_err FROM sel ORDER BY q"),
    "q259_hurst" ->
      ("WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS x FROM orders GROUP BY 1), "
        + "idx AS (SELECT x, row_number() OVER (ORDER BY day) AS t FROM daily), "
        + "nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM idx), "
        + "ex AS (SELECT t, x, w, CAST(floor((t - 1) / w) AS INT) AS blk FROM idx, "
        + "LATERAL (SELECT unnest([8, 16, 32, 64]) AS w) CROSS JOIN nd "
        + "WHERE CAST(floor((t - 1) / w) AS INT) < CAST(floor(n_days / w) AS INT)), "
        + "z AS (SELECT w, blk, row_number() OVER (PARTITION BY w, blk ORDER BY t) AS k, "
        + "sum(x) OVER (PARTITION BY w, blk ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cx, "
        + "sum(x) OVER (PARTITION BY w, blk) AS sx, "
        + "sum(x * x) OVER (PARTITION BY w, blk) AS sx2 FROM ex), "
        + "zz AS (SELECT w, blk, CAST(cx AS DOUBLE) - k * (CAST(sx AS DOUBLE) / w) AS zv, sx, sx2 FROM z), "
        + "blkrs AS (SELECT w, blk, max(zv) - min(zv) AS r, "
        + "sqrt(CAST(any_value(sx2) AS DOUBLE) / CAST(any_value(w) AS DOUBLE) - (CAST(any_value(sx) AS DOUBLE) / CAST(any_value(w) AS DOUBLE)) * (CAST(any_value(sx) AS DOUBLE) / CAST(any_value(w) AS DOUBLE))) AS sd "
        + "FROM zz GROUP BY w, blk), "
        + "perw AS MATERIALIZED (SELECT w, CAST(count(*) AS BIGINT) AS n_blocks, "
        + "CAST(sum(CAST(r / sd AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS mean_rs "
        + "FROM blkrs WHERE sd > 0 GROUP BY w), "
        + "sl AS (SELECT CAST(count(*) AS BIGINT) AS np, "
        + "sum(CAST(ln(CAST(w AS DOUBLE)) AS DECIMAL(28,12))) AS slx, "
        + "sum(CAST(ln(mean_rs) AS DECIMAL(28,12))) AS sly, "
        + "sum(CAST(ln(CAST(w AS DOUBLE)) * ln(mean_rs) AS DECIMAL(28,12))) AS slxy, "
        + "sum(CAST(ln(CAST(w AS DOUBLE)) * ln(CAST(w AS DOUBLE)) AS DECIMAL(28,12))) AS slx2 FROM perw), "
        + "hh AS (SELECT round((np * CAST(slxy AS DOUBLE) - CAST(slx AS DOUBLE) * CAST(sly AS DOUBLE)) "
        + "/ (np * CAST(slx2 AS DOUBLE) - CAST(slx AS DOUBLE) * CAST(slx AS DOUBLE)), 6) AS hurst FROM sl) "
        + "SELECT w, n_blocks, round(mean_rs, 6) AS mean_rs, hurst FROM perw CROSS JOIN hh ORDER BY w"),
    "q268_daily_drift" ->
      ("WITH cells AS (SELECT CAST(ts AS DATE) AS day, value AS v, CAST(count(*) AS BIGINT) AS c "
        + "FROM events WHERE value IS NOT NULL GROUP BY 1, 2), "
        + "gl AS (SELECT v, CAST(sum(c) AS BIGINT) AS cg FROM cells GROUP BY v), "
        + "gcum AS (SELECT v, cg, CAST(sum(cg) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumg, "
        + "(SELECT CAST(sum(cg) AS BIGINT) FROM gl) AS ng FROM gl), "
        + "j AS (SELECT day, c, cumg, cg, ng, "
        + "CAST(sum(c) OVER (PARTITION BY day ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cumd, "
        + "CAST(sum(c) OVER (PARTITION BY day) AS BIGINT) AS nd "
        + "FROM cells JOIN gcum USING (v)), "
        + "d AS (SELECT day, max(nd) AS n_day, round(max(greatest("
        + "abs(CAST(cumd AS DOUBLE) / nd - CAST(cumg AS DOUBLE) / ng), "
        + "abs(CAST(cumd - c AS DOUBLE) / nd - CAST(cumg - cg AS DOUBLE) / ng))), 6) AS ks_d FROM j GROUP BY day), "
        + "t AS (SELECT CAST(sum(cg) AS BIGINT) AS ng FROM gl) "
        + "SELECT day, n_day, ks_d, "
        + "round(1.358102 * sqrt(CAST(n_day + ng AS DOUBLE) / (CAST(n_day AS DOUBLE) * ng)), 6) AS crit_5pct, "
        + "ks_d > 1.358102 * sqrt(CAST(n_day + ng AS DOUBLE) / (CAST(n_day AS DOUBLE) * ng)) AS drift_flag "
        + "FROM d CROSS JOIN t ORDER BY day"),
    "q270_median_ci" ->
      ("WITH g AS (SELECT value AS v, CAST(count(*) AS BIGINT) AS c FROM events WHERE value IS NOT NULL GROUP BY 1), "
        + "cum AS (SELECT v, CAST(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum1, "
        + "CAST(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) - c AS below FROM g), "
        + "nn AS (SELECT CAST(sum(c) AS BIGINT) AS n1 FROM g), "
        + "rk AS (SELECT n1, greatest(CAST(floor((n1 - 1.959964 * sqrt(n1)) / 2.0) AS BIGINT), 1) AS rl, "
        + "least(CAST(ceil(1.0 + (n1 + 1.959964 * sqrt(n1)) / 2.0) AS BIGINT), n1) AS ru FROM nn), "
        + "med AS (SELECT round(quantile_cont(value, 0.5), 6) AS median FROM events WHERE value IS NOT NULL), "
        + "lo AS (SELECT v AS ci_lo FROM cum CROSS JOIN rk WHERE below < rl AND cum1 >= rl), "
        + "hi AS (SELECT v AS ci_hi FROM cum CROSS JOIN rk WHERE below < ru AND cum1 >= ru) "
        + "SELECT n1 AS n, rl AS rank_lo, ru AS rank_hi, median, "
        + "round(ci_lo, 6) AS ci_lo, round(ci_hi, 6) AS ci_hi, "
        + "ci_lo <= median AND median <= ci_hi AS contains_median "
        + "FROM rk CROSS JOIN med CROSS JOIN lo CROSS JOIN hi"),
    "q261_cochran_q" ->
      ("WITH ev AS (SELECT user_id, event_type, value FROM events WHERE value IS NOT NULL), "
        + "mv AS (SELECT user_id, event_type, max(value) AS m FROM ev GROUP BY 1, 2), "
        + "p AS (SELECT event_type, round(quantile_cont(value, 0.9), 6) AS p90 FROM ev GROUP BY 1), "
        + "pairs AS (SELECT user_id, mv.event_type FROM mv JOIN p USING (event_type) WHERE m > p90), "
        + "c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS cj FROM pairs GROUP BY event_type), "
        + "r AS (SELECT CAST(count(*) AS BIGINT) AS n_users, CAST(sum(ru) AS BIGINT) AS sr, CAST(sum(ru * ru) AS BIGINT) AS sr2 "
        + "FROM (SELECT user_id, count(*) AS ru FROM pairs GROUP BY user_id)), "
        + "kk AS (SELECT CAST(count(*) AS BIGINT) AS k FROM p), "
        + "dev AS (SELECT any_value(k) AS k, any_value(n_users) AS n_users, any_value(sr) AS sr, any_value(sr2) AS sr2, "
        + "sum(CAST((cj - CAST(sr AS DOUBLE) / k) * (cj - CAST(sr AS DOUBLE) / k) AS DECIMAL(28,12))) AS sdev "
        + "FROM c CROSS JOIN kk CROSS JOIN r) "
        + "SELECT k, n_users, round(k * (k - 1) * CAST(sdev AS DOUBLE) / (k * sr - sr2), 6) AS q_stat, "
        + "round(k * (k - 1) * CAST(sdev AS DOUBLE) / (k * sr - sr2), 6) > "
        + "(CASE k - 1 WHEN 1 THEN 3.841459 WHEN 2 THEN 5.991465 WHEN 3 THEN 7.814728 "
        + "WHEN 4 THEN 9.487729 WHEN 5 THEN 11.070498 WHEN 6 THEN 12.591587 "
        + "WHEN 7 THEN 14.067140 WHEN 8 THEN 15.507313 WHEN 9 THEN 16.918978 END) "
        + "AS reject_equal_reach_5pct FROM dev"),
    "q264_hill_tail" ->
      ("WITH top AS (SELECT v, rk FROM (SELECT o_totalprice AS v, "
        + "row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rk FROM orders) WHERE rk <= 401), "
        + "ex AS (SELECT k, rk, v FROM top, LATERAL (SELECT unnest([100, 200, 400]) AS k)), "
        + "j AS (SELECT e.k, e.rk, e.v, t.v AS xmin FROM ex e JOIN top t ON e.k + 1 = t.rk WHERE e.rk <= e.k) "
        + "SELECT k, round(any_value(xmin), 2) AS xmin, "
        + "round(CAST(k AS DOUBLE) / CAST(sum(CAST(ln(v / xmin) AS DECIMAL(28,12))) AS DOUBLE), 6) AS alpha "
        + "FROM j GROUP BY k ORDER BY k"),
    "q260_bloom_fpp" ->
      ("WITH cfg AS (SELECT * FROM (VALUES (4096, 3), (16384, 3), (65536, 4)) AS v(m, kh)), "
        + "members AS (SELECT DISTINCT o_custkey AS u FROM orders WHERE CAST(o_orderdate AS DATE) < DATE '1996-01-01'), "
        + "probes AS (SELECT c_custkey AS u FROM customer WHERE c_custkey NOT IN (SELECT u FROM members)), "
        + "mpos AS (SELECT DISTINCT m, kh, CAST('0x' || substr(md5('bf' || CAST(t AS VARCHAR) || '|' || CAST(u AS VARCHAR)), 1, 15) AS BIGINT) % m AS pos "
        + "FROM members CROSS JOIN cfg, LATERAL (SELECT unnest(range(1, kh + 1)) AS t)), "
        + "bits AS (SELECT m, kh, CAST(count(*) AS BIGINT) AS bits_set FROM mpos GROUP BY m, kh), "
        + "nmem AS (SELECT CAST(count(*) AS BIGINT) AS n_keys FROM members), "
        + "ppos AS (SELECT u, m, kh, CAST('0x' || substr(md5('bf' || CAST(t AS VARCHAR) || '|' || CAST(u AS VARCHAR)), 1, 15) AS BIGINT) % m AS pos "
        + "FROM probes CROSS JOIN cfg, LATERAL (SELECT unnest(range(1, kh + 1)) AS t)), "
        + "hits AS (SELECT p.m, p.kh, p.u, CAST(sum(CASE WHEN b.pos IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS hits "
        + "FROM ppos p LEFT JOIN mpos b ON b.m = p.m AND b.kh = p.kh AND b.pos = p.pos GROUP BY p.m, p.kh, p.u), "
        + "fp AS (SELECT m, kh, CAST(count(*) AS BIGINT) AS n_probes, "
        + "CAST(sum(CASE WHEN hits = kh THEN 1 ELSE 0 END) AS BIGINT) AS false_pos FROM hits GROUP BY m, kh) "
        + "SELECT fp.m, fp.kh AS k, n_keys, bits_set, "
        + "round(CAST(bits_set AS DOUBLE) / fp.m, 6) AS fill_ratio, "
        + "n_probes, false_pos, "
        + "round(CAST(false_pos AS DOUBLE) / n_probes, 6) AS fpp_measured, "
        + "round(exp(fp.kh * ln(1.0 - exp(fp.kh * n_keys * ln(1.0 - 1.0 / fp.m)))), 6) AS fpp_theory "
        + "FROM fp JOIN bits ON bits.m = fp.m AND bits.kh = fp.kh CROSS JOIN nmem ORDER BY fp.m, k"),
  )
}
