package graft.ops

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.5: the statistics/correlation surface — the reference's
  * core domain (CorrelationAPI computes pairwise correlation and
  * correlation matrices over tabular observations; re-expressed here as
  * single-pass distributed aggregates).
  *
  * Numeric parity notes (SURVEY.md §4.3):
  *  - corr/covar/stddev are O(1)-magnitude or small-magnitude outputs →
  *    6 dp rounding absorbs partition-order float noise on both engines.
  *  - Skew/kurtosis (q20) avoid engine formula differences (Spark =
  *    population, DuckDB = bias-corrected sample) by computing raw power
  *    sums — EXACT integer-valued doubles for l_quantity — then the same
  *    central-moment algebra on both sides; sqrt-based (no pow) so the
  *    double arithmetic is bit-identical.
  *  - Grouped corr (q18) uses try_divide / NULLIF so a zero-variance
  *    group yields NULL on both engines instead of ANSI DIVIDE_BY_ZERO.
  */
object Stats extends QueryPack {

  private def c6(c: Column): Column = round(c, 6)

  def queries: Map[String, Q] = Map(
    // ------------------------------------------------------------------
    // KENDALL'S TAU-B — the rank-concordance coefficient (the third
    // classic correlation after q16's Pearson and q22's Spearman;
    // robust to monotone transforms AND ties): the corpus first
    // CONTRACTS to (value-decile, hour-of-day) cells with counts — the
    // only corpus-sized pass — then every ordered cell pair contributes
    // c1·c2 concordant (y rises with x) or discordant (y falls) pairs,
    // and the tie terms n1/n2 come from the marginals:
    // τ_b = (nc − nd) / √((n0 − n1)(n0 − n2)), n0 = n(n−1)/2. The cell
    // pair join is a broadcast over the checkpointed ≤(deciles×24)
    // frame — the same bounded-frame shape as q136/q386; every term is
    // exact integer algebra until the final ratio. At 100 TB the cell
    // grid is unchanged (it's value-range × 24), so the pair join cost
    // is constant while the contraction scales linearly.
    "q409_kendall_tau" -> ((s, dir) => {
      val cells = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(expr("cast(floor(value / 10.0) as bigint)").as("x"),
          hour(col("ts")).cast("long").as("y"))
        .groupBy(col("x"), col("y")).agg(count(lit(1)).as("c"))
        .localCheckpoint() // pair join (both sides) + three marginal aggs
      val a = cells.select(col("x").as("x1"), col("y").as("y1"), col("c").as("c1"))
      val b = cells.select(col("x").as("x2"), col("y").as("y2"), col("c").as("c2"))
      val pairs = a.join(broadcast(b), col("x1") < col("x2"))
        .agg(coalesce(sum(when(col("y1") < col("y2"),
            col("c1") * col("c2")).otherwise(0L)), lit(0L)).as("nc"),
          coalesce(sum(when(col("y1") > col("y2"),
            col("c1") * col("c2")).otherwise(0L)), lit(0L)).as("nd"))
      val totals = cells.agg(sum(col("c")).as("n"))
      val tx = cells.groupBy(col("x")).agg(sum(col("c")).as("cx"))
        .agg(sum(expr("cx * (cx - 1) div 2")).as("n1"))
      val ty = cells.groupBy(col("y")).agg(sum(col("c")).as("cy"))
        .agg(sum(expr("cy * (cy - 1) div 2")).as("n2"))
      pairs.crossJoin(broadcast(totals))
        .crossJoin(broadcast(tx)).crossJoin(broadcast(ty))
        .select(col("n"), col("nc"), col("nd"), col("n1"), col("n2"),
          round(expr("(nc - nd) / (sqrt(cast(n * (n - 1) div 2 - n1 as double)) * " +
            "sqrt(cast(n * (n - 1) div 2 - n2 as double)))"), 6).as("tau_b"))
    }),

    // ------------------------------------------------------------------
    // Flagship: Pearson correlation of two measures (also SparkEntry.entry).
    "q16_corr_pair" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .agg(c6(corr(col("l_quantity"), col("l_extendedprice"))).as("corr_qty_price"))),

    // ------------------------------------------------------------------
    // Full pairwise Pearson matrix over the lineitem numerics in ONE
    // aggregation pass (single scan, partial+final agg — no per-pair jobs).
    "q17_corr_matrix" -> ((s, dir) => {
      val cols = Seq("l_quantity" -> "q", "l_extendedprice" -> "e",
        "l_discount" -> "d", "l_tax" -> "t")
      val aggs = for {
        ((ci, ni), i) <- cols.zipWithIndex
        (cj, nj) <- cols.drop(i + 1)
      } yield c6(corr(col(ci), col(cj))).as(s"corr_${ni}_${nj}")
      Tables.lineitem(s, dir).agg(aggs.head, aggs.tail: _*)
    }),

    // ------------------------------------------------------------------
    // Per-group correlation with a zero-variance guard (NULL, not throw).
    "q18_corr_grouped" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          expr("round(try_divide(covar_samp(l_quantity, l_extendedprice), stddev_samp(l_quantity) * stddev_samp(l_extendedprice)), 6)").as("corr_qp"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))),

    // ------------------------------------------------------------------
    "q19_covar_stddev" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .agg(
          c6(covar_samp(col("l_quantity"), col("l_discount"))).as("covar_s_qd"),
          c6(covar_pop(col("l_quantity"), col("l_discount"))).as("covar_p_qd"),
          c6(stddev_samp(col("l_quantity"))).as("stddev_s_q"),
          c6(stddev_pop(col("l_quantity"))).as("stddev_p_q"),
          c6(var_samp(col("l_quantity"))).as("var_s_q"),
          c6(var_pop(col("l_quantity"))).as("var_p_q"),
          c6(stddev_samp(col("l_discount"))).as("stddev_s_d"),
          c6(var_samp(col("l_discount"))).as("var_s_d"))),

    // ------------------------------------------------------------------
    // Skewness + excess kurtosis from exact raw power sums (see header).
    // l_quantity is integral (verified against the generator output), so
    // summing q^k as DECIMAL(38,0) is EXACT at any row count — no 2^53
    // double-precision cliff, no partition-order sensitivity. The moment
    // algebra then runs on doubles identically on both engines.
    "q20_skew_kurt" -> ((s, dir) => {
      def p(k: Int) = {
        val prod = (1 to k).map(_ => col("l_quantity")).reduce(_ * _)
        sum(prod.cast("decimal(38,0)")).as(s"s$k")
      }
      Tables.lineitem(s, dir)
        .agg(count(lit(1)).as("n"), p(1), p(2), p(3), p(4))
        .selectExpr(
          "cast(s1 as double)/n AS mu", "cast(s2 as double)/n AS e2",
          "cast(s3 as double)/n AS e3", "cast(s4 as double)/n AS e4")
        .selectExpr(
          "round((e3 - 3*mu*e2 + 2*mu*mu*mu) / ((e2 - mu*mu) * sqrt(e2 - mu*mu)), 6) AS skew_qty",
          "round((e4 - 4*mu*e3 + 6*mu*mu*e2 - 3*mu*mu*mu*mu) / ((e2 - mu*mu) * (e2 - mu*mu)) - 3, 6) AS kurt_qty")
    }),

    // ------------------------------------------------------------------
    // Exact quantiles with linear interpolation (NOT approx_percentile —
    // sketch outputs can never hash-match another engine). Every call is
    // over a DOUBLE, so graft.plans.NativePercentile runs all five on the
    // ExactPercentile kernel (primitive sorted runs, 16 B per distinct
    // value in the shuffle) with the doubles Spark's Percentile returns.
    "q21_percentiles" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          expr("round(percentile(l_quantity, 0.25), 6)").as("p25_qty"),
          expr("round(percentile(l_quantity, 0.5), 6)").as("p50_qty"),
          expr("round(percentile(l_quantity, 0.75), 6)").as("p75_qty"),
          expr("round(median(l_quantity), 6)").as("med_qty"),
          expr("round(percentile(l_extendedprice, 0.5), 6)").as("med_price"))
        .orderBy(col("l_returnflag"))),

    // ------------------------------------------------------------------
    // Spearman = Pearson over average ranks (min-rank + (ties-1)/2),
    // computed scale-valid: each column contracts to its DISTINCT-value
    // count table (one shuffle) and Science.cumCounts' one-channel
    // prefix sum gives every value the count of rows strictly below it.
    // The prefix sum is a lazy plan node: nothing runs while the frame
    // is built, a count table AQE measures as one task's worth is summed
    // in that task, and a larger one is range-partitioned with global
    // offsets from a per-partition-total job (one row per partition —
    // bounded by the partition count, never by data size). avg-rank(v) =
    // below + (ties+1)/2, identical to SQL `rank() + (count(*) over
    // (partition by v) - 1)/2`. No unpartitioned window anywhere, so the
    // plan holds at 100 TB: two groupBy shuffles + two joins back to the
    // fact. The two rank chains are independent stages of one query, and
    // AQE submits them together.
    "q22_spearman" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir).select(col("l_quantity"), col("l_extendedprice"))
      // Column arithmetic, not SQL text: there `2.0` is a DECIMAL literal,
      // and the rank is a double
      def ranks(v: String, out: String): DataFrame =
        Science.cumCounts(s, li.groupBy(col(v).as("v")).agg(count(lit(1)).as("c1")))
          .select(col("v").as(v), (col("below").cast("double") + (col("c1") + 1) / lit(2.0)).as(out))
      val rq = ranks("l_quantity", "rq")
      val rp = ranks("l_extendedprice", "rp")
      li.join(rq, "l_quantity").join(rp, "l_extendedprice")
        .agg(c6(corr(col("rq"), col("rp"))).as("spearman_qty_price"))
    }),

    // ------------------------------------------------------------------
    // Time-series lag-k autocorrelation of daily event-value sums —
    // the reference's raison d'être (sensor series correlation).
    "q23_autocorr" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
      val w = Window.orderBy(col("day"))
      daily
        .withColumn("v1", lag(col("v"), 1).over(w))
        .withColumn("v7", lag(col("v"), 7).over(w))
        .agg(c6(corr(col("v"), col("v1"))).as("ac_lag1"),
          c6(corr(col("v"), col("v7"))).as("ac_lag7"))
    }),

    // ------------------------------------------------------------------
    // Partial correlation pcorr(x,y|z) — the correlation of quantity
    // and price CONTROLLING for discount — from the same single-pass
    // corr matrix: (r_xy − r_xz·r_yz) / √((1−r_xz²)(1−r_yz²)). The
    // reference's "relate two variables net of a third" analysis.
    "q69_partial_corr" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .agg(
          corr(col("l_quantity"), col("l_extendedprice")).as("rxy"),
          corr(col("l_quantity"), col("l_discount")).as("rxz"),
          corr(col("l_extendedprice"), col("l_discount")).as("ryz"))
        .selectExpr(
          "round(rxy, 6) AS corr_xy",
          "round((rxy - rxz * ryz) / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 6) AS pcorr_xy_given_z")),

    // ------------------------------------------------------------------
    // Cross-correlation function between two event-type series (daily
    // purchase sums vs daily click sums) at lags −2..2 — "does one
    // sensor lead the other" — the reference's raison d'être.
    "q70_crosscorr" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .filter(col("event_type").isin("purchase", "click"))
        .groupBy(date_trunc("day", col("ts")).as("day"), col("event_type"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
        .groupBy(col("day"))
        .agg(sum(when(col("event_type") === "purchase", col("v"))).as("p"),
          sum(when(col("event_type") === "click", col("v"))).as("c"))
      val w = Window.orderBy(col("day"))
      def nm(k: Int) = if (k < 0) s"m${-k}" else s"p$k"
      val lags = (-2 to 2).map(k => lag(col("c"), k).over(w).as(s"c_${nm(k)}"))
      val corrs = (-2 to 2).map(k =>
        c6(corr(col("p"), col(s"c_${nm(k)}"))).as(s"xcorr_lag_${nm(k)}"))
      daily.select(col("day") +: col("p") +: lags: _*)
        .agg(corrs.head, corrs.tail: _*)
    }),

    // ------------------------------------------------------------------
    // Rolling 14-day correlation of daily event value vs count — corr
    // as a WINDOW aggregate over a trailing frame, with the same
    // zero-variance guard as q18 (try_divide of windowed co-moments).
    "q71_rolling_corr" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"),
          count(lit(1)).cast("double").as("n"))
        .selectExpr("day", "round(v, 6) AS day_v", "n",
          ("round(try_divide(" +
            "covar_samp(v, n) OVER (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW), " +
            "stddev_samp(v) OVER (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) * " +
            "stddev_samp(n) OVER (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)), 6) AS roll_corr"))
        .orderBy(col("day"))),

    // ------------------------------------------------------------------
    // Correlation significance: t-statistic, Fisher z-transform, and
    // the 95% confidence interval (normal approximation on z, tanh
    // back) — what an analysis API reports NEXT TO r. atanh/tanh are
    // spelled out in ln/exp form so both engines run the identical
    // double expression.
    "q72_corr_significance" -> ((s, dir) =>
      Tables.lineitem(s, dir)
        .agg(corr(col("l_quantity"), col("l_extendedprice")).as("r"),
          count(lit(1)).cast("double").as("n"))
        .selectExpr("r", "n",
          "0.5 * ln((1 + r) / (1 - r)) AS z",
          "1.959963985 / sqrt(n - 3) AS halfw")
        .selectExpr(
          "round(r, 6) AS r",
          "cast(n as bigint) AS n",
          "round(r * sqrt((n - 2) / (1 - r * r)), 6) AS t_stat",
          "round(z, 6) AS fisher_z",
          "round((exp(2 * (z - halfw)) - 1) / (exp(2 * (z - halfw)) + 1), 6) AS ci_lo",
          "round((exp(2 * (z + halfw)) - 1) / (exp(2 * (z + halfw)) + 1), 6) AS ci_hi")),

    // ------------------------------------------------------------------
    // Sketch-based quantiles (Greenwald-Khanna): the 100 TB path when
    // exact percentile's full sort-per-group is too expensive — one
    // pass, mergeable state, rank error ≤ 1/accuracy. Cross-engine-
    // gated via the GK guarantee itself: the raw estimates can't
    // hash-match DuckDB's sketch, but "est's RANK interval in the
    // exact sorted data intersects (q ± ε)·n" is a bool both engines
    // agree on — the oracle pins each p*_ok to TRUE, and the row
    // matches iff the bound actually held. The audit join broadcasts
    // the ≤4·#groups estimate rows back over one fact scan (n_lt/n_le
    // are partial-agg counts), so the whole check is two scans and
    // two partial-agg shuffles — no sort, scale-safe.
    // ApproxQuantileSpec still asserts the bound on the raw estimates
    // via approxQuantileEst below.
    "q63_approx_quantile" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_returnflag").as("rf"), col("l_extendedprice").as("v"))
      val est = approxQuantileEst(s, dir)
        .select(col("l_returnflag").as("erf"), col("n"),
          posexplode(array(col("p25"), col("p50"), col("p75"), col("p90")))
            .as(Seq("qi", "est")))
      val eps = 2e-4 // 2× the 1/accuracy rank error, ceil/floor slack below
      li.join(broadcast(est), col("rf") === col("erf"))
        .groupBy(col("rf"), col("qi"), col("n"))
        .agg(sum(when(col("v") < col("est"), 1L).otherwise(0L)).as("n_lt"),
          sum(when(col("v") <= col("est"), 1L).otherwise(0L)).as("n_le"))
        .withColumn("q",
          element_at(array(lit(0.25), lit(0.5), lit(0.75), lit(0.9)), col("qi") + 1))
        // est occupies ranks [n_lt+1, n_le]; GK promises that interval
        // meets [(q−ε)n, (q+ε)n] (±1 row of integer-rank slack)
        .withColumn("ok",
          (col("n_lt") + lit(1) <= (col("q") + lit(eps)) * col("n") + lit(1)) &&
            (col("n_le") >= (col("q") - lit(eps)) * col("n") - lit(1)))
        .groupBy(col("rf"), col("n"))
        .agg(first(when(col("qi") === 0, col("ok")), ignoreNulls = true).as("p25_ok"),
          first(when(col("qi") === 1, col("ok")), ignoreNulls = true).as("p50_ok"),
          first(when(col("qi") === 2, col("ok")), ignoreNulls = true).as("p75_ok"),
          first(when(col("qi") === 3, col("ok")), ignoreNulls = true).as("p90_ok"))
        .select(col("rf").as("l_returnflag"), col("n"),
          col("p25_ok"), col("p50_ok"), col("p75_ok"), col("p90_ok"))
        .orderBy(col("l_returnflag"))
    }),

    // ------------------------------------------------------------------
    // Winsorization: per-group p05/p95 exact-percentile clamp — the
    // outlier-robustness pass a feature/statistics pipeline runs before
    // averaging heavy-tailed columns. The bounds table is 3 rows →
    // broadcast join back to the fact; clipped sums accumulate in
    // DECIMAL(18,6) (bounds are 6-dp-rounded) so partial-agg merge
    // order cannot perturb the result.
    "q86_winsorize" -> ((s, dir) => {
      val b = Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(expr("round(percentile(l_extendedprice, 0.05), 6)").as("lo"),
          expr("round(percentile(l_extendedprice, 0.95), 6)").as("hi"))
      Tables.lineitem(s, dir)
        .join(broadcast(b), "l_returnflag")
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("l_extendedprice") < col("lo"), 1).otherwise(0)).as("n_lo"),
          sum(when(col("l_extendedprice") > col("hi"), 1).otherwise(0)).as("n_hi"),
          round(sum(col("l_extendedprice").cast("decimal(18,2)")).cast("double")
            / count(lit(1)), 6).as("avg_raw"),
          round(sum(least(greatest(col("l_extendedprice"), col("lo")), col("hi"))
            .cast("decimal(18,6)")).cast("double") / count(lit(1)), 6).as("avg_wins"))
        .orderBy(col("l_returnflag"))
    }),

    // ------------------------------------------------------------------
    // Robust anomaly detection (median/MAD, the monitoring-pipeline
    // outlier flag): per event type, days whose daily sum deviates from
    // the median by > 2.5 robust z (MAD × 1.4826). Median and MAD are
    // exact percentiles over post-agg daily rows (bounded per type);
    // both 1-row-per-type tables broadcast back.
    "q93_anomaly_mad" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
      val med = daily.groupBy(col("event_type"))
        .agg(round(expr("percentile(v, 0.5)"), 6).as("med"))
      val mad = daily.join(broadcast(med), "event_type")
        .groupBy(col("event_type"))
        .agg(round(expr("percentile(abs(v - med), 0.5)"), 6).as("mad"))
      daily.join(broadcast(med), "event_type").join(broadcast(mad), "event_type")
        .withColumn("rz", round(abs(col("v") - col("med"))
          / (lit(1.4826) * col("mad")), 6))
        .filter(abs(col("v") - col("med")) / (lit(1.4826) * col("mad")) > 2.5)
        .select(col("event_type"), col("day"), col("v"), col("med"),
          col("mad"), col("rz"))
        .orderBy(col("event_type"), col("day"))
    }),

    // ------------------------------------------------------------------
    // Per-type linear trend of the daily series via the SQL-standard
    // regr_* aggregate family (slope/intercept/R²/means) — the trend
    // analysis a sensor-correlation engine reports next to corr. One
    // partial-agg shuffle to daily rows, then regr aggregates over
    // bounded post-agg groups.
    "q97_regression" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"),
          datediff(date_trunc("day", col("ts")).cast("date"),
            lit("2024-01-01").cast("date")).as("x"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("y"))
      daily.groupBy(col("event_type"))
        .agg(expr("cast(regr_count(y, x) as bigint)").as("n"),
          round(expr("regr_slope(y, x)"), 6).as("slope"),
          round(expr("regr_intercept(y, x)"), 6).as("icept"),
          round(expr("regr_r2(y, x)"), 6).as("r2"),
          round(expr("regr_avgx(y, x)"), 6).as("avg_x"),
          round(expr("regr_avgy(y, x)"), 6).as("avg_y"))
        .orderBy(col("event_type"))
    }),

    // ------------------------------------------------------------------
    // Bootstrap 95% CI for the daily mean, with DETERMINISTIC hash
    // resampling (md5(b,i) mod n picks each resample element — never
    // rand(), so the CI is reproducible across runs/engines/
    // partitionings, same principle as the q58 split). B=200 resamples
    // over bounded post-agg daily rows; resample means are exact
    // decimal sums; the percentile runs over 200 rows per type.
    "q99_bootstrap_ci" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).as("vd"))
      val ranked = daily
        .withColumn("idx", row_number().over(
          Window.partitionBy(col("event_type")).orderBy(col("day"))))
        .withColumn("n", count(lit(1)).over(Window.partitionBy(col("event_type"))))
      val grid = ranked.select(col("event_type"), col("n")).distinct()
        .select(col("event_type"), col("n"), explode(expr("sequence(1, 200)")).as("b"))
        .select(col("event_type"), col("n"), col("b"), explode(expr("sequence(1, n)")).as("i"))
        .withColumn("idx", expr(
          "md5_mod(concat('bs|', event_type, '|', cast(b as string), '|', cast(i as string)), n) + 1"))
      val means = grid
        .join(ranked.select(col("event_type"), col("idx"), col("vd")), Seq("event_type", "idx"))
        .groupBy(col("event_type"), col("b"), col("n"))
        .agg(sum(col("vd")).as("sv"))
        .withColumn("mean_b", col("sv").cast("double") / col("n"))
      val orig = daily.groupBy(col("event_type"))
        .agg(round(sum(col("vd")).cast("double") / count(lit(1)), 6).as("mean_v"))
      means.groupBy(col("event_type"), col("n"))
        .agg(round(expr("percentile(mean_b, 0.025)"), 6).as("ci_lo"),
          round(expr("percentile(mean_b, 0.975)"), 6).as("ci_hi"))
        .join(broadcast(orig), "event_type")
        .select(col("event_type"), col("n"), col("mean_v"), col("ci_lo"), col("ci_hi"))
        .orderBy(col("event_type"))
    }),

    // ------------------------------------------------------------------
    // Fixed-width histogram (deterministic bins; histogram_numeric's
    // adaptive bins can never match another engine).
    "q24_histogram" -> ((s, dir) =>
      Tables.orders(s, dir)
        .groupBy(floor(col("o_totalprice") / 50000).cast("bigint").as("bucket"))
        .agg(count(lit(1)).as("cnt"),
          min(col("o_totalprice")).as("lo"),
          max(col("o_totalprice")).as("hi"))
        .orderBy(col("bucket"))),

    // ------------------------------------------------------------------
    // Day-of-week seasonality profile: mean daily revenue per ISO
    // weekday and its ratio to the overall daily mean — the seasonal
    // decomposition step before any anomaly/trend analysis. Daily sums
    // are exact DECIMAL; both means divide exact sums by exact counts
    // in double; the overall mean rides along as a window over the 7
    // post-agg weekday rows.
    "q111_seasonality" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
      daily
        .groupBy((weekday(col("day")) + 1).as("dow"))
        .agg(count(lit(1)).as("n_days"), sum(col("rev")).as("dow_rev"))
        .withColumn("tot_rev", sum(col("dow_rev")).over(Window.partitionBy()))
        .withColumn("tot_days", sum(col("n_days")).over(Window.partitionBy()))
        .select(col("dow"), col("n_days"),
          round(col("dow_rev").cast("double") / col("n_days"), 6).as("avg_rev"),
          round((col("dow_rev").cast("double") / col("n_days"))
            / (col("tot_rev").cast("double") / col("tot_days")), 6).as("ratio"))
        .orderBy(col("dow"))
    }),

    // ------------------------------------------------------------------
    // Equal-frequency (decile) binning of order totals — the feature-
    // engineering discretization step. NOT a global ntile() (single-
    // task window): exact decile BOUNDARIES are computed once (bounded
    // 9-value output), broadcast, and each row finds its bin by
    // counting boundaries below it — per-row HOF, embarrassingly
    // parallel, identical list arithmetic in DuckDB. Boundary values
    // ride on q21's proven percentile ≡ quantile_cont parity.
    "q115_eqfreq_bins" -> ((s, dir) => {
      val bs = Tables.orders(s, dir)
        .agg(expr("percentile(o_totalprice, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9))").as("bs"))
      Tables.orders(s, dir).crossJoin(broadcast(bs))
        .withColumn("bin", expr("size(filter(bs, b -> o_totalprice > b)) + 1"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"),
          round(min(col("o_totalprice")), 2).as("lo"),
          round(max(col("o_totalprice")), 2).as("hi"),
          round(sum(col("o_totalprice").cast("decimal(18,2)")).cast("double") / count(lit(1)), 6).as("avg_tp"))
        .orderBy(col("bin"))
    }),

    // ------------------------------------------------------------------
    // One-way ANOVA of order totals across priorities (the categorical→
    // numeric association test completing the correlation family next
    // to Pearson/Spearman/chi-square): F statistic and eta² effect
    // size from per-group exact-decimal (n, Σx, Σx²) — the mergeable
    // sufficient statistics; the closed form runs over k=5 post-agg
    // rows with the Σ(sum²/n) term DECIMAL-quantized pre-sum.
    "q116_anova" -> ((s, dir) => {
      val g = Tables.orders(s, dir)
        .select(col("o_orderpriority").as("pr"), col("o_totalprice").cast("decimal(18,2)").as("x"))
        .groupBy(col("pr"))
        .agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"),
          sum((col("x") * col("x")).cast("decimal(28,4)")).as("q_g"))
      g.agg(
          count(lit(1)).as("k"),
          sum(col("n_g")).as("n"),
          sum(col("s_g")).as("s"),
          sum(col("q_g")).as("q"),
          sum((col("s_g").cast("double") * col("s_g").cast("double") / col("n_g"))
            .cast("decimal(38,10)")).as("t"))
        .select(col("k"), col("n"),
          (col("t").cast("double") - col("s").cast("double") * col("s").cast("double") / col("n")).as("ssb"),
          (col("q").cast("double") - col("t").cast("double")).as("ssw"),
          (col("q").cast("double") - col("s").cast("double") * col("s").cast("double") / col("n")).as("sst"),
          col("k").cast("double").as("kd"), col("n").cast("double").as("nd"))
        .select(col("k"), col("n"),
          round(col("ssb"), 2).as("ssb"),
          round(col("ssw"), 2).as("ssw"),
          round((col("ssb") / (col("kd") - 1)) / (col("ssw") / (col("nd") - col("kd"))), 6).as("f_stat"),
          round(col("ssb") / col("sst"), 6).as("eta_sq"))
    }),
    // ------------------------------------------------------------------
    // Mutual information + normalized MI between order status and
    // priority — the information-theoretic association measure closing
    // the family (Pearson q16, Spearman q22, chi² q101, ANOVA q116).
    // Same shape as q101: one partial-agg shuffle to the contingency
    // cells, marginals as windows over those bounded cells, each
    // p·ln(...) term DECIMAL(28,12)-quantized before the final sum.
    "q117_mutual_info" -> ((s, dir) => {
      val ct = Tables.orders(s, dir)
        .groupBy(col("o_orderstatus").as("x"), col("o_orderpriority").as("y"))
        .agg(count(lit(1)).as("nxy"))
      val m = ct
        .withColumn("nx", sum(col("nxy")).over(Window.partitionBy(col("x"))))
        .withColumn("ny", sum(col("nxy")).over(Window.partitionBy(col("y"))))
        .withColumn("n", sum(col("nxy")).over(Window.partitionBy()))
        .withColumn("mi_t", ((col("nxy") / col("n"))
          * log(col("n").cast("double") * col("nxy") / (col("nx") * col("ny"))))
          .cast("decimal(28,12)"))
        // entropy terms double-count across cells unless scaled by the
        // cell's share of its marginal: Σ_cells (nxy/nx)·(nx/n)·ln(n/nx)
        // = Σ_x (nx/n)·ln(n/nx) = H(X)
        .withColumn("hx_t", ((col("nxy") / col("n"))
          * log(col("n").cast("double") / col("nx"))).cast("decimal(28,12)"))
        .withColumn("hy_t", ((col("nxy") / col("n"))
          * log(col("n").cast("double") / col("ny"))).cast("decimal(28,12)"))
      m.agg(count(lit(1)).as("n_cells"),
          sum(col("mi_t")).cast("double").as("mi_raw"),
          sum(col("hx_t")).cast("double").as("hx_raw"),
          sum(col("hy_t")).cast("double").as("hy_raw"))
        .select(col("n_cells"),
          round(col("mi_raw"), 6).as("mi"),
          round(col("hx_raw"), 6).as("h_x"),
          round(col("hy_raw"), 6).as("h_y"),
          round(col("mi_raw") / sqrt(col("hx_raw") * col("hy_raw")), 6).as("nmi"))
    }),

    // ------------------------------------------------------------------
    // Gini coefficient of order totals — the inequality measure over a
    // money column. G = 2·Σᵢ i·xᵢ / (n·Σx) − (n+1)/n needs global ranks,
    // so the values contract to per-distinct-value counts and the rank
    // weights come CLOSED-FORM from Science.cumCounts' range-partitioned
    // prefix sums: a tie block (v, c) starting above `below` rows
    // contributes v·(2·c·below + c·(c+1)) to 2·Σ i·xᵢ — no row-level
    // rank, no global window. All terms exact DECIMAL; doubles only in
    // the final scalar composite.
    "q135_gini" -> ((s, dir) => {
      val g = Tables.orders(s, dir)
        .groupBy(col("o_totalprice").as("v"))
        .agg(count(lit(1)).as("c1"))
      Science.cumCounts(s, g)
        .withColumn("s2_t", expr(
          "cast(cast(v as decimal(18,2)) * (2 * c1 * below + c1 * (c1 + 1)) as decimal(38,2))"))
        .withColumn("t_t", expr("cast(cast(v as decimal(18,2)) * c1 as decimal(38,2))"))
        .agg(max(col("n1")).as("n"), sum(col("s2_t")).as("s2"), sum(col("t_t")).as("t"))
        .select(col("n"),
          round(col("t").cast("double"), 2).as("total"),
          round(expr("cast(s2 as double) / (n * cast(t as double)) - (n + 1.0) / n"), 6).as("gini"))
    }),

    // ------------------------------------------------------------------
    // Kendall's τ-b between daily view and click counts — the rank
    // correlation that completes the family (Pearson q16, Spearman q22):
    // the fact table contracts to ≤#days daily cells (one shuffle), the
    // O(d²) concordant/discordant pair scan is a broadcast self-join on
    // that bounded frame, and every count is an exact integer — doubles
    // only in the final τ-b composite.
    "q136_kendall_tau" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(sum(when(col("event_type") === "view", 1).otherwise(0)).as("x"),
          sum(when(col("event_type") === "click", 1).otherwise(0)).as("y"))
        .localCheckpoint() // both sides of the pair join
      val b = daily.select(col("day").as("day2"), col("x").as("x2"), col("y").as("y2"))
      daily.join(broadcast(b), col("day") < col("day2"))
        .select(expr("(x2 - x) * (y2 - y)").as("prod"),
          (col("x") === col("x2")).cast("long").as("tx"),
          (col("y") === col("y2")).cast("long").as("ty"))
        .agg(count(lit(1)).as("n0"),
          sum(when(col("prod") > 0, 1L).otherwise(0L)).as("nc"),
          sum(when(col("prod") < 0, 1L).otherwise(0L)).as("nd"),
          sum(col("tx")).as("n1x"), sum(col("ty")).as("n2y"))
        .select(col("n0"), col("nc"), col("nd"),
          round(expr("(nc - nd) / sqrt((cast(n0 as double) - n1x) * (cast(n0 as double) - n2y))"), 6).as("tau_b"))
    }),

    // ------------------------------------------------------------------
    // Distance correlation (Székely's dCor) between daily view and
    // click counts — the dependence measure that sees NONLINEAR
    // association Pearson/Spearman/Kendall miss, closing §2.5's family.
    // The O(d²) double-centered distance matrices live on the bounded
    // daily contraction (≤#days cells, broadcast cross join — never raw
    // rows); pair distances are exact integers, row/grand means are
    // exact-integer-sum ÷ n (deterministic doubles), and each centered
    // product is DECIMAL(28,12)-quantized pre-sum so partition merge
    // order can't move a ULP.
    "q143_distance_corr" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(sum(when(col("event_type") === "view", 1).otherwise(0)).as("x"),
          sum(when(col("event_type") === "click", 1).otherwise(0)).as("y"))
        .localCheckpoint() // both sides of the pair join + the count
      val nd = daily.count() // #days: tiny, known on the driver
      val b = daily.select(col("day").as("dj"), col("x").as("xj"), col("y").as("yj"))
      val p = daily.select(col("day").as("di"), col("x"), col("y"))
        .join(broadcast(b), lit(true))
        .select(col("di"), col("dj"),
          abs(col("x") - col("xj")).as("ax"), abs(col("y") - col("yj")).as("ay"))
        .localCheckpoint() // row-mean agg + centered-term join consume it
      // row means (= col means: the matrices are symmetric)
      val rm = p.groupBy(col("di"))
        .agg((sum(col("ax")).cast("double") / nd).as("ami"),
          (sum(col("ay")).cast("double") / nd).as("bmi"))
      val gm = p.agg((sum(col("ax")).cast("double") / (nd.toDouble * nd)).as("agm"),
        (sum(col("ay")).cast("double") / (nd.toDouble * nd)).as("bgm"))
      val cj = rm.select(col("di").as("dj"), col("ami").as("amj"), col("bmi").as("bmj"))
      p.join(broadcast(rm), "di").join(broadcast(cj), "dj").crossJoin(broadcast(gm))
        .withColumn("aa", col("ax") - col("ami") - col("amj") + col("agm"))
        .withColumn("bb", col("ay") - col("bmi") - col("bmj") + col("bgm"))
        .agg(
          sum(expr("cast(aa * bb as decimal(28,12))")).as("sab"),
          sum(expr("cast(aa * aa as decimal(28,12))")).as("saa"),
          sum(expr("cast(bb * bb as decimal(28,12))")).as("sbb"))
        .select(lit(nd).as("n_days"),
          round(expr(s"cast(sab as double) / ${nd.toDouble * nd}"), 6).as("dcov2"),
          round(expr(
            s"sqrt((cast(sab as double) / ${nd.toDouble * nd}) / sqrt((cast(saa as double) / ${nd.toDouble * nd}) * (cast(sbb as double) / ${nd.toDouble * nd})))"), 6).as("dcor"))
    }),

    // ------------------------------------------------------------------
    // SAX (symbolic aggregate approximation) of the daily event-count
    // series: z-normalize against exact integer sums (Σn, Σn² — never
    // stddev_samp, whose fp accumulation differs per engine), PAA into
    // 6 calendar segments, map each segment mean to the 4-letter
    // alphabet at the Gaussian breakpoints ±0.6745/0. NO window at all:
    // one daily contraction (≤#days rows), one broadcast 1-row stats
    // frame, one 6-group agg — the whole query holds at any scale.
    "q167_sax" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(expr("cast(ts as date)").as("day"))
        .agg(count(lit(1)).as("n"))
        .localCheckpoint() // consumed twice: stats pass + segment agg
      val st = daily.agg(count(lit(1)).as("nd"), sum(col("n")).as("s1"),
        sum(col("n") * col("n")).as("s2"),
        min(col("day")).as("mind"), max(col("day")).as("maxd"))
      daily.crossJoin(broadcast(st))
        .withColumn("seg", expr(
          "cast(floor(datediff(day, mind) * 6 / (datediff(maxd, mind) + 1)) as int)"))
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("n_days"), sum(col("n")).as("seg_n"),
          max(col("nd")).as("nd"), max(col("s1")).as("s1"), max(col("s2")).as("s2"))
        .withColumn("paa", expr(
          "(cast(seg_n as double) / n_days - cast(s1 as double) / nd) / " +
            "sqrt((cast(s2 as double) - cast(s1 as double) * s1 / nd) / (nd - 1))"))
        .select(col("seg"), col("n_days"), round(col("paa"), 6).as("paa_z"),
          expr("case when paa < -0.6745 then 'a' when paa < 0 then 'b' " +
            "when paa < 0.6745 then 'c' else 'd' end").as("symbol"))
        .orderBy(col("seg"))
    }),

    // ------------------------------------------------------------------
    // RFM customer segmentation: per-customer recency/frequency/monetary
    // from one orders contraction, quartile boundaries from ONE exact-
    // percentile 1-row agg (rounded to 6dp on both engines — the q162
    // convention) broadcast back as plain comparisons — never an
    // ntile window over the customer frame, which would be a
    // customer-count-sized single-task sort at scale. Monetary sums
    // stay DECIMAL end-to-end.
    "q168_rfm" -> ((s, dir) => {
      val cust = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(max(col("o_orderdate")).as("lastd"), count(lit(1)).as("f"),
          sum(expr("cast(o_totalprice as decimal(18,2))")).as("m"))
      val maxd = cust.agg(max(col("lastd")).as("maxd"))
      val withR = cust.crossJoin(broadcast(maxd))
        .withColumn("r", expr("datediff(maxd, lastd)"))
        .localCheckpoint() // consumed twice: boundary agg + scoring
      val qs = withR.agg(
        expr("round(percentile(r, 0.25), 6)").as("rq1"),
        expr("round(percentile(r, 0.5), 6)").as("rq2"),
        expr("round(percentile(r, 0.75), 6)").as("rq3"),
        expr("round(percentile(f, 0.25), 6)").as("fq1"),
        expr("round(percentile(f, 0.5), 6)").as("fq2"),
        expr("round(percentile(f, 0.75), 6)").as("fq3"),
        expr("round(percentile(cast(m as double), 0.25), 6)").as("mq1"),
        expr("round(percentile(cast(m as double), 0.5), 6)").as("mq2"),
        expr("round(percentile(cast(m as double), 0.75), 6)").as("mq3"))
      withR.crossJoin(broadcast(qs))
        .withColumn("r_score", expr(
          "case when r <= rq1 then 4 when r <= rq2 then 3 when r <= rq3 then 2 else 1 end"))
        .withColumn("f_score", expr(
          "case when f <= fq1 then 1 when f <= fq2 then 2 when f <= fq3 then 3 else 4 end"))
        .withColumn("m_score", expr(
          "case when cast(m as double) <= mq1 then 1 when cast(m as double) <= mq2 then 2 " +
            "when cast(m as double) <= mq3 then 3 else 4 end"))
        .groupBy(col("r_score"), col("f_score"), col("m_score"))
        .agg(count(lit(1)).as("n_cust"), sum(col("m")).as("m_sum"))
        .select(col("r_score"), col("f_score"), col("m_score"), col("n_cust"),
          round(expr("cast(m_sum as double) / n_cust"), 4).as("avg_monetary"))
        .orderBy(col("r_score"), col("f_score"), col("m_score"))
    }),

    // ------------------------------------------------------------------
    // Grubbs' outlier test on order totals: G = max|x−x̄|/s from exact
    // DECIMAL(18,2) sums (one stats pass broadcast back, one deviation
    // pass), the argmax row picked by TakeOrdered with a key tiebreak —
    // no window, no second sort. Complements q93's robust MAD screen
    // with the classical parametric test.
    "q180_grubbs" -> ((s, dir) => {
      val p = Tables.orders(s, dir)
        .select(col("o_orderkey"), expr("cast(o_totalprice as decimal(18,2))").as("p"))
      val st = p.agg(count(lit(1)).as("n"), sum(col("p")).as("s1"),
        sum(expr("p * p")).as("s2"))
      p.crossJoin(broadcast(st))
        .withColumn("mean", expr("cast(s1 as double) / n"))
        .withColumn("sd", expr(
          "sqrt((cast(s2 as double) - cast(s1 as double) * cast(s1 as double) / n) / (n - 1))"))
        .withColumn("dev", expr("abs(cast(p as double) - mean)"))
        .orderBy(col("dev").desc, col("o_orderkey"))
        .limit(1)
        .select(col("n"), round(col("mean"), 6).as("mean"),
          round(col("sd"), 6).as("sd"),
          round(expr("dev / sd"), 6).as("g_stat"),
          col("o_orderkey").as("outlier_key"),
          col("p").cast("double").as("outlier_value"))
    }),

    // ------------------------------------------------------------------
    // OLS regression diagnostics on the daily series (x = day index,
    // y = events/day): residuals, leverage hᵢ = 1/n + (x−x̄)²/Sxx and
    // Cook's distance Dᵢ = e²h/(p·s²(1−h)²), all closed-form from one
    // exact-integer-sum pass broadcast onto the ≤#days contraction.
    // Top-5 influential days by D via TakeOrdered (day tiebreak).
    "q182_regression_diag" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(expr("cast(ts as date)").as("day"))
        .agg(count(lit(1)).as("y"))
        .localCheckpoint() // consumed twice: sums pass + per-day diag
      val st = daily.agg(count(lit(1)).as("n"), min(col("day")).as("mind"))
      val d2 = daily.crossJoin(broadcast(st))
        .withColumn("x", expr("datediff(day, mind)"))
      val st2 = d2.agg(max(col("n")).as("n"), sum(col("x")).as("sx"),
        sum(expr("x * x")).as("sxx"), sum(col("y")).as("sy"),
        sum(expr("x * y")).as("sxy"),
        sum(expr("cast(y as decimal(38,0)) * y")).as("syy"))
      d2.crossJoin(broadcast(st2.withColumnRenamed("n", "n2")))
        .withColumn("xbar", expr("cast(sx as double) / n2"))
        .withColumn("slope", expr(
          "(n2 * cast(sxy as double) - cast(sx as double) * sy) / (n2 * cast(sxx as double) - cast(sx as double) * sx)"))
        .withColumn("icept", expr("(cast(sy as double) - slope * sx) / n2"))
        .withColumn("e", expr("y - (icept + slope * x)"))
        .withColumn("sxxc", expr("cast(sxx as double) - cast(sx as double) * sx / n2"))
        .withColumn("h", expr("1.0 / n2 + (x - xbar) * (x - xbar) / sxxc"))
        .withColumn("s2e", expr(
          "(cast(syy as double) - icept * sy - slope * cast(sxy as double)) / (n2 - 2)"))
        .withColumn("cook", expr("e * e * h / (2.0 * s2e * (1.0 - h) * (1.0 - h))"))
        .orderBy(col("cook").desc, col("day"))
        .limit(5)
        .select(col("day"), col("y"),
          round(col("e"), 6).as("residual"),
          round(col("h"), 6).as("leverage"),
          round(col("cook"), 6).as("cooks_d"))
    }),

    // ------------------------------------------------------------------
    // Jarque–Bera normality test per returnflag group — the omnibus
    // moment test that closes §2.5's distribution-shape family (q20
    // reports the moments; this turns them into a decision). Same
    // exact-integer power-sum contraction as q20 (l_quantity is
    // integer-valued, so Σx..Σx⁴ are exact DECIMAL(38,0) — no fp
    // accumulation anywhere before the final scalar formula), GROUPED:
    // one partial-agg shuffle to ≤|returnflag| cells. JB is computed
    // from the 6dp-ROUNDED skew/kurtosis in BOTH engines so the
    // comparison can never hinge on a sub-rounding ULP.
    "q242_jarque_bera" -> ((s, dir) => {
      def p(k: Int) = {
        val prod = (1 to k).map(_ => col("l_quantity")).reduce(_ * _)
        sum(prod.cast("decimal(38,0)")).as(s"s$k")
      }
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), p(1), p(2), p(3), p(4))
        .selectExpr("l_returnflag", "n",
          "cast(s1 as double)/n AS mu", "cast(s2 as double)/n AS e2",
          "cast(s3 as double)/n AS e3", "cast(s4 as double)/n AS e4")
        .selectExpr("l_returnflag", "n",
          "round((e3 - 3*mu*e2 + 2*mu*mu*mu) / ((e2 - mu*mu) * sqrt(e2 - mu*mu)), 6) AS skew",
          "round((e4 - 4*mu*e3 + 6*mu*mu*e2 - 3*mu*mu*mu*mu) / ((e2 - mu*mu) * (e2 - mu*mu)) - 3, 6) AS kurt_excess")
        .selectExpr("l_returnflag", "n", "skew", "kurt_excess",
          "round(n / 6.0 * (skew * skew + kurt_excess * kurt_excess / 4.0), 6) AS jb",
          // χ²(2) 5% critical value
          "n / 6.0 * (skew * skew + kurt_excess * kurt_excess / 4.0) > 5.991465 AS reject_normal_5pct")
        .orderBy(col("l_returnflag"))
    }),

    // ------------------------------------------------------------------
    // WEIGHTED quantiles of extended price, weighted by quantity — the
    // "per-unit price distribution" a revenue analysis needs where
    // q21's row-quantiles answer a different question. Prices contract
    // to per-distinct-value INTEGER weight sums (one shuffle), the
    // weighted CDF rides cumCounts' range-partitioned prefix sums, and
    // each of the 4 probes brackets its target weight q·W with a
    // below/cum filter (≤4 output rows — cum is strictly increasing so
    // the bracket row is unique). The unweighted percentile rides
    // along to show WHERE the weighting moves each cut.
    "q273_weighted_quantile" -> ((s, dir) => {
      val g = Tables.lineitem(s, dir)
        .groupBy(col("l_extendedprice").as("v"))
        .agg(sum(col("l_quantity").cast("long")).as("c1"))
      val cum = Science.cumCounts(s, g)
        .select(col("v"), col("below"), col("cum1"), col("n1"))
      val probes = s.range(1).select(posexplode(array(
        lit(0.25d), lit(0.5d), lit(0.75d), lit(0.9d))).as(Seq("i", "q")))
      val uw = Tables.lineitem(s, dir).agg(expr(
        "transform(percentile(l_extendedprice, array(0.25d, 0.5d, 0.75d, 0.9d)), b -> round(b, 6))").as("uq"))
      cum.crossJoin(broadcast(probes))
        .filter(col("below") < col("q") * col("n1") && col("cum1") >= col("q") * col("n1"))
        .crossJoin(broadcast(uw))
        .selectExpr("q", "n1 AS total_weight",
          "round(v, 6) AS weighted_q",
          "element_at(uq, cast(i + 1 as int)) AS unweighted_q",
          "round(v - element_at(uq, cast(i + 1 as int)), 6) AS shift")
        .orderBy(col("q"))
    }),

    // ------------------------------------------------------------------
    // Ljung–Box portmanteau test: is daily revenue white noise, or is
    // there autocorrelation ANYWHERE in the first 7 lags — the
    // one-number upgrade of q23's two point estimates (and the residual
    // whiteness check behind q193/q209). Classical ACF (common mean,
    // full-series denominator, both from exact DECIMAL sums) over the
    // ≤#days daily contraction; all 7 lags evaluate in ONE bounded
    // window pass (q87's idiom, allowlisted); products quantized
    // DECIMAL(28,12). LB = n(n+2)·Σ r_k²/(n−k) vs χ²(7) at 5%.
    "q274_ljung_box" -> ((s, dir) => {
      val daily = Tables.orders(s, dir)
        .groupBy(col("o_orderdate").cast("date").as("day"))
        .agg(sum(expr("cast(o_totalprice as decimal(18,2))")).as("xd"))
        .localCheckpoint() // mean agg + lag window both consume it
      val m = daily.agg(sum(col("xd")).as("sx"), count(lit(1)).as("n"))
        .selectExpr("cast(sx as double) / n AS mu", "n")
      val w = Window.orderBy(col("day")) // bounded: ≤#days cells (allowlisted)
      val lagged = daily.crossJoin(broadcast(m))
        .withColumn("x", expr("cast(xd as double) - mu"))
      val withLags = (1 to 7).foldLeft(lagged)((df, k) =>
        df.withColumn(s"x$k", lag(col("x"), k).over(w)))
      val aggCols = Seq(sum(expr("cast(x * x as decimal(28,12))")).as("d0"),
        first(col("n")).as("n")) ++
        (1 to 7).map(k => sum(expr(s"cast(x * x$k as decimal(28,12))")).as(s"nu$k"))
      val sums = withLags.agg(aggCols.head, aggCols.tail: _*)
      val rks = (1 to 7).map(k =>
        s"cast(nu$k as double) / cast(d0 as double) AS r$k")
      val lbTerms = (1 to 7).map(k => s"r$k * r$k / (n - $k)").mkString(" + ")
      sums.selectExpr(("n" +: rks): _*)
        .selectExpr(Seq("n") ++ (1 to 7).map(k => s"round(r$k, 6) AS r$k") ++ Seq(
          s"round(n * (n + 2.0) * ($lbTerms), 6) AS lb_stat",
          // χ²(7) 5% critical value
          s"n * (n + 2.0) * ($lbTerms) > 14.067140 AS reject_white_5pct"): _*)
    }),

    // ------------------------------------------------------------------
    // Intraclass correlation ICC(1) — one-way random-effects
    // reliability of o_totalprice within o_orderpriority groups: the
    // variance-decomposition readout q116's F-test implies (what share
    // of price variance sits BETWEEN priorities?). Same exact
    // (n, Σx, Σx²) cells as q116; the unbalanced design uses the
    // standard k0 = (N − Σn_g²/N)/(k−1) effective group size, so the
    // estimate is exact for unequal groups rather than the
    // balanced-design shortcut. One partial-agg shuffle to k cells;
    // everything after is closed-form over those cells.
    "q301_icc" -> ((s, dir) => {
      val g = Tables.orders(s, dir)
        .select(col("o_orderpriority").as("pr"), col("o_totalprice").cast("decimal(18,2)").as("x"))
        .groupBy(col("pr"))
        .agg(count(lit(1)).as("n_g"), sum(col("x")).as("s_g"),
          sum((col("x") * col("x")).cast("decimal(28,4)")).as("q_g"))
      g.agg(
          count(lit(1)).as("k"),
          sum(col("n_g")).as("n"),
          sum(col("s_g")).as("s"),
          sum(col("q_g")).as("q"),
          sum((col("s_g").cast("double") * col("s_g").cast("double") / col("n_g"))
            .cast("decimal(38,10)")).as("t"),
          sum(col("n_g") * col("n_g")).as("sn2"))
        .select(col("k"), col("n"),
          (col("t").cast("double") - col("s").cast("double") * col("s").cast("double") / col("n")).as("ssb"),
          (col("q").cast("double") - col("t").cast("double")).as("ssw"),
          col("k").cast("double").as("kd"), col("n").cast("double").as("nd"),
          col("sn2").cast("double").as("sn2d"))
        .select(col("k"), col("n"),
          (col("ssb") / (col("kd") - 1)).as("msb"),
          (col("ssw") / (col("nd") - col("kd"))).as("msw"),
          ((col("nd") - col("sn2d") / col("nd")) / (col("kd") - 1)).as("k0"))
        .select(col("k"), col("n"),
          round(col("msb"), 4).as("msb"), round(col("msw"), 4).as("msw"),
          round(col("k0"), 6).as("k0"),
          round((col("msb") - col("msw")) /
            (col("msb") + (col("k0") - 1) * col("msw")), 6).as("icc1"))
    }),

    // ------------------------------------------------------------------
    // Residual diagnostics for the daily-count trend regression —
    // Durbin–Watson serial-correlation and Breusch–Pagan
    // heteroskedasticity, the two standard OLS residual checks q182's
    // fit-quality readout doesn't cover (q274's Ljung–Box tests the
    // raw series; DW tests the RESIDUALS at lag 1, BP tests whether
    // their VARIANCE drifts with the regressor). OLS from exact
    // integer sums; residuals live on ≤#days post-agg cells, the DW
    // lag is a window over those cells (allowlisted), and BP's
    // auxiliary r² of e² on x comes from DECIMAL-quantized cell sums.
    "q309_resid_diag" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("y"))
        .localCheckpoint() // sums pass + residual pass
      val st = daily.agg(count(lit(1)).as("n"), min(col("day")).as("mind"))
      val d2 = daily.crossJoin(broadcast(st))
        .withColumn("x", expr("datediff(day, mind)"))
      val sums = d2.agg(max(col("n")).as("n"), sum(col("x")).as("sx"),
        sum(col("x") * col("x")).as("sxx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), min(col("mind")).as("mind"))
      val resid = d2.drop("n", "mind").crossJoin(broadcast(sums.select(
          expr("(cast(n as double) * sxy - cast(sx as double) * sy) / (cast(n as double) * sxx - cast(sx as double) * sx)").as("slope"),
          col("n").as("nn"), col("sx").as("fsx"), col("sy").as("fsy"))))
        .withColumn("icept", expr("(cast(fsy as double) - slope * fsx) / nn"))
        .withColumn("e", expr("cast(y as double) - (icept + slope * x)"))
      val wd = Window.orderBy(col("day")) // bounded: <= #days daily cells (allowlisted)
      val lagged = resid.withColumn("e1", lag(col("e"), 1).over(wd))
      lagged.agg(
          max(col("nn")).as("n"), max(col("slope")).as("slope"),
          sum(expr("cast(e * e as decimal(28,12))")).as("see"),
          sum(expr("cast(case when e1 is null then 0.0 else (e - e1) * (e - e1) end as decimal(28,12))")).as("sd2"),
          sum(expr("cast(e * e * x as decimal(28,6))")).as("szx"),
          sum(expr("cast(e * e * e * e as decimal(38,6))")).as("szz"),
          sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"))
        .selectExpr("n", "slope",
          "cast(sd2 as double) / cast(see as double) AS dw",
          ("(cast(n as double) * cast(szx as double) - cast(sx as double) * cast(see as double)) "
            + "/ (sqrt(cast(n as double) * sxx - cast(sx as double) * sx) "
            + "* sqrt(cast(n as double) * cast(szz as double) - cast(see as double) * cast(see as double))) AS r_aux"))
        .selectExpr("n", "round(slope, 6) AS slope", "round(dw, 6) AS dw_stat",
          "round(n * r_aux * r_aux, 6) AS bp_lm",
          "n * r_aux * r_aux > 3.841459 AS bp_reject_5pct")
    }),

    // ------------------------------------------------------------------
    // Granger causality (clicks → purchases, lag 1) — "do yesterday's
    // clicks improve today's purchase forecast beyond yesterday's
    // purchases?": the lead-lag test the q70 cross-correlation reads
    // descriptively, done inferentially. Daily (clicks, purchases)
    // cells; restricted OLS y_t ~ y_{t−1} vs unrestricted y_t ~ y_{t−1}
    // + x_{t−1}, both CLOSED-FORM from exact integer sums (the 2×2
    // normal equations solve by Cramer's rule on centered sums — no
    // iteration); F = (SSR_r − SSR_ur)(n−3)/SSR_ur on (1, n−3) df,
    // compared against the asymptotic χ²(1) critical 3.841459
    // (documented asymptote — identical constant in both engines).
    // The lag window rides ≤ #days daily cells (allowlisted).
    "q320_granger" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(sum(when(col("event_type") === "click", 1).otherwise(0)).as("xc"),
          sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("yc"))
      val wd = Window.orderBy(col("day")) // bounded: <= #days daily cells (allowlisted)
      val lagged = daily
        .withColumn("a", lag(col("yc"), 1).over(wd))
        .withColumn("b", lag(col("xc"), 1).over(wd))
        .filter(col("a").isNotNull && col("b").isNotNull)
      lagged.agg(count(lit(1)).as("n"),
          sum(col("yc")).as("sy"), sum(col("a")).as("sa"), sum(col("b")).as("sb"),
          sum(col("yc") * col("yc")).as("syy"), sum(col("a") * col("a")).as("saa"),
          sum(col("b") * col("b")).as("sbb"), sum(col("a") * col("yc")).as("say"),
          sum(col("b") * col("yc")).as("sby"), sum(col("a") * col("b")).as("sab"))
        .selectExpr("n",
          "cast(saa as double) - cast(sa as double) * sa / n AS caa",
          "cast(sbb as double) - cast(sb as double) * sb / n AS cbb",
          "cast(sab as double) - cast(sa as double) * sb / n AS cab",
          "cast(say as double) - cast(sa as double) * sy / n AS cay",
          "cast(sby as double) - cast(sb as double) * sy / n AS cby",
          "cast(syy as double) - cast(sy as double) * sy / n AS cyy")
        .selectExpr("n", "caa", "cay", "cyy",
          "(cay * cbb - cby * cab) / (caa * cbb - cab * cab) AS beta_ylag",
          "(cby * caa - cay * cab) / (caa * cbb - cab * cab) AS beta_xlag",
          "cby")
        .selectExpr("n", "beta_ylag", "beta_xlag",
          "cyy - beta_ylag * cay - beta_xlag * cby AS ssr_ur",
          "cyy - cay * cay / caa AS ssr_r")
        .selectExpr("n", "round(beta_ylag, 6) AS beta_ylag",
          "round(beta_xlag, 6) AS beta_xlag",
          "round((ssr_r - ssr_ur) * (n - 3) / ssr_ur, 6) AS f_stat",
          "(ssr_r - ssr_ur) * (n - 3) / ssr_ur > 3.841459 AS reject_5pct")
    }),

    // ------------------------------------------------------------------
    // Chow structural-break test at the known Jan-16 cutpoint — the
    // PARAMETRIC break test (q125's CUSUM scans for an UNKNOWN break;
    // Chow tests a hypothesized one): daily-count linear trends fit
    // separately pre/post vs pooled, F = [(SSR_p − SSR₁ − SSR₂)/2] /
    // [(SSR₁+SSR₂)/(n−4)]. Each segment's SSR is closed-form from
    // exact integer (n, Σt, Σt², Σy, Σty, Σy²) cells; the pooled SSR
    // reuses the SAME cells summed — one contraction, one 2-row
    // aggregate, zero windows. Asymptotic χ²(2)/2 critical (2F >
    // 5.991465), identical constant in both engines.
    "q321_chow" -> ((s, dir) => {
      val cells = Tables.events(s, dir)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("y"))
        .select(expr("datediff(day, date'2024-01-01')").as("t"), col("y"),
          expr("case when day < date'2024-01-16' then 0 else 1 end").as("seg"))
        .groupBy(col("seg"))
        .agg(count(lit(1)).as("n_g"), sum(col("t")).as("st"),
          sum(col("t") * col("t")).as("stt"), sum(col("y")).as("sy"),
          sum(col("t") * col("y")).as("sty"), sum(col("y") * col("y")).as("syy"))
      cells
        .withColumn("ssr_g", expr(
          "cast((cast(syy as double) - cast(sy as double) * sy / n_g) - "
            + "(cast(sty as double) - cast(st as double) * sy / n_g) * (cast(sty as double) - cast(st as double) * sy / n_g) "
            + "/ (cast(stt as double) - cast(st as double) * st / n_g) as decimal(28,12))"))
        .agg(sum(col("n_g")).as("n"), sum(col("st")).as("pst"),
          sum(col("stt")).as("pstt"), sum(col("sy")).as("psy"),
          sum(col("sty")).as("psty"), sum(col("syy")).as("psyy"),
          sum(col("ssr_g")).as("ssr_split_x"))
        .selectExpr("n", "cast(ssr_split_x as double) AS ssr_split",
          ("(cast(psyy as double) - cast(psy as double) * psy / n) - "
            + "(cast(psty as double) - cast(pst as double) * psy / n) * (cast(psty as double) - cast(pst as double) * psy / n) "
            + "/ (cast(pstt as double) - cast(pst as double) * pst / n) AS ssr_pooled"))
        .selectExpr("n", "round(ssr_pooled, 6) AS ssr_pooled",
          "round(ssr_split, 6) AS ssr_split",
          "round(((ssr_pooled - ssr_split) / 2.0) / (ssr_split / (n - 4)), 6) AS chow_f",
          "(ssr_pooled - ssr_split) / (ssr_split / (n - 4)) > 5.991465 AS reject_5pct")
    }),

    // ------------------------------------------------------------------
    // Cronbach's alpha — internal-consistency reliability of the event
    // stream read as a k-item instrument (items = event types, subjects
    // = days, score = daily count): α = k/(k−1)·(1 − Σσ²ᵢ/σ²_T), the
    // "do the k channels move together?" readout q17's correlation
    // matrix implies but never aggregates. Absent (day, type) cells
    // are genuine zeros and contribute nothing to Σx/Σx², so the
    // per-type variance over ALL n_days days is exact from the present
    // cells + the broadcast day count — no pivot, no dense grid. One
    // (day, type) contraction; per-item and per-day-total variances
    // both from exact integer sums; sample (n−1) variances.
    "q327_cronbach_alpha" -> ((s, dir) => {
      val cells = Tables.events(s, dir)
        .groupBy(col("ts").cast("date").as("day"), col("event_type"))
        .agg(count(lit(1)).as("c"))
        .localCheckpoint() // consumed thrice: day count + item cells + day totals
      val nd = cells.select(col("day")).distinct().agg(count(lit(1)).as("nd"))
      val items = cells.groupBy(col("event_type"))
        .agg(sum(col("c")).as("s1"), sum(col("c") * col("c")).as("s2"))
        .crossJoin(broadcast(nd))
        .withColumn("var_i", expr(
          "(cast(s2 as double) - cast(s1 as double) * s1 / nd) / (nd - 1)"))
        .agg(count(lit(1)).as("k"), max(col("nd")).as("nd"),
          sum(expr("cast(var_i as decimal(28,12))")).as("sv"))
      val totals = cells.groupBy(col("day"))
        .agg(sum(col("c")).as("tt"))
        .agg(sum(col("tt")).as("s1t"), sum(col("tt") * col("tt")).as("s2t"))
      items.crossJoin(broadcast(totals))
        .withColumn("var_t", expr(
          "(cast(s2t as double) - cast(s1t as double) * s1t / nd) / (nd - 1)"))
        .selectExpr("k", "nd AS n_days",
          "round(cast(sv as double), 6) AS sum_item_var",
          "round(var_t, 6) AS total_var",
          "round(cast(k as double) / (k - 1) * (1.0 - cast(sv as double) / var_t), 6) AS alpha")
    }),

    // ------------------------------------------------------------------
    // Dickey–Fuller unit-root test (constant, lag 0) on the daily
    // event count — the STATIONARITY gate the trend family assumes
    // away (q249 Mann–Kendall detects a monotone trend; q320 Granger
    // REQUIRES stationarity; DF tests it): Δy_t = α + β·y_{t−1} + ε,
    // H₀: β = 0 (unit root). β̂, SE, and the DF statistic are all
    // closed-form from exact integer sums over the lagged daily frame
    // (counts are integers, so Σy₁, Σy₁², ΣΔy, ΣΔy², Σy₁Δy are exact
    // BIGINTs — order-free across engines); the comparison constant is
    // the asymptotic 5% critical −2.86 (constant-only case, identical
    // literal both engines; the t-distribution does NOT apply under
    // H₀, hence the dedicated DF table). One daily contraction; the
    // lag window runs over ≤#days cells (allowlisted, q23's shape).
    "q332_adf_test" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("y"))
      val wd = Window.orderBy(col("day")) // bounded: <= #days daily cells
      daily.withColumn("y1", lag(col("y"), 1).over(wd))
        .filter(col("y1").isNotNull)
        .withColumn("dy", col("y") - col("y1"))
        .agg(count(lit(1)).as("n"),
          sum(col("y1")).as("s1"), sum(expr("y1 * y1")).as("s11"),
          sum(col("dy")).as("sd"), sum(expr("dy * dy")).as("sdd"),
          sum(expr("y1 * dy")).as("s1d"))
        .withColumn("c11", expr("cast(s11 as double) - cast(s1 as double) * s1 / n"))
        .withColumn("c1d", expr("cast(s1d as double) - cast(s1 as double) * sd / n"))
        .withColumn("cdd", expr("cast(sdd as double) - cast(sd as double) * sd / n"))
        .withColumn("beta", expr("c1d / c11"))
        .withColumn("se", expr("sqrt((cdd - c1d / c11 * c1d) / (n - 2) / c11)"))
        .selectExpr("n", "round(beta, 6) AS beta",
          "round(beta / se, 6) AS df_stat",
          "beta / se < -2.86 AS reject_unit_root_5pct")
    }),

    // ------------------------------------------------------------------
    // Inequality indices beyond Gini (q135): Theil T (the additively
    // decomposable entropy index), Atkinson ε=0.5 (welfare-weighted,
    // 1 − EDE/μ with EDE = ((1/n)Σ√x)²), and Hoover/Robin-Hood
    // (Σ|x−μ| / 2nμ — the share of mass that must move to equalize)
    // over o_totalprice. Two fact passes: pass 1 builds the exact
    // (n, Σx, Σ√x-quantized) stats, pass 2 broadcasts them back for
    // the μ-dependent per-row terms ((x/μ)ln(x/μ), |x−μ|), each
    // quantized DECIMAL(28,12) before the order-free sum — q93's
    // two-pass broadcast shape; no window, no sort.
    "q304_inequality" -> ((s, dir) => {
      val x = Tables.orders(s, dir)
        .select(col("o_totalprice").cast("decimal(18,2)").as("x"))
        .filter(col("x") > 0)
      val stats = x.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(expr("cast(sqrt(cast(x as double)) as decimal(28,12))")).as("ssq"))
      x.crossJoin(broadcast(stats))
        .withColumn("mu", expr("cast(sx as double) / n"))
        .agg(
          max(col("n")).as("n"), max(col("mu")).as("mu"),
          max(expr("cast(ssq as double)")).as("ssqd"),
          sum(expr(
            "cast((cast(x as double) / (cast(sx as double) / n)) * ln(cast(x as double) / (cast(sx as double) / n)) as decimal(28,12))")).as("tq"),
          sum(expr("cast(abs(cast(x as double) - cast(sx as double) / n) as decimal(28,12))")).as("hq"))
        .selectExpr("n", "round(mu, 6) AS mean",
          "round(cast(tq as double) / n, 6) AS theil_t",
          "round(1.0 - (ssqd / n) * (ssqd / n) / mu, 6) AS atkinson_05",
          "round(cast(hq as double) / (2.0 * n * mu), 6) AS hoover")
    }),

    // ------------------------------------------------------------------
    // Yule–Walker AR(2) fit + one-step forecast on the daily value
    // series — the classical autoregressive companion to q23's ACF and
    // q332's ADF: φ₁ = r₁(1−r₂)/(1−r₁²), φ₂ = (r₂−r₁²)/(1−r₁²) from
    // the lag-1/lag-2 autocovariances, v̂_{T+1} = μ + φ₁(v_T−μ) +
    // φ₂(v_{T−1}−μ). The corpus contracts to ≤#days rows in one
    // shuffle; the lag window is BOUNDED by that contraction (q87's
    // allowlisted idiom) and every covariance term is quantized to
    // DECIMAL(38,6) pre-sum, so the ACF vector is order-exact; the
    // last-two-values probe is a sort+limit(1), a 1-row broadcast.
    "q387_yule_walker" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .filter(col("value").isNotNull) // an all-null day must not emit a NULL v
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
        .localCheckpoint() // consumed by μ, the lag pass, and the tail probe
      val mean = daily.agg(count(lit(1)).as("n_days"),
          sum(col("v").cast("decimal(28,2)")).as("sv"))
        .withColumn("mu", expr("cast(sv as double) / n_days"))
        .select("n_days", "mu")
      val w = Window.orderBy(col("day")) // bounded: ≤ #days rows post-contraction
      val lagged = daily
        .withColumn("v1", lag(col("v"), 1).over(w))
        .withColumn("v2", lag(col("v"), 2).over(w))
      val acf = lagged.crossJoin(broadcast(mean)).agg(
        sum(expr("cast((v - mu) * (v - mu) as decimal(38,6))")).as("c0"),
        sum(expr("cast((v - mu) * (v1 - mu) as decimal(38,6))")).as("c1"),
        sum(expr("cast((v - mu) * (v2 - mu) as decimal(38,6))")).as("c2"))
      val tail2 = lagged.orderBy(col("day").desc).limit(1)
        .select(col("v").as("vT"), col("v1").as("vT1"))
      acf.crossJoin(broadcast(mean)).crossJoin(broadcast(tail2))
        .withColumn("r1", expr("cast(c1 as double) / cast(c0 as double)"))
        .withColumn("r2", expr("cast(c2 as double) / cast(c0 as double)"))
        .withColumn("phi1", expr("r1 * (1.0d - r2) / (1.0d - r1 * r1)"))
        .withColumn("phi2", expr("(r2 - r1 * r1) / (1.0d - r1 * r1)"))
        .selectExpr("n_days", "round(mu, 4) AS mean_v",
          "round(r1, 6) AS r1", "round(r2, 6) AS r2",
          "round(phi1, 6) AS phi1", "round(phi2, 6) AS phi2",
          "round(mu + phi1 * (vT - mu) + phi2 * (vT1 - mu), 4) AS forecast")
    }),
  )

  /** q63's raw GK estimates (l_returnflag, p25..p90, n) — the frame
    * the query's rank-bound audit (and ApproxQuantileSpec) consume.
    * Kept separate so the spec can still assert the rank-error bound
    * against the exact sorted data while the query surface emits the
    * cross-engine-comparable booleans. */
  private[graft] def approxQuantileEst(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .groupBy(col("l_returnflag"))
      .agg(
        expr("approx_percentile(l_extendedprice, array(0.25, 0.5, 0.75, 0.9), 10000)").as("aq"),
        count(lit(1)).as("n"))
      .select(col("l_returnflag"),
        expr("element_at(aq, 1)").as("p25"),
        expr("element_at(aq, 2)").as("p50"),
        expr("element_at(aq, 3)").as("p75"),
        expr("element_at(aq, 4)").as("p90"),
        col("n"))

  def oracles: Map[String, String] = Map(
    // q409: the identical cell contraction + exact integer pair/tie
    // algebra; the final ratio is the same double expression.
    "q409_kendall_tau" ->
      ("WITH cells AS (SELECT CAST(floor(value / 10.0) AS BIGINT) AS x, "
        + "CAST(hour(ts) AS BIGINT) AS y, CAST(count(*) AS BIGINT) AS c "
        + "FROM events WHERE value IS NOT NULL GROUP BY 1, 2), "
        + "pairs AS (SELECT CAST(coalesce(sum(CASE WHEN a.y < b.y THEN a.c * b.c END), 0) AS BIGINT) AS nc, "
        + "CAST(coalesce(sum(CASE WHEN a.y > b.y THEN a.c * b.c END), 0) AS BIGINT) AS nd "
        + "FROM cells a JOIN cells b ON a.x < b.x), "
        + "tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM cells), "
        + "tx AS (SELECT CAST(sum(cx * (cx - 1) // 2) AS BIGINT) AS n1 FROM "
        + "(SELECT CAST(sum(c) AS BIGINT) AS cx FROM cells GROUP BY x)), "
        + "ty AS (SELECT CAST(sum(cy * (cy - 1) // 2) AS BIGINT) AS n2 FROM "
        + "(SELECT CAST(sum(c) AS BIGINT) AS cy FROM cells GROUP BY y)) "
        + "SELECT n, nc, nd, n1, n2, "
        + "round((nc - nd) / (sqrt(CAST(n * (n - 1) // 2 - n1 AS DOUBLE)) * "
        + "sqrt(CAST(n * (n - 1) // 2 - n2 AS DOUBLE))), 6) AS tau_b "
        + "FROM pairs, tot, tx, ty"),
    // q387: identical contraction + quantized covariance terms; the
    // oracle's lag window runs over the same ≤#days frame.
    "q387_yule_walker" ->
      ("WITH daily AS (SELECT date_trunc('day', ts) AS day, "
        + "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v FROM events "
        + "WHERE value IS NOT NULL GROUP BY 1), "
        + "m AS (SELECT CAST(count(*) AS BIGINT) AS n_days, "
        + "CAST(sum(CAST(v AS DECIMAL(28,2))) AS DOUBLE) / count(*) AS mu FROM daily), "
        + "lagged AS (SELECT day, v, lag(v, 1) OVER (ORDER BY day) AS v1, "
        + "lag(v, 2) OVER (ORDER BY day) AS v2 FROM daily), "
        + "acf AS (SELECT sum(CAST((v - mu) * (v - mu) AS DECIMAL(38,6))) AS c0, "
        + "sum(CAST((v - mu) * (v1 - mu) AS DECIMAL(38,6))) AS c1, "
        + "sum(CAST((v - mu) * (v2 - mu) AS DECIMAL(38,6))) AS c2 FROM lagged CROSS JOIN m), "
        + "tail2 AS (SELECT v AS vT, v1 AS vT1 FROM lagged ORDER BY day DESC LIMIT 1), "
        + "r AS (SELECT CAST(c1 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r1, "
        + "CAST(c2 AS DOUBLE) / CAST(c0 AS DOUBLE) AS r2 FROM acf), "
        + "p AS (SELECT r1, r2, r1 * (1.0 - r2) / (1.0 - r1 * r1) AS phi1, "
        + "(r2 - r1 * r1) / (1.0 - r1 * r1) AS phi2 FROM r) "
        + "SELECT n_days, round(mu, 4) AS mean_v, round(r1, 6) AS r1, round(r2, 6) AS r2, "
        + "round(phi1, 6) AS phi1, round(phi2, 6) AS phi2, "
        + "round(mu + phi1 * (vT - mu) + phi2 * (vT1 - mu), 4) AS forecast "
        + "FROM p CROSS JOIN m CROSS JOIN tail2"),
    "q332_adf_test" ->
      ("WITH daily AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1), "
        + "lagged AS (SELECT y, lag(y) OVER (ORDER BY day) AS y1 FROM daily), "
        + "f AS (SELECT y1, y - y1 AS dy FROM lagged WHERE y1 IS NOT NULL), "
        + "sums AS (SELECT count(*) AS n, CAST(sum(y1) AS BIGINT) AS s1, CAST(sum(y1 * y1) AS BIGINT) AS s11, "
        + "CAST(sum(dy) AS BIGINT) AS sd, CAST(sum(dy * dy) AS BIGINT) AS sdd, CAST(sum(y1 * dy) AS BIGINT) AS s1d FROM f), "
        + "c AS (SELECT n, CAST(s11 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n AS c11, "
        + "CAST(s1d AS DOUBLE) - CAST(s1 AS DOUBLE) * sd / n AS c1d, "
        + "CAST(sdd AS DOUBLE) - CAST(sd AS DOUBLE) * sd / n AS cdd FROM sums), "
        + "b AS (SELECT n, c1d / c11 AS beta, sqrt((cdd - c1d / c11 * c1d) / (n - 2) / c11) AS se FROM c) "
        + "SELECT n, round(beta, 6) AS beta, round(beta / se, 6) AS df_stat, "
        + "beta / se < -2.86 AS reject_unit_root_5pct FROM b"),
    "q327_cronbach_alpha" ->
      ("WITH cells AS (SELECT CAST(ts AS DATE) AS day, event_type, count(*) AS c FROM events GROUP BY 1, 2), "
        + "nd AS (SELECT count(DISTINCT day) AS nd FROM cells), "
        + "items AS (SELECT count(*) AS k, max(nd) AS nd, "
        + "CAST(sum(CAST((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / nd) / (nd - 1) AS DECIMAL(28,12))) AS DOUBLE) AS sv "
        + "FROM (SELECT event_type, CAST(sum(c) AS BIGINT) AS s1, CAST(sum(c * c) AS BIGINT) AS s2 FROM cells GROUP BY event_type) CROSS JOIN nd), "
        + "tt AS (SELECT CAST(sum(t) AS BIGINT) AS s1t, CAST(sum(t * t) AS BIGINT) AS s2t "
        + "FROM (SELECT day, CAST(sum(c) AS BIGINT) AS t FROM cells GROUP BY day)), "
        + "fin AS (SELECT k, nd, sv, (CAST(s2t AS DOUBLE) - CAST(s1t AS DOUBLE) * s1t / nd) / (nd - 1) AS var_t FROM items CROSS JOIN tt) "
        + "SELECT k, nd AS n_days, round(sv, 6) AS sum_item_var, round(var_t, 6) AS total_var, "
        + "round(CAST(k AS DOUBLE) / (k - 1) * (1.0 - sv / var_t), 6) AS alpha FROM fin"),
    "q320_granger" ->
      ("WITH daily AS (SELECT CAST(ts AS DATE) AS day, "
        + "CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS xc, "
        + "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS yc FROM events GROUP BY 1), "
        + "lagged AS (SELECT yc, lag(yc) OVER (ORDER BY day) AS a, lag(xc) OVER (ORDER BY day) AS b FROM daily), "
        + "f AS (SELECT * FROM lagged WHERE a IS NOT NULL AND b IS NOT NULL), "
        + "sums AS (SELECT count(*) AS n, CAST(sum(yc) AS BIGINT) AS sy, CAST(sum(a) AS BIGINT) AS sa, CAST(sum(b) AS BIGINT) AS sb, "
        + "CAST(sum(yc * yc) AS BIGINT) AS syy, CAST(sum(a * a) AS BIGINT) AS saa, CAST(sum(b * b) AS BIGINT) AS sbb, "
        + "CAST(sum(a * yc) AS BIGINT) AS say, CAST(sum(b * yc) AS BIGINT) AS sby, CAST(sum(a * b) AS BIGINT) AS sab FROM f), "
        + "c AS (SELECT n, CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) * sa / n AS caa, "
        + "CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) * sb / n AS cbb, CAST(sab AS DOUBLE) - CAST(sa AS DOUBLE) * sb / n AS cab, "
        + "CAST(say AS DOUBLE) - CAST(sa AS DOUBLE) * sy / n AS cay, CAST(sby AS DOUBLE) - CAST(sb AS DOUBLE) * sy / n AS cby, "
        + "CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n AS cyy FROM sums), "
        + "b2 AS (SELECT n, caa, cay, cyy, (cay * cbb - cby * cab) / (caa * cbb - cab * cab) AS beta_ylag, "
        + "(cby * caa - cay * cab) / (caa * cbb - cab * cab) AS beta_xlag, cby FROM c), "
        + "s2 AS (SELECT n, beta_ylag, beta_xlag, cyy - beta_ylag * cay - beta_xlag * cby AS ssr_ur, "
        + "cyy - cay * cay / caa AS ssr_r FROM b2) "
        + "SELECT n, round(beta_ylag, 6) AS beta_ylag, round(beta_xlag, 6) AS beta_xlag, "
        + "round((ssr_r - ssr_ur) * (n - 3) / ssr_ur, 6) AS f_stat, "
        + "(ssr_r - ssr_ur) * (n - 3) / ssr_ur > 3.841459 AS reject_5pct FROM s2"),
    "q321_chow" ->
      ("WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y FROM events GROUP BY 1), "
        + "d2 AS (SELECT date_diff('day', DATE '2024-01-01', day) AS t, y, "
        + "CASE WHEN day < DATE '2024-01-16' THEN 0 ELSE 1 END AS seg FROM daily), "
        + "cells AS (SELECT seg, count(*) AS n_g, CAST(sum(t) AS BIGINT) AS st, CAST(sum(t * t) AS BIGINT) AS stt, "
        + "CAST(sum(y) AS BIGINT) AS sy, CAST(sum(t * y) AS BIGINT) AS sty, CAST(sum(y * y) AS BIGINT) AS syy FROM d2 GROUP BY seg), "
        + "g AS (SELECT *, CAST((CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy / n_g) - "
        + "(CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy / n_g) * (CAST(sty AS DOUBLE) - CAST(st AS DOUBLE) * sy / n_g) "
        + "/ (CAST(stt AS DOUBLE) - CAST(st AS DOUBLE) * st / n_g) AS DECIMAL(28,12)) AS ssr_g FROM cells), "
        + "p AS (SELECT CAST(sum(n_g) AS BIGINT) AS n, CAST(sum(st) AS BIGINT) AS pst, CAST(sum(stt) AS BIGINT) AS pstt, "
        + "CAST(sum(sy) AS BIGINT) AS psy, CAST(sum(sty) AS BIGINT) AS psty, CAST(sum(syy) AS BIGINT) AS psyy, "
        + "CAST(sum(ssr_g) AS DOUBLE) AS ssr_split FROM g), "
        + "q AS (SELECT n, ssr_split, (CAST(psyy AS DOUBLE) - CAST(psy AS DOUBLE) * psy / n) - "
        + "(CAST(psty AS DOUBLE) - CAST(pst AS DOUBLE) * psy / n) * (CAST(psty AS DOUBLE) - CAST(pst AS DOUBLE) * psy / n) "
        + "/ (CAST(pstt AS DOUBLE) - CAST(pst AS DOUBLE) * pst / n) AS ssr_pooled FROM p) "
        + "SELECT n, round(ssr_pooled, 6) AS ssr_pooled, round(ssr_split, 6) AS ssr_split, "
        + "round(((ssr_pooled - ssr_split) / 2.0) / (ssr_split / (n - 4)), 6) AS chow_f, "
        + "(ssr_pooled - ssr_split) / (ssr_split / (n - 4)) > 5.991465 AS reject_5pct FROM q"),
    "q309_resid_diag" ->
      ("WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y FROM events GROUP BY 1), "
        + "st AS (SELECT count(*) AS n, min(day) AS mind FROM daily), "
        + "d2 AS (SELECT day, y, date_diff('day', mind, day) AS x, n FROM daily CROSS JOIN st), "
        + "sums AS (SELECT max(n) AS n, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx, "
        + "CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy FROM d2), "
        + "fit AS (SELECT n, sx, sy, "
        + "(CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) / (CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) AS slope FROM sums), "
        + "resid AS (SELECT d2.day, d2.x, "
        + "CAST(d2.y AS DOUBLE) - ((CAST(f.sy AS DOUBLE) - f.slope * f.sx) / f.n + f.slope * d2.x) AS e, "
        + "f.n, f.slope FROM d2 CROSS JOIN fit f), "
        + "lagged AS (SELECT n, slope, x, e, lag(e) OVER (ORDER BY day) AS e1 FROM resid), "
        + "agg AS (SELECT max(n) AS n, max(slope) AS slope, "
        + "CAST(sum(CAST(e * e AS DECIMAL(28,12))) AS DOUBLE) AS see, "
        + "CAST(sum(CAST(CASE WHEN e1 IS NULL THEN 0.0 ELSE (e - e1) * (e - e1) END AS DECIMAL(28,12))) AS DOUBLE) AS sd2, "
        + "CAST(sum(CAST(e * e * x AS DECIMAL(28,6))) AS DOUBLE) AS szx, "
        + "CAST(sum(CAST(e * e * e * e AS DECIMAL(38,6))) AS DOUBLE) AS szz, "
        + "CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx FROM lagged), "
        + "fin AS (SELECT n, slope, sd2 / see AS dw, "
        + "(CAST(n AS DOUBLE) * szx - CAST(sx AS DOUBLE) * see) / "
        + "(sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) * sqrt(CAST(n AS DOUBLE) * szz - see * see)) AS r_aux FROM agg) "
        + "SELECT CAST(n AS BIGINT) AS n, round(slope, 6) AS slope, round(dw, 6) AS dw_stat, "
        + "round(n * r_aux * r_aux, 6) AS bp_lm, n * r_aux * r_aux > 3.841459 AS bp_reject_5pct FROM fin"),
    "q304_inequality" ->
      ("WITH x AS (SELECT CAST(o_totalprice AS DECIMAL(18,2)) AS x FROM orders WHERE CAST(o_totalprice AS DECIMAL(18,2)) > 0), "
        + "st AS (SELECT count(*) AS n, sum(x) AS sx, "
        + "sum(CAST(sqrt(CAST(x AS DOUBLE)) AS DECIMAL(28,12))) AS ssq FROM x), "
        + "t AS (SELECT CAST(max(n) AS BIGINT) AS n, max(CAST(sx AS DOUBLE) / n) AS mu, max(CAST(ssq AS DOUBLE)) AS ssqd, "
        + "CAST(sum(CAST((CAST(x AS DOUBLE) / (CAST(sx AS DOUBLE) / n)) * ln(CAST(x AS DOUBLE) / (CAST(sx AS DOUBLE) / n)) AS DECIMAL(28,12))) AS DOUBLE) AS tq, "
        + "CAST(sum(CAST(abs(CAST(x AS DOUBLE) - CAST(sx AS DOUBLE) / n) AS DECIMAL(28,12))) AS DOUBLE) AS hq "
        + "FROM x CROSS JOIN st) "
        + "SELECT n, round(mu, 6) AS mean, round(tq / n, 6) AS theil_t, "
        + "round(1.0 - (ssqd / n) * (ssqd / n) / mu, 6) AS atkinson_05, "
        + "round(hq / (2.0 * n * mu), 6) AS hoover FROM t"),
    "q301_icc" ->
      ("WITH g AS (SELECT o_orderpriority AS pr, count(*) AS n_g, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s_g, "
        + "sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS q_g FROM orders GROUP BY pr), "
        + "m AS (SELECT count(*) AS k, CAST(sum(n_g) AS BIGINT) AS n, sum(s_g) AS s, sum(q_g) AS q, "
        + "sum(CAST(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / n_g AS DECIMAL(38,10))) AS t, "
        + "CAST(sum(n_g * n_g) AS BIGINT) AS sn2 FROM g), "
        + "d AS (SELECT k, n, CAST(t AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n AS ssb, "
        + "CAST(q AS DOUBLE) - CAST(t AS DOUBLE) AS ssw, "
        + "CAST(k AS DOUBLE) AS kd, CAST(n AS DOUBLE) AS nd, CAST(sn2 AS DOUBLE) AS sn2d FROM m), "
        + "e AS (SELECT k, n, ssb / (kd - 1) AS msb, ssw / (nd - kd) AS msw, "
        + "(nd - sn2d / nd) / (kd - 1) AS k0 FROM d) "
        + "SELECT k, n, round(msb, 4) AS msb, round(msw, 4) AS msw, round(k0, 6) AS k0, "
        + "round((msb - msw) / (msb + (k0 - 1) * msw), 6) AS icc1 FROM e"),
    "q273_weighted_quantile" ->
      ("WITH g AS (SELECT l_extendedprice AS v, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS c FROM lineitem GROUP BY 1), "
        + "cum AS (SELECT v, CAST(sum(c) OVER w AS BIGINT) AS cum1, CAST(sum(c) OVER w AS BIGINT) - c AS below FROM g "
        + "WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), "
        + "nn AS (SELECT CAST(sum(c) AS BIGINT) AS n1 FROM g), "
        // q forced to DOUBLE so the q*W bracket boundary uses the same
        // float as Spark's double literal (a DECIMAL q could land on the
        // other side of an integer cum when q*W is exactly integral)
        + "probes AS (SELECT i, CAST(q AS DOUBLE) AS q FROM (VALUES (0, 0.25), (1, 0.5), (2, 0.75), (3, 0.9)) AS t(i, q)), "
        + "uw AS (SELECT list_transform(quantile_cont(l_extendedprice, [0.25, 0.5, 0.75, 0.9]), b -> round(b, 6)) AS uq FROM lineitem) "
        + "SELECT q, n1 AS total_weight, round(v, 6) AS weighted_q, uq[i + 1] AS unweighted_q, "
        + "round(v - uq[i + 1], 6) AS shift "
        + "FROM cum CROSS JOIN nn CROSS JOIN probes CROSS JOIN uw "
        + "WHERE below < q * n1 AND cum1 >= q * n1 ORDER BY q"),
    "q274_ljung_box" -> {
      val lags = (1 to 7).map(k => s"lag(CAST(xd AS DOUBLE) - mu, $k) OVER (ORDER BY day) AS x$k").mkString(", ")
      val nus = (1 to 7).map(k => s"sum(CAST(x * x$k AS DECIMAL(28,12))) AS nu$k").mkString(", ")
      val rs = (1 to 7).map(k => s"CAST(nu$k AS DOUBLE) / CAST(d0 AS DOUBLE) AS r$k").mkString(", ")
      val rounds = (1 to 7).map(k => s"round(r$k, 6) AS r$k").mkString(", ")
      val lb = (1 to 7).map(k => s"r$k * r$k / (n - $k)").mkString(" + ")
      ("WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS xd FROM orders GROUP BY 1), "
        + "m AS (SELECT CAST(sum(xd) AS DOUBLE) / count(*) AS mu, CAST(count(*) AS BIGINT) AS n FROM daily), "
        + s"lagged AS (SELECT n, CAST(xd AS DOUBLE) - mu AS x, $lags FROM daily CROSS JOIN m), "
        + s"sums AS (SELECT any_value(n) AS n, sum(CAST(x * x AS DECIMAL(28,12))) AS d0, $nus FROM lagged), "
        + s"rr AS (SELECT n, $rs FROM sums) "
        + s"SELECT n, $rounds, round(n * (n + 2.0) * ($lb), 6) AS lb_stat, "
        + s"n * (n + 2.0) * ($lb) > 14.067140 AS reject_white_5pct FROM rr")
    },
    // q63: the raw GK estimates can't cross-engine-match, but the
    // rank-bound booleans can — the oracle pins them TRUE; the hash
    // matches iff Spark's sketch actually met its guarantee.
    "q63_approx_quantile" ->
      ("SELECT l_returnflag, count(*) AS n, TRUE AS p25_ok, TRUE AS p50_ok, "
        + "TRUE AS p75_ok, TRUE AS p90_ok FROM lineitem GROUP BY l_returnflag "
        + "ORDER BY l_returnflag"),
    "q143_distance_corr" ->
      ("WITH daily AS (SELECT CAST(ts AS DATE) AS day, "
        + "CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x, "
        + "CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS y "
        + "FROM events GROUP BY 1), "
        + "n AS (SELECT count(*) AS nd FROM daily), "
        + "p AS (SELECT a.day AS di, b.day AS dj, abs(a.x - b.x) AS ax, abs(a.y - b.y) AS ay "
        + "FROM daily a CROSS JOIN daily b), "
        + "rm AS (SELECT di, CAST(sum(ax) AS DOUBLE) / (SELECT nd FROM n) AS ami, "
        + "CAST(sum(ay) AS DOUBLE) / (SELECT nd FROM n) AS bmi FROM p GROUP BY di), "
        + "gm AS (SELECT CAST(sum(ax) AS DOUBLE) / ((SELECT nd FROM n) * (SELECT nd FROM n)) AS agm, "
        + "CAST(sum(ay) AS DOUBLE) / ((SELECT nd FROM n) * (SELECT nd FROM n)) AS bgm FROM p), "
        + "c AS (SELECT (ax - r1.ami - r2.ami + gm.agm) AS aa, (ay - r1.bmi - r2.bmi + gm.bgm) AS bb "
        + "FROM p JOIN rm r1 ON p.di = r1.di JOIN rm r2 ON p.dj = r2.di CROSS JOIN gm), "
        + "s AS (SELECT sum(CAST(aa * bb AS DECIMAL(28,12))) AS sab, "
        + "sum(CAST(aa * aa AS DECIMAL(28,12))) AS saa, sum(CAST(bb * bb AS DECIMAL(28,12))) AS sbb FROM c) "
        + "SELECT (SELECT nd FROM n) AS n_days, "
        + "round(CAST(sab AS DOUBLE) / ((SELECT nd FROM n) * (SELECT nd FROM n)), 6) AS dcov2, "
        + "round(sqrt((CAST(sab AS DOUBLE) / ((SELECT nd FROM n) * (SELECT nd FROM n))) / "
        + "sqrt((CAST(saa AS DOUBLE) / ((SELECT nd FROM n) * (SELECT nd FROM n))) * "
        + "(CAST(sbb AS DOUBLE) / ((SELECT nd FROM n) * (SELECT nd FROM n))))), 6) AS dcor FROM s"),
    "q135_gini" ->
      ("WITH r AS (SELECT o_totalprice AS v, row_number() OVER (ORDER BY o_totalprice) AS i FROM orders), "
        + "a AS (SELECT count(*) AS n, sum(CAST(v AS DECIMAL(18,2))) AS t, "
        + "sum(CAST(v AS DECIMAL(18,2)) * 2 * i) AS s2 FROM r) "
        + "SELECT n, round(CAST(t AS DOUBLE), 2) AS total, "
        + "round(CAST(s2 AS DOUBLE) / (n * CAST(t AS DOUBLE)) - (n + 1.0) / n, 6) AS gini FROM a"),
    "q136_kendall_tau" ->
      ("WITH daily AS (SELECT CAST(ts AS DATE) AS day, "
        + "CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS x, "
        + "CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS y "
        + "FROM events GROUP BY 1), "
        + "p AS (SELECT (b.x - a.x) * (b.y - a.y) AS prod, "
        + "CASE WHEN a.x = b.x THEN 1 ELSE 0 END AS tx, CASE WHEN a.y = b.y THEN 1 ELSE 0 END AS ty "
        + "FROM daily a JOIN daily b ON a.day < b.day) "
        + "SELECT count(*) AS n0, CAST(sum(CASE WHEN prod > 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc, "
        + "CAST(sum(CASE WHEN prod < 0 THEN 1 ELSE 0 END) AS BIGINT) AS nd, "
        + "round((sum(CASE WHEN prod > 0 THEN 1 ELSE 0 END) - sum(CASE WHEN prod < 0 THEN 1 ELSE 0 END)) "
        + "/ sqrt((count(*) - CAST(sum(tx) AS DOUBLE)) * (count(*) - CAST(sum(ty) AS DOUBLE))), 6) AS tau_b "
        + "FROM p"),
    "q117_mutual_info" ->
      ("WITH ct AS (SELECT o_orderstatus AS x, o_orderpriority AS y, count(*) AS nxy FROM orders GROUP BY 1, 2), "
        + "m AS (SELECT nxy, CAST(sum(nxy) OVER (PARTITION BY x) AS BIGINT) AS nx, "
        + "CAST(sum(nxy) OVER (PARTITION BY y) AS BIGINT) AS ny, CAST(sum(nxy) OVER () AS BIGINT) AS n FROM ct), "
        + "t AS (SELECT CAST((CAST(nxy AS DOUBLE) / n) * ln(CAST(n AS DOUBLE) * nxy / (CAST(nx AS DOUBLE) * ny)) AS DECIMAL(28,12)) AS mi_t, "
        + "CAST((CAST(nxy AS DOUBLE) / n) * ln(CAST(n AS DOUBLE) / nx) AS DECIMAL(28,12)) AS hx_t, "
        + "CAST((CAST(nxy AS DOUBLE) / n) * ln(CAST(n AS DOUBLE) / ny) AS DECIMAL(28,12)) AS hy_t FROM m) "
        + "SELECT count(*) AS n_cells, round(CAST(sum(mi_t) AS DOUBLE), 6) AS mi, "
        + "round(CAST(sum(hx_t) AS DOUBLE), 6) AS h_x, round(CAST(sum(hy_t) AS DOUBLE), 6) AS h_y, "
        + "round(CAST(sum(mi_t) AS DOUBLE) / sqrt(CAST(sum(hx_t) AS DOUBLE) * CAST(sum(hy_t) AS DOUBLE)), 6) AS nmi "
        + "FROM t"),
    "q115_eqfreq_bins" ->
      ("WITH bs AS (SELECT quantile_cont(o_totalprice, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs FROM orders), "
        + "b AS (SELECT len(list_filter(bs, b -> o_totalprice > b)) + 1 AS bin, o_totalprice FROM orders CROSS JOIN bs) "
        + "SELECT CAST(bin AS INT) AS bin, count(*) AS n, round(min(o_totalprice), 2) AS lo, round(max(o_totalprice), 2) AS hi, "
        + "round(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_tp "
        + "FROM b GROUP BY bin ORDER BY bin"),
    "q116_anova" ->
      ("WITH g AS (SELECT o_orderpriority AS pr, count(*) AS n_g, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS s_g, "
        + "sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * CAST(o_totalprice AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS q_g FROM orders GROUP BY pr), "
        + "m AS (SELECT count(*) AS k, CAST(sum(n_g) AS BIGINT) AS n, sum(s_g) AS s, sum(q_g) AS q, "
        + "sum(CAST(CAST(s_g AS DOUBLE) * CAST(s_g AS DOUBLE) / n_g AS DECIMAL(38,10))) AS t FROM g), "
        + "d AS (SELECT k, n, CAST(t AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n AS ssb, "
        + "CAST(q AS DOUBLE) - CAST(t AS DOUBLE) AS ssw, "
        + "CAST(q AS DOUBLE) - CAST(s AS DOUBLE) * CAST(s AS DOUBLE) / n AS sst, "
        + "CAST(k AS DOUBLE) AS kd, CAST(n AS DOUBLE) AS nd FROM m) "
        + "SELECT k, n, round(ssb, 2) AS ssb, round(ssw, 2) AS ssw, "
        + "round((ssb / (kd - 1)) / (ssw / (nd - kd)), 6) AS f_stat, round(ssb / sst, 6) AS eta_sq FROM d"),
    "q111_seasonality" ->
      ("WITH daily AS (SELECT CAST(o_orderdate AS DATE) AS day, "
        + "sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev FROM orders GROUP BY 1), "
        + "dw AS (SELECT isodow(day) AS dow, count(*) AS n_days, sum(rev) AS dow_rev FROM daily GROUP BY 1), "
        + "t AS (SELECT dow, n_days, dow_rev, sum(dow_rev) OVER () AS tot_rev, "
        + "CAST(sum(n_days) OVER () AS BIGINT) AS tot_days FROM dw) "
        + "SELECT CAST(dow AS INT) AS dow, n_days, round(CAST(dow_rev AS DOUBLE) / n_days, 6) AS avg_rev, "
        + "round((CAST(dow_rev AS DOUBLE) / n_days) / (CAST(tot_rev AS DOUBLE) / tot_days), 6) AS ratio "
        + "FROM t ORDER BY dow"),
    "q99_bootstrap_ci" ->
      ("WITH daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, sum(CAST(value AS DECIMAL(18,2))) AS vd FROM events GROUP BY 1, 2), "
        + "ranked AS (SELECT event_type, vd, row_number() OVER (PARTITION BY event_type ORDER BY day) AS idx, count(*) OVER (PARTITION BY event_type) AS n FROM daily), "
        + "tn AS (SELECT DISTINCT event_type, n FROM ranked), "
        + "grid AS (SELECT event_type, n, b, i, CAST('0x' || substr(md5('bs|' || event_type || '|' || CAST(b AS VARCHAR) || '|' || CAST(i AS VARCHAR)), 1, 15) AS BIGINT) % n + 1 AS idx "
        + "FROM tn, LATERAL (SELECT unnest(range(1, 201)) AS b), LATERAL (SELECT unnest(range(1, CAST(n AS INT) + 1)) AS i)), "
        + "means AS (SELECT g.event_type, g.b, g.n, CAST(sum(r.vd) AS DOUBLE) / g.n AS mean_b FROM grid g JOIN ranked r ON r.event_type = g.event_type AND r.idx = g.idx GROUP BY 1, 2, 3), "
        + "orig AS (SELECT event_type, round(CAST(sum(vd) AS DOUBLE) / count(*), 6) AS mean_v FROM daily GROUP BY 1) "
        + "SELECT m.event_type, CAST(m.n AS BIGINT) AS n, o.mean_v, round(quantile_cont(mean_b, 0.025), 6) AS ci_lo, round(quantile_cont(mean_b, 0.975), 6) AS ci_hi "
        + "FROM means m JOIN orig o USING (event_type) GROUP BY 1, 2, 3 ORDER BY 1"),
    "q97_regression" ->
      ("WITH daily AS (SELECT event_type, date_diff('day', DATE '2024-01-01', CAST(date_trunc('day', ts) AS DATE)) AS x, "
        + "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS y FROM events GROUP BY 1, 2) "
        + "SELECT event_type, CAST(regr_count(y, x) AS BIGINT) AS n, round(regr_slope(y, x), 6) AS slope, "
        + "round(regr_intercept(y, x), 6) AS icept, round(regr_r2(y, x), 6) AS r2, "
        + "round(regr_avgx(y, x), 6) AS avg_x, round(regr_avgy(y, x), 6) AS avg_y "
        + "FROM daily GROUP BY 1 ORDER BY 1"),
    "q93_anomaly_mad" ->
      ("WITH daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, "
        + "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v FROM events GROUP BY 1, 2), "
        + "med AS (SELECT event_type, round(median(v), 6) AS med FROM daily GROUP BY 1), "
        + "mad AS (SELECT d.event_type, round(median(abs(v - med)), 6) AS mad FROM daily d JOIN med USING (event_type) GROUP BY 1) "
        + "SELECT d.event_type, day, v, med, mad, round(abs(v - med) / (1.4826 * mad), 6) AS rz "
        + "FROM daily d JOIN med USING (event_type) JOIN mad USING (event_type) "
        + "WHERE abs(v - med) / (1.4826 * mad) > 2.5 ORDER BY event_type, day"),
    "q86_winsorize" ->
      ("WITH b AS (SELECT l_returnflag, round(quantile_cont(l_extendedprice, 0.05), 6) AS lo, "
        + "round(quantile_cont(l_extendedprice, 0.95), 6) AS hi FROM lineitem GROUP BY 1) "
        + "SELECT l.l_returnflag, count(*) AS n, "
        + "CAST(sum(CASE WHEN l_extendedprice < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo, "
        + "CAST(sum(CASE WHEN l_extendedprice > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi, "
        + "round(CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) / count(*), 6) AS avg_raw, "
        + "round(CAST(sum(CAST(least(greatest(l_extendedprice, lo), hi) AS DECIMAL(18,6))) AS DOUBLE) / count(*), 6) AS avg_wins "
        + "FROM lineitem l JOIN b USING (l_returnflag) GROUP BY 1 ORDER BY 1"),
    "q16_corr_pair" ->
      "SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price FROM lineitem",
    "q17_corr_matrix" ->
      ("SELECT round(corr(l_quantity, l_extendedprice), 6) AS corr_q_e, round(corr(l_quantity, l_discount), 6) AS corr_q_d, "
        + "round(corr(l_quantity, l_tax), 6) AS corr_q_t, round(corr(l_extendedprice, l_discount), 6) AS corr_e_d, "
        + "round(corr(l_extendedprice, l_tax), 6) AS corr_e_t, round(corr(l_discount, l_tax), 6) AS corr_d_t FROM lineitem"),
    "q18_corr_grouped" ->
      "SELECT l_returnflag, l_linestatus, round(covar_samp(l_quantity, l_extendedprice) / nullif(stddev_samp(l_quantity) * stddev_samp(l_extendedprice), 0), 6) AS corr_qp, count(*) AS n FROM lineitem GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
    "q19_covar_stddev" ->
      ("SELECT round(covar_samp(l_quantity, l_discount), 6) AS covar_s_qd, round(covar_pop(l_quantity, l_discount), 6) AS covar_p_qd, "
        + "round(stddev_samp(l_quantity), 6) AS stddev_s_q, round(stddev_pop(l_quantity), 6) AS stddev_p_q, "
        + "round(var_samp(l_quantity), 6) AS var_s_q, round(var_pop(l_quantity), 6) AS var_p_q, "
        + "round(stddev_samp(l_discount), 6) AS stddev_s_d, round(var_samp(l_discount), 6) AS var_s_d FROM lineitem"),
    "q20_skew_kurt" ->
      ("SELECT round((e3 - 3*mu*e2 + 2*mu*mu*mu) / ((e2 - mu*mu) * sqrt(e2 - mu*mu)), 6) AS skew_qty, "
        + "round((e4 - 4*mu*e3 + 6*mu*mu*e2 - 3*mu*mu*mu*mu) / ((e2 - mu*mu) * (e2 - mu*mu)) - 3, 6) AS kurt_qty "
        + "FROM (SELECT CAST(s1 AS DOUBLE)/n AS mu, CAST(s2 AS DOUBLE)/n AS e2, CAST(s3 AS DOUBLE)/n AS e3, CAST(s4 AS DOUBLE)/n AS e4 "
        + "FROM (SELECT count(*) AS n, sum(CAST(l_quantity AS DECIMAL(38,0))) AS s1, sum(CAST(l_quantity*l_quantity AS DECIMAL(38,0))) AS s2, "
        + "sum(CAST(l_quantity*l_quantity*l_quantity AS DECIMAL(38,0))) AS s3, sum(CAST(l_quantity*l_quantity*l_quantity*l_quantity AS DECIMAL(38,0))) AS s4 FROM lineitem))"),
    "q21_percentiles" ->
      ("SELECT l_returnflag, round(quantile_cont(l_quantity, 0.25), 6) AS p25_qty, round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty, "
        + "round(quantile_cont(l_quantity, 0.75), 6) AS p75_qty, round(median(l_quantity), 6) AS med_qty, "
        + "round(quantile_cont(l_extendedprice, 0.5), 6) AS med_price FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"),
    "q22_spearman" ->
      ("SELECT round(corr(rq, rp), 6) AS spearman_qty_price FROM (SELECT "
        + "rank() OVER (ORDER BY l_quantity) + (count(*) OVER (PARTITION BY l_quantity) - 1) / 2.0 AS rq, "
        + "rank() OVER (ORDER BY l_extendedprice) + (count(*) OVER (PARTITION BY l_extendedprice) - 1) / 2.0 AS rp FROM lineitem)"),
    "q23_autocorr" ->
      ("SELECT round(corr(v, v1), 6) AS ac_lag1, round(corr(v, v7), 6) AS ac_lag7 FROM ("
        + "SELECT v, lag(v, 1) OVER (ORDER BY day) AS v1, lag(v, 7) OVER (ORDER BY day) AS v7 FROM ("
        + "SELECT date_trunc('day', ts) AS day, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v FROM events GROUP BY 1))"),
    "q24_histogram" ->
      "SELECT CAST(floor(o_totalprice / 50000) AS BIGINT) AS bucket, count(*) AS cnt, min(o_totalprice) AS lo, max(o_totalprice) AS hi FROM orders GROUP BY 1 ORDER BY bucket",
    "q69_partial_corr" ->
      ("SELECT round(rxy, 6) AS corr_xy, round((rxy - rxz * ryz) / sqrt((1 - rxz * rxz) * (1 - ryz * ryz)), 6) AS pcorr_xy_given_z FROM ("
        + "SELECT corr(l_quantity, l_extendedprice) AS rxy, corr(l_quantity, l_discount) AS rxz, corr(l_extendedprice, l_discount) AS ryz FROM lineitem)"),
    "q70_crosscorr" ->
      ("WITH byday AS (SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v "
        + "FROM events WHERE event_type IN ('purchase', 'click') GROUP BY 1, 2), "
        + "daily AS (SELECT day, sum(CASE WHEN event_type = 'purchase' THEN v END) AS p, sum(CASE WHEN event_type = 'click' THEN v END) AS c FROM byday GROUP BY day), "
        + "lagged AS (SELECT p, lead(c, 2) OVER (ORDER BY day) AS c_m2, lead(c, 1) OVER (ORDER BY day) AS c_m1, c AS c_p0, "
        + "lag(c, 1) OVER (ORDER BY day) AS c_p1, lag(c, 2) OVER (ORDER BY day) AS c_p2 FROM daily) "
        + "SELECT round(corr(p, c_m2), 6) AS xcorr_lag_m2, round(corr(p, c_m1), 6) AS xcorr_lag_m1, round(corr(p, c_p0), 6) AS xcorr_lag_p0, "
        + "round(corr(p, c_p1), 6) AS xcorr_lag_p1, round(corr(p, c_p2), 6) AS xcorr_lag_p2 FROM lagged"),
    "q71_rolling_corr" ->
      ("SELECT day, round(v, 6) AS day_v, n, round(covar_samp(v, n) OVER w / nullif(stddev_samp(v) OVER w * stddev_samp(n) OVER w, 0), 6) AS roll_corr FROM ("
        + "SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v, CAST(count(*) AS DOUBLE) AS n "
        + "FROM events GROUP BY 1) WINDOW w AS (ORDER BY day ROWS BETWEEN 13 PRECEDING AND CURRENT ROW) ORDER BY day"),
    "q72_corr_significance" ->
      ("SELECT round(r, 6) AS r, CAST(n AS BIGINT) AS n, round(r * sqrt((n - 2) / (1 - r * r)), 6) AS t_stat, round(z, 6) AS fisher_z, "
        + "round((exp(2 * (z - halfw)) - 1) / (exp(2 * (z - halfw)) + 1), 6) AS ci_lo, "
        + "round((exp(2 * (z + halfw)) - 1) / (exp(2 * (z + halfw)) + 1), 6) AS ci_hi FROM ("
        + "SELECT r, n, 0.5 * ln((1 + r) / (1 - r)) AS z, 1.959963985 / sqrt(n - 3) AS halfw FROM ("
        + "SELECT corr(l_quantity, l_extendedprice) AS r, CAST(count(*) AS DOUBLE) AS n FROM lineitem))"),
    "q167_sax" ->
      ("WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1), "
        + "st AS (SELECT count(*) AS nd, CAST(sum(n) AS BIGINT) AS s1, CAST(sum(n * n) AS BIGINT) AS s2, "
        + "min(day) AS mind, max(day) AS maxd FROM daily), "
        + "seg AS (SELECT CAST(floor(date_diff('day', mind, day) * 6 / (date_diff('day', mind, maxd) + 1)) AS INT) AS seg, "
        + "n, nd, s1, s2 FROM daily CROSS JOIN st), "
        + "g AS (SELECT seg, count(*) AS n_days, CAST(sum(n) AS BIGINT) AS seg_n, "
        + "max(nd) AS nd, max(s1) AS s1, max(s2) AS s2 FROM seg GROUP BY seg), "
        + "z AS (SELECT seg, n_days, (CAST(seg_n AS DOUBLE) / n_days - CAST(s1 AS DOUBLE) / nd) / "
        + "sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / nd) / (nd - 1)) AS paa FROM g) "
        + "SELECT seg, n_days, round(paa, 6) AS paa_z, "
        + "CASE WHEN paa < -0.6745 THEN 'a' WHEN paa < 0 THEN 'b' WHEN paa < 0.6745 THEN 'c' ELSE 'd' END AS symbol "
        + "FROM z ORDER BY seg"),
    "q168_rfm" ->
      ("WITH cust AS (SELECT o_custkey, max(o_orderdate) AS lastd, count(*) AS f, "
        + "sum(CAST(o_totalprice AS DECIMAL(18,2))) AS m FROM orders GROUP BY 1), "
        + "maxd AS (SELECT max(lastd) AS maxd FROM cust), "
        + "wr AS (SELECT o_custkey, date_diff('day', lastd, maxd) AS r, f, m FROM cust CROSS JOIN maxd), "
        + "qs AS (SELECT round(quantile_cont(r, 0.25), 6) AS rq1, round(quantile_cont(r, 0.5), 6) AS rq2, round(quantile_cont(r, 0.75), 6) AS rq3, "
        + "round(quantile_cont(f, 0.25), 6) AS fq1, round(quantile_cont(f, 0.5), 6) AS fq2, round(quantile_cont(f, 0.75), 6) AS fq3, "
        + "round(quantile_cont(CAST(m AS DOUBLE), 0.25), 6) AS mq1, round(quantile_cont(CAST(m AS DOUBLE), 0.5), 6) AS mq2, "
        + "round(quantile_cont(CAST(m AS DOUBLE), 0.75), 6) AS mq3 FROM wr), "
        + "scored AS (SELECT CASE WHEN r <= rq1 THEN 4 WHEN r <= rq2 THEN 3 WHEN r <= rq3 THEN 2 ELSE 1 END AS r_score, "
        + "CASE WHEN f <= fq1 THEN 1 WHEN f <= fq2 THEN 2 WHEN f <= fq3 THEN 3 ELSE 4 END AS f_score, "
        + "CASE WHEN CAST(m AS DOUBLE) <= mq1 THEN 1 WHEN CAST(m AS DOUBLE) <= mq2 THEN 2 WHEN CAST(m AS DOUBLE) <= mq3 THEN 3 ELSE 4 END AS m_score, "
        + "m FROM wr CROSS JOIN qs) "
        + "SELECT r_score, f_score, m_score, count(*) AS n_cust, "
        + "round(CAST(sum(m) AS DOUBLE) / count(*), 4) AS avg_monetary "
        + "FROM scored GROUP BY 1, 2, 3 ORDER BY 1, 2, 3"),
    "q180_grubbs" ->
      ("WITH p AS (SELECT o_orderkey, CAST(o_totalprice AS DECIMAL(18,2)) AS p FROM orders), "
        + "st AS (SELECT count(*) AS n, sum(p) AS s1, sum(p * p) AS s2 FROM p), "
        + "d AS (SELECT o_orderkey, p, n, CAST(s1 AS DOUBLE) / n AS mean, "
        + "sqrt((CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n) / (n - 1)) AS sd "
        + "FROM p CROSS JOIN st), "
        + "d2 AS (SELECT o_orderkey, p, n, mean, sd, abs(CAST(p AS DOUBLE) - mean) AS dev FROM d) "
        + "SELECT n, round(mean, 6) AS mean, round(sd, 6) AS sd, round(dev / sd, 6) AS g_stat, "
        + "o_orderkey AS outlier_key, CAST(p AS DOUBLE) AS outlier_value "
        + "FROM d2 ORDER BY dev DESC, o_orderkey LIMIT 1"),
    "q182_regression_diag" ->
      ("WITH daily AS (SELECT CAST(ts AS DATE) AS day, count(*) AS y FROM events GROUP BY 1), "
        + "st AS (SELECT count(*) AS n2, min(day) AS mind FROM daily), "
        + "d2 AS (SELECT day, y, n2, date_diff('day', mind, day) AS x FROM daily CROSS JOIN st), "
        + "st2 AS (SELECT max(n2) AS n2, CAST(sum(x) AS BIGINT) AS sx, CAST(sum(x * x) AS BIGINT) AS sxx, "
        + "CAST(sum(y) AS BIGINT) AS sy, CAST(sum(x * y) AS BIGINT) AS sxy, "
        + "sum(CAST(y AS DECIMAL(38,0)) * y) AS syy FROM d2), "
        + "f AS (SELECT day, y, x, st2.n2, CAST(sx AS DOUBLE) / st2.n2 AS xbar, "
        + "(st2.n2 * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy) / (st2.n2 * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx) AS slope, "
        + "sx, sxx, sy, sxy, syy FROM d2 CROSS JOIN st2), "
        + "g AS (SELECT day, y, x, n2, xbar, slope, (CAST(sy AS DOUBLE) - slope * sx) / n2 AS icept, "
        + "CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx / n2 AS sxxc, sy, sxy, syy FROM f), "
        + "h AS (SELECT day, y, y - (icept + slope * x) AS e, "
        + "1.0 / n2 + (x - xbar) * (x - xbar) / sxxc AS h, "
        + "(CAST(syy AS DOUBLE) - icept * sy - slope * CAST(sxy AS DOUBLE)) / (n2 - 2) AS s2e FROM g) "
        + "SELECT day, y, round(e, 6) AS residual, round(h, 6) AS leverage, "
        + "round(e * e * h / (2.0 * s2e * (1.0 - h) * (1.0 - h)), 6) AS cooks_d "
        + "FROM h ORDER BY e * e * h / (2.0 * s2e * (1.0 - h) * (1.0 - h)) DESC, day LIMIT 5"),
    "q242_jarque_bera" ->
      ("WITH m AS (SELECT l_returnflag, count(*) AS n, sum(CAST(l_quantity AS DECIMAL(38,0))) AS s1, "
        + "sum(CAST(l_quantity*l_quantity AS DECIMAL(38,0))) AS s2, "
        + "sum(CAST(l_quantity*l_quantity*l_quantity AS DECIMAL(38,0))) AS s3, "
        + "sum(CAST(l_quantity*l_quantity*l_quantity*l_quantity AS DECIMAL(38,0))) AS s4 FROM lineitem GROUP BY l_returnflag), "
        + "e AS (SELECT l_returnflag, n, CAST(s1 AS DOUBLE)/n AS mu, CAST(s2 AS DOUBLE)/n AS e2, "
        + "CAST(s3 AS DOUBLE)/n AS e3, CAST(s4 AS DOUBLE)/n AS e4 FROM m), "
        + "g AS (SELECT l_returnflag, n, "
        + "round((e3 - 3*mu*e2 + 2*mu*mu*mu) / ((e2 - mu*mu) * sqrt(e2 - mu*mu)), 6) AS skew, "
        + "round((e4 - 4*mu*e3 + 6*mu*mu*e2 - 3*mu*mu*mu*mu) / ((e2 - mu*mu) * (e2 - mu*mu)) - 3, 6) AS kurt_excess FROM e) "
        + "SELECT l_returnflag, n, skew, kurt_excess, "
        + "round(n / 6.0 * (skew * skew + kurt_excess * kurt_excess / 4.0), 6) AS jb, "
        + "n / 6.0 * (skew * skew + kurt_excess * kurt_excess / 4.0) > 5.991465 AS reject_normal_5pct "
        + "FROM g ORDER BY l_returnflag"),
  )
}
