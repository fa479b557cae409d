package graft.ops

import graft.{QueryPack, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY.md §2.10: event-time windowing semantics on `events`, batch
  * form (the oracle-able twins of the streaming pipeline in
  * `graft.streaming.StreamDemo` / q47).
  *
  * Scale notes: `window()` / bucket arithmetic is a per-row projection
  * followed by a partial-agg groupBy — one shuffle keyed by (window,
  * type), exactly the aggregation a Structured Streaming job would run
  * incrementally with watermark-bounded state. Sessionization (q46) is
  * the lag→flag→running-sum idiom partitioned by user, so session state
  * never leaves its user partition.
  */
object TimeWin extends QueryPack {

  /** EWMA weights (1-α)^k for α=0.3, k=0..9, as EXACT decimal literal
    * strings: both engines parse the same decimal text to the same
    * nearest double, so the weighted sum is bit-identical (pow() libm
    * implementations are NOT guaranteed to agree across engines). */
  private val ewmaW: Seq[String] = {
    val seven = BigDecimal(7); val ten = BigDecimal(10)
    (0 until 10).map(k => ((seven pow k) / (ten pow k)).bigDecimal.toPlainString)
  }

  def queries: Map[String, Q] = Map(
    // ------------------------------------------------------------------
    // 1-hour tumbling counts/sums per event_type.
    "q44_window_tumble" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("value").cast("decimal(18,2)")).cast("double"), 6).as("sum_v"))
        .select(col("w.start").as("w_start"), col("event_type"), col("cnt"), col("sum_v"))
        .orderBy(col("w_start"), col("event_type"))),

    // ------------------------------------------------------------------
    // 1-hour windows sliding every 15 min: each event lands in 4
    // windows. DuckDB twin generates the same 4 shifted buckets per row.
    "q45_window_slide" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("cnt"),
          round(sum(col("value").cast("decimal(18,2)")).cast("double"), 6).as("sum_v"))
        .select(col("w.start").as("w_start"), col("event_type"), col("cnt"), col("sum_v"))
        .orderBy(col("w_start"), col("event_type"))),

    // ------------------------------------------------------------------
    // Sessionization with a 30-min inactivity gap: lag → new-session
    // flag → running sum = session id → per-session count + duration.
    "q46_sessionize" -> ((s, dir) =>
      Tables.events(s, dir)
        .selectExpr("user_id", "ts", "event_id")
        .selectExpr("user_id", "ts", "event_id",
          "CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTES THEN 1 ELSE 0 END AS new_sess")
        .selectExpr("user_id", "ts", "event_id",
          "sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id")
        .groupBy(col("user_id"), col("sess_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts")).as("sess_start"),
          (unix_micros(max(col("ts")).cast("timestamp")) - unix_micros(min(col("ts")).cast("timestamp"))).as("dur_us"))
        .orderBy(col("user_id"), col("sess_id"))),

    // ------------------------------------------------------------------
    // Trailing EWMA (α=0.3, 10-term horizon) over exact daily sums per
    // event type — the smoothing pass monitoring/forecasting runs on
    // its series. The weighted sum is an explicit left-to-right fold of
    // 10 lag() terms with literal decimal weights (see [[ewmaW]]), so
    // both engines execute the identical IEEE op sequence; edges
    // renormalize by the weight mass actually present. One partitioned
    // window over post-agg daily rows — bounded per type, never raw data.
    "q87_ewma" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type")).orderBy(col("day"))
      val numer = ewmaW.zipWithIndex.map { case (wk, k) =>
        when(lag(col("v"), k).over(w).isNotNull,
          lit(wk.toDouble) * lag(col("v"), k).over(w)).otherwise(lit(0d))
      }.reduce(_ + _)
      val denom = ewmaW.zipWithIndex.map { case (wk, k) =>
        when(lag(col("v"), k).over(w).isNotNull, lit(wk.toDouble))
          .otherwise(lit(0d))
      }.reduce(_ + _)
      Tables.events(s, dir)
        .groupBy(col("event_type"), date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
        .withColumn("ewma", round(numer / denom, 6))
        .orderBy(col("event_type"), col("day"))
    }),

    // ------------------------------------------------------------------
    // SCD-2 / temporal-table build: each user's event stream becomes
    // versioned validity intervals [valid_from, valid_to) via lead(),
    // with an is_current flag on the open interval — the point-in-time-
    // join layout a feature store materializes. One partitioned window
    // keyed by user; versioning state never leaves its key partition.
    "q91_scd2" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_type"), col("value"), col("event_id"))
        .withColumn("version", row_number().over(w))
        .withColumn("valid_to", lead(col("ts"), 1).over(w))
        .select(col("user_id"), col("version"), col("ts").as("valid_from"),
          col("valid_to"),
          when(col("valid_to").isNull, 1).otherwise(0).as("is_current"),
          col("event_type"), col("value"),
          round(when(col("valid_to").isNull, lit(0d))
            .otherwise((unix_micros(col("valid_to").cast("timestamp"))
              - unix_micros(col("ts").cast("timestamp"))) / lit(1000000.0)), 6).as("dur_sec"))
        .orderBy(col("user_id"), col("version"))
    }),

    // ------------------------------------------------------------------
    // Ordered-event funnel with a 24 h conversion window per step: first
    // view → first click within 24 h of it → first purchase within 24 h
    // of THAT. Three per-user partial-agg mins chained by user-keyed
    // joins — no window over raw events, no per-user state beyond one
    // timestamp per step, so the funnel scales with user count.
    "q78_funnel" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val s1 = e.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("ts")).as("t1"))
      val s2 = e.filter(col("event_type") === "click").join(s1, "user_id")
        .filter(col("ts") > col("t1") && col("ts") <= col("t1") + expr("INTERVAL 24 HOURS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t2"))
      val s3 = e.filter(col("event_type") === "purchase").join(s2, "user_id")
        .filter(col("ts") > col("t2") && col("ts") <= col("t2") + expr("INTERVAL 24 HOURS"))
        .groupBy(col("user_id")).agg(min(col("ts")).as("t3"))
      s1.join(s2, Seq("user_id"), "left").join(s3, Seq("user_id"), "left")
        .select(col("user_id"), col("t1"), col("t2"), col("t3"))
        .orderBy(col("user_id"))
    }),

    // ------------------------------------------------------------------
    // Daily cohort retention: users grouped by first-active day, then
    // per (cohort, day-offset) the distinct active users and the
    // retention rate vs cohort size. Classic engagement matrix — one
    // user-keyed agg, one join back, one distinct, one final agg.
    "q79_retention" -> ((s, dir) => {
      val e = Tables.events(s, dir)
      val firstd = e.groupBy(col("user_id"))
        .agg(date_trunc("day", min(col("ts"))).as("cohort"))
      val cSize = firstd.groupBy(col("cohort")).agg(count(lit(1)).as("cohort_size"))
      e.join(firstd, "user_id")
        .select(col("user_id"), col("cohort"),
          datediff(date_trunc("day", col("ts")).cast("date"), col("cohort").cast("date")).as("d"))
        .distinct()
        .groupBy(col("cohort"), col("d")).agg(count(lit(1)).as("n_users"))
        .join(broadcast(cSize), "cohort")
        .select(col("cohort"), col("d"), col("n_users"), col("cohort_size"),
          round(col("n_users") / col("cohort_size"), 6).as("rate"))
        .orderBy(col("cohort"), col("d"))
    }),

    // ------------------------------------------------------------------
    // Sessionization via the BUILT-IN session_window (vs q46's manual
    // gaps-and-islands): per-user sessions with a 30-minute gap; the
    // operator merges windows inside the aggregation, so session state
    // stays inside its (user, session) group. Boundary semantics
    // (pinned by Analysis2Spec with a synthetic exactly-30-min step):
    // sessions MERGE while gap <= 30 min — an event exactly at
    // prev+30min still joins the session — so the oracle's new-session
    // test is strictly `>`, matching q46's manual convention.
    "q110_session_window" -> ((s, dir) =>
      Tables.events(s, dir)
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"), col("sw.start").as("sess_start"),
          col("sw.end").as("sess_end"), col("n_events"))
        .orderBy(col("user_id"), col("sess_start"))),

    // ------------------------------------------------------------------
    // RANGE-interval window frames (the calendar-aware frame semantics
    // ROWS frames can't express over gappy series): trailing 3-day
    // event sum per type — a 2-day gap contributes nothing, unlike
    // q71's ROWS frame which would span it. Runs on the per-(type,day)
    // contraction, type-partitioned, so frames stay ≤#days at any
    // scale. The window is authored in SQL to exercise the textual
    // `RANGE BETWEEN INTERVAL` surface on both engines.
    "q186_range_window" -> ((s, dir) => {
      Tables.events(s, dir).createOrReplaceTempView("events_v")
      s.sql("""
        WITH daily AS (SELECT event_type AS et, CAST(ts AS DATE) AS day, count(*) AS n
                       FROM events_v GROUP BY 1, 2)
        SELECT et, day, n,
               CAST(sum(n) OVER (PARTITION BY et ORDER BY day
                 RANGE BETWEEN INTERVAL 2 DAY PRECEDING AND CURRENT ROW) AS BIGINT) AS n_3day
        FROM daily ORDER BY et, day""")
    }),

    // ------------------------------------------------------------------
    // Kaplan–Meier survival curve of user lifetimes (first→last activity
    // days): users last seen within 3 days of the observation end are
    // CENSORED (still alive), everyone else "churned" at their lifetime
    // t. The product-limit estimator S(t) = Π(1 − dᵢ/nᵢ) runs as
    // exp(Σ ln·) with DECIMAL-quantized log factors over the
    // per-lifetime contraction (≤ observation-window days rows, so the
    // global windows are bounded); a terminal dᵢ=nᵢ cell pins S to an
    // exact 0 instead of feeding ln(0) into the sum.
    "q171_survival_km" -> ((s, dir) => {
      val users = Tables.events(s, dir)
        .select(col("user_id"), expr("cast(ts as date)").as("day"))
        .groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
        .localCheckpoint() // consumed twice: dmax + per-lifetime counts
      val mx = users.agg(max(col("d1")).as("dmax"))
      val byT = users.crossJoin(broadcast(mx))
        .withColumn("t", expr("datediff(d1, d0)"))
        .withColumn("censored", expr("datediff(dmax, d1) < 3"))
        .groupBy(col("t"))
        .agg(sum(when(col("censored"), 0).otherwise(1)).as("d"),
          sum(when(col("censored"), 1).otherwise(0)).as("c"))
        .localCheckpoint() // consumed twice: total + curve
      val tot = byT.agg(sum(col("d") + col("c")).as("n_total"))
      val wPrev = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wIncl = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byT.crossJoin(broadcast(tot))
        .withColumn("n_risk",
          col("n_total") - coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
        .withColumn("lnf", expr(
          "cast(case when d > 0 and d < n_risk then ln(1.0 - cast(d as double) / n_risk) else 0.0 end as decimal(28,12))"))
        .withColumn("dead", expr("case when d >= n_risk then 1 else 0 end"))
        .withColumn("anyd", max(col("dead")).over(wIncl))
        .withColumn("cuml", sum(col("lnf")).over(wIncl).cast("double"))
        .select(col("t"), col("n_risk"), col("d").as("deaths"),
          col("c").as("censored_n"),
          round(expr("case when anyd = 1 then 0.0 else exp(cuml) end"), 6).as("survival"))
        .orderBy(col("t"))
    }),

    // ------------------------------------------------------------------
    // Two-group log-rank test — the hypothesis test the q171 KM curve
    // stops short of ("do the even- and odd-user time-to-conversion
    // curves differ?"): the death event is the user's FIRST >150
    // purchase (q188's conversion framing — q171's activity-gap
    // censoring never fires on this corpus, every user stays active
    // to the end); users who never convert are right-censored at
    // their last observed day. Contracted to per-lifetime 2×2 cells
    // (deaths + censored per group), at-risk counts from the
    // product-limit cumsum over the ≤#observation-days cell frame
    // (allowlisted window, q171's shape), and the hypergeometric
    // O−E/V pooled with DECIMAL-quantized per-time terms: χ² =
    // (O₁−E₁)²/V on 1 df. Times with no deaths or <2 at risk
    // contribute nothing, per the standard estimator; censored-at-t
    // stay in the time-t risk set (standard convention).
    "q315_logrank" -> ((s, dir) => {
      val byT = Tables.events(s, dir)
        .select(col("user_id"), expr("cast(ts as date)").as("day"),
          (col("event_type") === "purchase" && col("value") > 150).as("hit"))
        .groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"),
          min(when(col("hit"), col("day"))).as("p1"))
        .withColumn("grp", (col("user_id") % 2).cast("int"))
        .withColumn("t", expr("datediff(coalesce(p1, d1), d0)"))
        .withColumn("death", col("p1").isNotNull)
        .groupBy(col("t"))
        .agg(sum(expr("case when grp = 0 and death then 1 else 0 end")).as("e1c"),
          sum(expr("case when grp = 0 and not death then 1 else 0 end")).as("x1c"),
          sum(expr("case when grp = 1 and death then 1 else 0 end")).as("e2c"),
          sum(expr("case when grp = 1 and not death then 1 else 0 end")).as("x2c"))
        .localCheckpoint() // consumed twice: group totals + risk sets
      val tot = byT.agg(sum(col("e1c") + col("x1c")).as("n1t"),
        sum(col("e2c") + col("x2c")).as("n2t"))
      val wPrev = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, -1)
      byT.crossJoin(broadcast(tot))
        .withColumn("n1r",
          col("n1t") - coalesce(sum(col("e1c") + col("x1c")).over(wPrev), lit(0L)))
        .withColumn("n2r",
          col("n2t") - coalesce(sum(col("e2c") + col("x2c")).over(wPrev), lit(0L)))
        .withColumn("dj", col("e1c") + col("e2c"))
        .withColumn("nj", col("n1r") + col("n2r"))
        .filter(col("dj") > 0 && col("nj") > 1)
        .withColumn("ej", expr("cast(n1r as double) * dj / nj"))
        .withColumn("vj", expr(
          "cast(n1r as double) * n2r * dj * (nj - dj) / (cast(nj as double) * nj * (nj - 1))"))
        .agg(sum(col("e1c")).as("o1"),
          sum(expr("cast(ej as decimal(28,12))")).as("e1x"),
          sum(expr("cast(vj as decimal(28,12))")).as("vx"))
        .selectExpr("o1", "round(cast(e1x as double), 6) AS e1",
          "round(pow(o1 - cast(e1x as double), 2) / cast(vx as double), 6) AS chi2_logrank",
          "pow(o1 - cast(e1x as double), 2) / cast(vx as double) > 3.841459 AS reject_5pct")
    }),

    // ------------------------------------------------------------------
    // Kaplan–Meier with GREENWOOD standard errors + log-log CIs — the
    // uncertainty readout q171's point curve stops short of (a KM
    // curve without CIs can't say whether two cohorts differ; q315
    // tests that globally, this localizes it per time point): q315's
    // time-to-first->150-purchase framing, Greenwood Var(Ŝ) =
    // Ŝ²·Σ d/(n(n−d)), and the Kalbfleisch–Prentice log-log interval
    // Ŝ^exp(±z·√v/ln Ŝ) — computed as exp(exp(±zτ)·lnŜ) so both
    // engines compose the same exp/ln/sqrt chain (never pow). CIs are
    // NULL at Ŝ=1 (ln Ŝ=0, the interval is undefined) and Ŝ=0, per
    // convention. Per-t terms quantize DECIMAL(28,12) before the
    // cumulative sums over the ≤#observation-days cell frame
    // (allowlisted window, q171's shape).
    "q326_km_greenwood" -> ((s, dir) => {
      val byT = Tables.events(s, dir)
        .select(col("user_id"), expr("cast(ts as date)").as("day"),
          (col("event_type") === "purchase" && col("value") > 150).as("hit"))
        .groupBy(col("user_id"))
        .agg(min(col("day")).as("d0"), max(col("day")).as("d1"),
          min(when(col("hit"), col("day"))).as("p1"))
        .withColumn("t", expr("datediff(coalesce(p1, d1), d0)"))
        .groupBy(col("t"))
        .agg(sum(when(col("p1").isNotNull, 1).otherwise(0)).as("d"),
          sum(when(col("p1").isNotNull, 0).otherwise(1)).as("c"))
        .localCheckpoint() // consumed twice: total + curve
      val tot = byT.agg(sum(col("d") + col("c")).as("n_total"))
      val wPrev = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wIncl = Window.orderBy(col("t"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      byT.crossJoin(broadcast(tot))
        .withColumn("n_risk",
          col("n_total") - coalesce(sum(col("d") + col("c")).over(wPrev), lit(0L)))
        .withColumn("lnf", expr(
          "cast(case when d > 0 and d < n_risk then ln(1.0 - cast(d as double) / n_risk) else 0.0 end as decimal(28,12))"))
        .withColumn("gterm", expr(
          "cast(case when d > 0 and d < n_risk then cast(d as double) / (cast(n_risk as double) * (n_risk - d)) else 0.0 end as decimal(28,12))"))
        .withColumn("dead", expr("case when d >= n_risk then 1 else 0 end"))
        .withColumn("anyd", max(col("dead")).over(wIncl))
        .withColumn("cuml", sum(col("lnf")).over(wIncl).cast("double"))
        .withColumn("cumg", sum(col("gterm")).over(wIncl).cast("double"))
        .withColumn("surv", expr("case when anyd = 1 then 0.0 else exp(cuml) end"))
        .withColumn("tau", expr(
          "case when anyd = 0 and cuml < 0.0 then sqrt(cumg) / (-cuml) else cast(null as double) end"))
        .select(col("t"), col("n_risk"), col("d").as("deaths"),
          col("c").as("censored_n"),
          round(col("surv"), 6).as("survival"),
          round(expr("case when anyd = 1 then cast(null as double) else exp(cuml) * sqrt(cumg) end"), 6).as("se_greenwood"),
          round(expr("exp(exp(1.959964 * tau) * cuml)"), 6).as("ci_lo"),
          round(expr("exp(exp(-1.959964 * tau) * cuml)"), 6).as("ci_hi"))
        .orderBy(col("t"))
    }),

    // ------------------------------------------------------------------
    // Cohort-LTV triangle: users cohort by first-activity week, revenue
    // (purchase values) accumulates per cohort over age-in-weeks. The
    // fact table is touched twice (first-day contraction + revenue
    // join-back on the user key); the cumulative column is a
    // cohort-PARTITIONED window over ≤#weeks cells. Week indices use
    // explicit floor for the Spark-truncate/DuckDB-round cast split.
    "q173_cohort_ltv" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), expr("cast(ts as date)").as("day"),
          when(col("event_type") === "purchase", coalesce(col("value"), lit(0.0)))
            .otherwise(lit(0.0)).as("rev"))
      val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
        .localCheckpoint() // consumed twice: anchor min + join-back
      val day0 = first.agg(min(col("cohort_day")).as("day0"))
      val g = ev.join(first, "user_id").crossJoin(broadcast(day0))
        .withColumn("cohort_week",
          expr("cast(floor(datediff(cohort_day, day0) / 7) as int)"))
        .withColumn("age_week",
          expr("cast(floor(datediff(day, cohort_day) / 7) as int)"))
        .groupBy(col("cohort_week"), col("age_week"))
        .agg(countDistinct(col("user_id")).as("n_users"),
          sum(expr("cast(rev as decimal(18,2))")).as("rev"))
      val w = Window.partitionBy(col("cohort_week")).orderBy(col("age_week"))
      g.withColumn("cum_rev", sum(col("rev")).over(w))
        .select(col("cohort_week"), col("age_week"), col("n_users"),
          round(col("rev").cast("double"), 2).as("revenue"),
          round(col("cum_rev").cast("double"), 2).as("cum_revenue"))
        .orderBy(col("cohort_week"), col("age_week"))
    }),

    // ------------------------------------------------------------------
    // Holt's linear-trend exponential smoothing over the daily event
    // count — the recursive (level, trend) forecaster q87's flat EWMA
    // can't express (EWMA has no trend state; a 10-term lag unroll
    // can't carry one). The recurrence is inherently sequential, so it
    // runs as ONE in-row fold over the ≤#days daily contraction
    // (sort_array'd collect_list → aggregate HOF — the bounded-series
    // idiom, not a driver loop): l_t = round(½y + ½(l+b), 6),
    // b_t = round(¼(l_t − l_{t−1}) + ¾b, 6), init l₁ = y₁, b₁ = 0.
    // EVERY step is DECIMAL arithmetic quantized to 6dp (dyadic α=½,
    // β=¼ keep pre-round products exact), so the 60-step recursion is
    // bit-identical to DuckDB's recursive-CTE replay — float drift
    // cannot compound. One-step-ahead SSE accumulates in the same fold
    // ((18,6)² = (37,12), exact); output = 7-day-ahead forecast fan
    // l + h·b (×7 expansion on the 1-row frame).
    "q282_holt_forecast" -> ((s, dir) => {
      val series = Tables.events(s, dir)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("y"))
        .agg(sort_array(collect_list(struct(col("day"), col("y")))).as("ds"),
          count(lit(1)).as("n_days"))
        .selectExpr("n_days", "transform(ds, x -> x.y) AS ys")
      series.selectExpr("n_days",
        ("aggregate(ys, "
          + "named_struct('l', CAST(0 AS DECIMAL(28,6)), 'b', CAST(0 AS DECIMAL(28,6)), "
          + "'sse', CAST(0 AS DECIMAL(38,12)), 'i', 0), "
          + "(a, y) -> CASE WHEN a.i = 0 THEN named_struct("
          + "'l', CAST(y AS DECIMAL(28,6)), 'b', CAST(0 AS DECIMAL(28,6)), 'sse', a.sse, 'i', 1) "
          + "ELSE named_struct("
          + "'l', CAST(round(0.5 * y + 0.5 * (a.l + a.b), 6) AS DECIMAL(28,6)), "
          + "'b', CAST(round(0.25 * (CAST(round(0.5 * y + 0.5 * (a.l + a.b), 6) AS DECIMAL(28,6)) - a.l) "
          + "+ 0.75 * a.b, 6) AS DECIMAL(28,6)), "
          + "'sse', CAST(a.sse + CAST(y - (a.l + a.b) AS DECIMAL(18,6)) "
          + "* CAST(y - (a.l + a.b) AS DECIMAL(18,6)) AS DECIMAL(38,12)), "
          + "'i', a.i + 1) END) AS st"))
        .select(col("n_days"), col("st"), explode(expr("sequence(1, 7)")).as("h"))
        .selectExpr("h", "n_days",
          "cast(st.l as double) AS level",
          "cast(st.b as double) AS trend",
          "cast(round(st.sse, 6) as double) AS sse",
          "cast(st.l + h * st.b as double) AS forecast")
        .orderBy(col("h"))
    }),

    // ------------------------------------------------------------------
    // Holt–Winters ADDITIVE (weekly m=7, α=0.5 β=0.25 γ=0.3) — the
    // seasonal completion of q282's linear-trend Holt (q346's backtest
    // showed the weekly cycle beats persistence; HW models it):
    // l←α(y−s₋₇)+(1−α)(l+b), b←β(Δl)+(1−β)b, s←γ(y−l)+(1−γ)s₋₇. Init
    // = textbook: l₀ = mean of week 1, s⁰ = week-1 deviations, b₀ = 0;
    // the fold then runs from day 8. Same execution shape as q282: the
    // bounded daily series folds IN-ROW (exact decimal-quantized state
    // after every update — engine-order-proof), with the 7-slot
    // seasonal vector ROTATING through the accumulator array so s₋₇ is
    // always element 1; after the last day, element h is the season
    // for horizon h. Oracle = the same fold as a recursive CTE with a
    // DECIMAL list state (q282's idiom, list-valued).
    "q357_holt_winters" -> ((s, dir) => {
      val lNew = "CAST(round(0.5 * (y - element_at(a.s, 1)) + 0.5 * (a.l + a.b), 6) AS DECIMAL(28,6))"
      val bNew = s"CAST(round(0.25 * ($lNew - a.l) + 0.75 * a.b, 6) AS DECIMAL(28,6))"
      val sNew = s"CAST(round(0.3 * (y - $lNew) + 0.7 * element_at(a.s, 1), 6) AS DECIMAL(28,6))"
      Tables.events(s, dir)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("y"))
        .agg(sort_array(collect_list(struct(col("day"), col("y")))).as("ds"),
          count(lit(1)).as("n_days"))
        .selectExpr("n_days", "transform(ds, x -> x.y) AS ys")
        .withColumn("l0", expr(
          "CAST(round(aggregate(slice(ys, 1, 7), CAST(0 AS DECIMAL(28,6)), " +
            "(a, y) -> CAST(a + y AS DECIMAL(28,6))) / 7.0, 6) AS DECIMAL(28,6))"))
        .withColumn("s0", expr(
          "transform(slice(ys, 1, 7), y -> CAST(round(y - l0, 6) AS DECIMAL(28,6)))"))
        .withColumn("st", expr(
          "aggregate(slice(ys, 8, size(ys) - 7), " +
            "named_struct('l', l0, 'b', CAST(0 AS DECIMAL(28,6)), 's', s0, " +
            "'sse', CAST(0 AS DECIMAL(38,12))), " +
            s"(a, y) -> named_struct('l', $lNew, 'b', $bNew, " +
            s"'s', concat(slice(a.s, 2, 6), array($sNew)), " +
            "'sse', CAST(a.sse + CAST(y - (a.l + a.b + element_at(a.s, 1)) AS DECIMAL(18,6)) " +
            "* CAST(y - (a.l + a.b + element_at(a.s, 1)) AS DECIMAL(18,6)) AS DECIMAL(38,12))))"))
        .select(col("n_days"), col("st"), explode(expr("sequence(1, 7)")).as("h"))
        .selectExpr("h", "n_days",
          "cast(st.l as double) AS level",
          "cast(st.b as double) AS trend",
          "cast(round(st.sse, 6) as double) AS sse",
          "cast(element_at(st.s, h) as double) AS season_h",
          "cast(st.l + h * st.b + element_at(st.s, h) as double) AS forecast")
        .orderBy(col("h"))
    }),

    // ------------------------------------------------------------------
    // One-step-ahead forecast BACKTEST (naive vs seasonal-naive) — the
    // evaluation discipline q282's fitted forecast lacks (a forecast
    // key without a backtest key invites silent model rot): for every
    // day with a full 7-day history, score ŷ=y_{t−1} (naive) and
    // ŷ=y_{t−7} (seasonal-naive) on the SAME eval window, report
    // MAE/RMSE per method and MASE = MAE_snaive/MAE_naive (<1 ⟺ the
    // weekly cycle beats persistence). Errors are exact integers; lag
    // windows run over ≤#days daily cells (allowlisted, q23's shape).
    "q346_forecast_backtest" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val daily = Tables.events(s, dir)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(count(lit(1)).as("y"))
      val w = Window.orderBy(col("day")) // bounded: <= #days daily cells
      daily
        .withColumn("l1", lag(col("y"), 1).over(w))
        .withColumn("l7", lag(col("y"), 7).over(w))
        .filter(col("l7").isNotNull)
        .withColumn("en", abs(col("y") - col("l1")))
        .withColumn("es", abs(col("y") - col("l7")))
        .agg(count(lit(1)).as("n_eval"),
          sum(col("en")).as("sn"), sum(col("es")).as("ss"),
          sum(expr("en * en")).as("sn2"), sum(expr("es * es")).as("ss2"))
        .selectExpr("n_eval",
          "round(cast(sn as double) / n_eval, 6) AS mae_naive",
          "round(cast(ss as double) / n_eval, 6) AS mae_snaive",
          "round(sqrt(cast(sn2 as double) / n_eval), 6) AS rmse_naive",
          "round(sqrt(cast(ss2 as double) / n_eval), 6) AS rmse_snaive",
          "round(cast(ss as double) / cast(sn as double), 6) AS mase_snaive")
    }),

    // ------------------------------------------------------------------
    // WEIBULL fit of INTER-EVENT gaps by median-rank regression — the
    // parametric completion of the renewal-process family (q234 reads
    // the gap distribution's moments, q288 tests Poisson dispersion;
    // this FITS the generalizing law: k = 1 recovers the exponential/
    // Poisson case, k < 1 means bursty clustering): per-user gaps in
    // whole minutes (keyed lag window, never global; sub-minute gaps
    // can't feed ln t — counted and reported, never silently dropped),
    // the Bernard median rank F̂ = (i − 0.3)/(n + 0.4) at each gap's
    // cumulative index linearizes Weibull as ln(−ln(1−F̂)) = k·ln t −
    // k·ln λ, and one OLS pass over the per-gap-value cells gives
    // shape k, scale λ and the fit's r². The cumulative index rides
    // cumCounts' range-partitioned prefix sums (the cell frame is
    // data-derived, so no global window is allowed); OLS sums
    // quantized DECIMAL(28,12).
    "q404_weibull_fit" -> ((s, dir) => {
      val wU = Window.partitionBy(col("user_id")).orderBy(col("us"), col("event_id"))
      val cells = Tables.events(s, dir)
        .select(col("user_id"), col("event_id"),
          expr("unix_micros(cast(ts as timestamp))").as("us"))
        .withColumn("prev", lag(col("us"), 1).over(wU))
        .filter(col("prev").isNotNull)
        .withColumn("t", expr("cast(floor((us - prev) / 60000000.0d) as bigint)"))
        .groupBy(col("t")).agg(count(lit(1)).as("d"))
      // `cells` is read twice (the dropped count and the rank frame) and
      // stays lazy: the rank frame's `t >= 1` filter is pushed below the
      // groupBy, so the two reads share only the events shuffle and run
      // the lag window twice, yet the prefix sum's input is measured and
      // summed in one task. graft.Explain build + noop, min of 6 warm
      // runs in one session, checkpointed → lazy: 0.58 → 0.56 s
      // (sf0.01), 0.64 → 0.59 s (sf0.1).
      val drop = cells.agg(
        coalesce(sum(when(col("t") === 0, col("d"))), lit(0L)).as("n_dropped"))
      val pts = Science.cumCounts(s,
        cells.filter(col("t") >= 1).select(col("t").cast("double").as("v"), col("d").as("c1")))
      pts
        .withColumn("x", expr("ln(v)"))
        .withColumn("y", expr(
          "ln(-ln(1.0d - (cast(cum1 as double) - 0.3d) / (n1 + 0.4d)))"))
        .agg(max(col("n1")).as("n_gaps"), count(lit(1)).as("m"),
          sum(expr("cast(x as decimal(28,12))")).as("sx"),
          sum(expr("cast(y as decimal(28,12))")).as("sy"),
          sum(expr("cast(x * y as decimal(28,12))")).as("sxy"),
          sum(expr("cast(x * x as decimal(28,12))")).as("sxx"),
          sum(expr("cast(y * y as decimal(28,12))")).as("syy"))
        .withColumn("k", expr(
          "(m * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / "
            + "(m * cast(sxx as double) - cast(sx as double) * cast(sx as double))"))
        .withColumn("b", expr("(cast(sy as double) - k * cast(sx as double)) / m"))
        .crossJoin(broadcast(drop))
        .selectExpr("n_gaps", "n_dropped", "m AS n_cells",
          "round(k, 6) AS shape_k", "round(exp(-b / k), 4) AS scale_lambda",
          ("round(pow(m * cast(sxy as double) - cast(sx as double) * cast(sy as double), 2) / "
            + "((m * cast(sxx as double) - cast(sx as double) * cast(sx as double)) * "
            + "(m * cast(syy as double) - cast(sy as double) * cast(sy as double))), 6) AS r2"))
    }),
  )

  def oracles: Map[String, String] = Map(
    // q404: same per-user lag gaps, same Bernard ranks, same quantized
    // OLS sums; the cumsum rides a plain window over the cell frame.
    "q404_weibull_fit" ->
      ("WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS us FROM events), "
        + "g AS (SELECT user_id, us - lag(us, 1) OVER (PARTITION BY user_id ORDER BY us, event_id) AS gap FROM e), "
        + "gm AS (SELECT CAST(floor(gap / 60000000.0) AS BIGINT) AS t FROM g WHERE gap IS NOT NULL), "
        + "cells AS (SELECT t, CAST(count(*) AS BIGINT) AS d FROM gm GROUP BY t), "
        + "drp AS (SELECT CAST(coalesce(sum(CASE WHEN t = 0 THEN d END), 0) AS BIGINT) AS n_dropped FROM cells), "
        + "byt AS (SELECT t, d FROM cells WHERE t >= 1), "
        + "tot AS (SELECT CAST(sum(d) AS BIGINT) AS n FROM byt), "
        + "pts AS (SELECT t, n, CAST(sum(d) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS i "
        + "FROM byt CROSS JOIN tot), "
        + "xy AS (SELECT n, ln(CAST(t AS DOUBLE)) AS x, "
        + "ln(-ln(1.0 - (CAST(i AS DOUBLE) - 0.3) / (n + 0.4))) AS y FROM pts), "
        + "ols AS (SELECT max(n) AS n_gaps, CAST(count(*) AS BIGINT) AS m, "
        + "sum(CAST(x AS DECIMAL(28,12))) AS sx, sum(CAST(y AS DECIMAL(28,12))) AS sy, "
        + "sum(CAST(x * y AS DECIMAL(28,12))) AS sxy, sum(CAST(x * x AS DECIMAL(28,12))) AS sxx, "
        + "sum(CAST(y * y AS DECIMAL(28,12))) AS syy FROM xy), "
        + "fit AS (SELECT *, (m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / "
        + "(m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS k FROM ols), "
        + "fit2 AS (SELECT *, (CAST(sy AS DOUBLE) - k * CAST(sx AS DOUBLE)) / m AS b FROM fit) "
        + "SELECT n_gaps, n_dropped, m AS n_cells, round(k, 6) AS shape_k, "
        + "round(exp(-b / k), 4) AS scale_lambda, "
        + "round(pow(m * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE), 2) / "
        + "((m * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) * "
        + "(m * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6) AS r2 "
        + "FROM fit2 CROSS JOIN drp"),
    "q357_holt_winters" ->
      ("WITH RECURSIVE idx AS (SELECT row_number() OVER (ORDER BY day) AS i, y FROM ("
        + "SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1)), "
        + "n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM idx), "
        + "init AS (SELECT CAST(round(sum(y) / 7.0, 6) AS DECIMAL(28,6)) AS l0 FROM idx WHERE i <= 7), "
        + "sz AS (SELECT list(CAST(round(y - l0, 6) AS DECIMAL(28,6)) ORDER BY i) AS s FROM idx, init WHERE i <= 7), "
        + "rec AS ("
        + "SELECT 7 AS i, l0 AS l, CAST(0 AS DECIMAL(28,6)) AS b, s, CAST(0 AS DECIMAL(38,12)) AS sse FROM init, sz "
        + "UNION ALL "
        + "SELECT q.i, q.lp, "
        + "CAST(round(0.25 * (q.lp - q.l0) + 0.75 * q.b0, 6) AS DECIMAL(28,6)), "
        + "q.s1[2:7] || [CAST(round(0.3 * (q.y - q.lp) + 0.7 * q.sh, 6) AS DECIMAL(28,6))], "
        + "CAST(q.sse0 + CAST(q.e AS DECIMAL(18,6)) * CAST(q.e AS DECIMAL(18,6)) AS DECIMAL(38,12)) "
        + "FROM (SELECT x.i AS i, x.y AS y, r.l AS l0, r.b AS b0, r.s AS s1, r.s[1] AS sh, r.sse AS sse0, "
        + "CAST(round(0.5 * (x.y - r.s[1]) + 0.5 * (r.l + r.b), 6) AS DECIMAL(28,6)) AS lp, "
        + "x.y - (r.l + r.b + r.s[1]) AS e "
        + "FROM rec r JOIN idx x ON x.i = r.i + 1) q), "
        + "fin AS (SELECT l, b, s, sse FROM rec WHERE i = (SELECT max(i) FROM rec)) "
        + "SELECT h, n_days, CAST(l AS DOUBLE) AS level, CAST(b AS DOUBLE) AS trend, "
        + "CAST(round(sse, 6) AS DOUBLE) AS sse, CAST(s[h] AS DOUBLE) AS season_h, "
        + "CAST(l + h * b + s[h] AS DOUBLE) AS forecast "
        + "FROM fin CROSS JOIN n CROSS JOIN (SELECT CAST(unnest(range(1, 8)) AS INT) AS h) ORDER BY h"),
    "q346_forecast_backtest" ->
      ("WITH daily AS (SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1), "
        + "lagged AS (SELECT y, lag(y, 1) OVER (ORDER BY day) AS l1, lag(y, 7) OVER (ORDER BY day) AS l7 FROM daily), "
        + "f AS (SELECT abs(y - l1) AS en, abs(y - l7) AS es FROM lagged WHERE l7 IS NOT NULL), "
        + "agg AS (SELECT count(*) AS n_eval, CAST(sum(en) AS BIGINT) AS sn, CAST(sum(es) AS BIGINT) AS ss, "
        + "CAST(sum(en * en) AS BIGINT) AS sn2, CAST(sum(es * es) AS BIGINT) AS ss2 FROM f) "
        + "SELECT CAST(n_eval AS BIGINT) AS n_eval, round(CAST(sn AS DOUBLE) / n_eval, 6) AS mae_naive, "
        + "round(CAST(ss AS DOUBLE) / n_eval, 6) AS mae_snaive, "
        + "round(sqrt(CAST(sn2 AS DOUBLE) / n_eval), 6) AS rmse_naive, "
        + "round(sqrt(CAST(ss2 AS DOUBLE) / n_eval), 6) AS rmse_snaive, "
        + "round(CAST(ss AS DOUBLE) / CAST(sn AS DOUBLE), 6) AS mase_snaive FROM agg"),
    "q326_km_greenwood" ->
      ("WITH u AS (SELECT user_id, min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1, "
        + "min(CASE WHEN event_type = 'purchase' AND value > 150 THEN CAST(ts AS DATE) END) AS p1 "
        + "FROM events GROUP BY user_id), "
        + "byt AS (SELECT date_diff('day', d0, coalesce(p1, d1)) AS t, "
        + "CAST(sum(CASE WHEN p1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS d, "
        + "CAST(sum(CASE WHEN p1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS c FROM u GROUP BY 1), "
        + "tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n_total FROM byt), "
        + "r AS (SELECT t, d, c, n_total - coalesce(CAST(sum(d + c) OVER "
        + "(ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS n_risk FROM byt CROSS JOIN tot), "
        + "f AS (SELECT t, d, c, n_risk, "
        + "CAST(CASE WHEN d > 0 AND d < n_risk THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk) ELSE 0.0 END AS DECIMAL(28,12)) AS lnf, "
        + "CAST(CASE WHEN d > 0 AND d < n_risk THEN CAST(d AS DOUBLE) / (CAST(n_risk AS DOUBLE) * (n_risk - d)) ELSE 0.0 END AS DECIMAL(28,12)) AS gterm, "
        + "CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS dead FROM r), "
        + "s AS (SELECT t, n_risk, d, c, "
        + "CAST(sum(lnf) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cuml, "
        + "CAST(sum(gterm) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cumg, "
        + "max(dead) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS anyd FROM f), "
        + "k AS (SELECT t, n_risk, d, c, anyd, cuml, cumg, "
        + "CASE WHEN anyd = 0 AND cuml < 0.0 THEN sqrt(cumg) / (-cuml) END AS tau FROM s) "
        + "SELECT t, n_risk, d AS deaths, c AS censored_n, "
        + "round(CASE WHEN anyd = 1 THEN 0.0 ELSE exp(cuml) END, 6) AS survival, "
        + "round(CASE WHEN anyd = 1 THEN CAST(NULL AS DOUBLE) ELSE exp(cuml) * sqrt(cumg) END, 6) AS se_greenwood, "
        + "round(exp(exp(1.959964 * tau) * cuml), 6) AS ci_lo, "
        + "round(exp(exp(-1.959964 * tau) * cuml), 6) AS ci_hi "
        + "FROM k ORDER BY t"),
    "q315_logrank" ->
      ("WITH u AS (SELECT user_id, min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1, "
        + "min(CASE WHEN event_type = 'purchase' AND value > 150 THEN CAST(ts AS DATE) END) AS p1 "
        + "FROM events GROUP BY user_id), "
        + "byt AS (SELECT date_diff('day', d0, coalesce(p1, d1)) AS t, "
        + "CAST(sum(CASE WHEN user_id % 2 = 0 AND p1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS e1c, "
        + "CAST(sum(CASE WHEN user_id % 2 = 0 AND p1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS x1c, "
        + "CAST(sum(CASE WHEN user_id % 2 = 1 AND p1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS e2c, "
        + "CAST(sum(CASE WHEN user_id % 2 = 1 AND p1 IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS x2c "
        + "FROM u GROUP BY 1), "
        + "tt AS (SELECT CAST(sum(e1c + x1c) AS BIGINT) AS n1t, CAST(sum(e2c + x2c) AS BIGINT) AS n2t FROM byt), "
        + "r AS (SELECT t, e1c, e2c, "
        + "n1t - coalesce(sum(e1c + x1c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n1r, "
        + "n2t - coalesce(sum(e2c + x2c) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS n2r "
        + "FROM byt CROSS JOIN tt), "
        + "k AS (SELECT e1c, n1r, n2r, e1c + e2c AS dj, n1r + n2r AS nj FROM r WHERE e1c + e2c > 0 AND n1r + n2r > 1), "
        + "agg AS (SELECT CAST(sum(e1c) AS BIGINT) AS o1, "
        + "CAST(sum(CAST(CAST(n1r AS DOUBLE) * dj / nj AS DECIMAL(28,12))) AS DOUBLE) AS e1x, "
        + "CAST(sum(CAST(CAST(n1r AS DOUBLE) * n2r * dj * (nj - dj) / (CAST(nj AS DOUBLE) * nj * (nj - 1)) AS DECIMAL(28,12))) AS DOUBLE) AS vx FROM k) "
        + "SELECT o1, round(e1x, 6) AS e1, round(pow(o1 - e1x, 2) / vx, 6) AS chi2_logrank, "
        + "pow(o1 - e1x, 2) / vx > 3.841459 AS reject_5pct FROM agg"),
    // q282: the identical quantized recursion replayed as a recursive
    // CTE — the rounded level lp binds in a subquery so the trend uses
    // the SAME post-round value the Spark fold uses.
    "q282_holt_forecast" ->
      ("WITH RECURSIVE idx AS (SELECT row_number() OVER (ORDER BY day) AS i, y FROM ("
        + "SELECT CAST(ts AS DATE) AS day, CAST(count(*) AS BIGINT) AS y FROM events GROUP BY 1)), "
        + "n AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM idx), "
        + "rec AS ("
        + "SELECT i, CAST(y AS DECIMAL(28,6)) AS l, CAST(0 AS DECIMAL(28,6)) AS b, "
        + "CAST(0 AS DECIMAL(38,12)) AS sse FROM idx WHERE i = 1 "
        + "UNION ALL "
        + "SELECT q.i, q.lp, "
        + "CAST(round(0.25 * (q.lp - q.l0) + 0.75 * q.b0, 6) AS DECIMAL(28,6)), "
        + "CAST(q.sse0 + CAST(q.e AS DECIMAL(18,6)) * CAST(q.e AS DECIMAL(18,6)) AS DECIMAL(38,12)) "
        + "FROM (SELECT x.i AS i, "
        + "CAST(round(0.5 * x.y + 0.5 * (r.l + r.b), 6) AS DECIMAL(28,6)) AS lp, "
        + "r.l AS l0, r.b AS b0, r.sse AS sse0, x.y - (r.l + r.b) AS e "
        + "FROM rec r JOIN idx x ON x.i = r.i + 1) q), "
        + "fin AS (SELECT l, b, sse FROM rec WHERE i = (SELECT max(i) FROM rec)) "
        + "SELECT h, n_days, CAST(l AS DOUBLE) AS level, CAST(b AS DOUBLE) AS trend, "
        + "CAST(round(sse, 6) AS DOUBLE) AS sse, CAST(l + h * b AS DOUBLE) AS forecast "
        + "FROM fin CROSS JOIN n CROSS JOIN (SELECT CAST(unnest(range(1, 8)) AS INT) AS h) ORDER BY h"),
    "q110_session_window" ->
      ("WITH f AS (SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL "
        + "OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess "
        + "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)), "
        + "s AS (SELECT user_id, ts, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id FROM f) "
        + "SELECT user_id, min(ts) AS sess_start, max(ts) + INTERVAL 30 MINUTE AS sess_end, "
        + "count(*) AS n_events FROM s GROUP BY user_id, sess_id ORDER BY user_id, sess_start"),
    "q87_ewma" -> {
      val numer = ewmaW.zipWithIndex.map { case (wk, k) =>
        s"CASE WHEN lag(v, $k) OVER w IS NOT NULL THEN $wk * lag(v, $k) OVER w ELSE 0 END"
      }.mkString(" + ")
      val denom = ewmaW.zipWithIndex.map { case (wk, k) =>
        s"CASE WHEN lag(v, $k) OVER w IS NOT NULL THEN $wk ELSE 0 END"
      }.mkString(" + ")
      ("WITH daily AS (SELECT event_type, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, "
        + "CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v FROM events GROUP BY 1, 2) "
        + s"SELECT event_type, day, v, round(($numer) / ($denom), 6) AS ewma "
        + "FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day) ORDER BY event_type, day")
    },
    "q91_scd2" ->
      ("WITH v AS (SELECT user_id, ts, event_type, value, event_id, "
        + "row_number() OVER w AS version, lead(ts) OVER w AS valid_to "
        + "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)) "
        + "SELECT user_id, version, ts AS valid_from, valid_to, "
        + "CASE WHEN valid_to IS NULL THEN 1 ELSE 0 END AS is_current, event_type, value, "
        + "round(CASE WHEN valid_to IS NULL THEN 0 ELSE CAST(date_diff('microsecond', ts, valid_to) AS BIGINT) / 1000000.0 END, 6) AS dur_sec "
        + "FROM v ORDER BY user_id, version"),
    "q44_window_tumble" ->
      ("SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts) AS TIMESTAMP) AS w_start, event_type, count(*) AS cnt, "
        + "round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_v FROM events GROUP BY 1, 2 ORDER BY w_start, event_type"),
    "q45_window_slide" ->
      ("SELECT w_start, event_type, count(*) AS cnt, round(CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE), 6) AS sum_v FROM ("
        + "SELECT CAST(time_bucket(INTERVAL 1 HOUR, ts - k * (INTERVAL 15 MINUTE)) + k * (INTERVAL 15 MINUTE) AS TIMESTAMP) AS w_start, event_type, value "
        + "FROM events CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)) GROUP BY 1, 2 ORDER BY w_start, event_type"),
    "q46_sessionize" ->
      ("SELECT user_id, sess_id, count(*) AS n_events, min(ts) AS sess_start, "
        + "CAST(date_diff('microsecond', min(ts), max(ts)) AS BIGINT) AS dur_us FROM ("
        // CAST: DuckDB's integer window-sum returns HUGEINT → pandas float64
        // on the driver side, breaking the byte hash vs Spark's int64.
        + "SELECT user_id, ts, event_id, CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id FROM ("
        + "SELECT user_id, ts, event_id, CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL "
        + "OR ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS new_sess FROM events)) "
        + "GROUP BY user_id, sess_id ORDER BY user_id, sess_id"),
    "q78_funnel" ->
      ("WITH s1 AS (SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id), "
        + "s2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e JOIN s1 USING (user_id) "
        + "WHERE event_type = 'click' AND ts > t1 AND ts <= t1 + INTERVAL 24 HOUR GROUP BY e.user_id), "
        + "s3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e JOIN s2 USING (user_id) "
        + "WHERE event_type = 'purchase' AND ts > t2 AND ts <= t2 + INTERVAL 24 HOUR GROUP BY e.user_id) "
        + "SELECT s1.user_id, t1, t2, t3 FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id "
        + "LEFT JOIN s3 ON s1.user_id = s3.user_id ORDER BY s1.user_id"),
    "q79_retention" ->
      ("WITH firstd AS (SELECT user_id, CAST(date_trunc('day', min(ts)) AS TIMESTAMP) AS cohort FROM events GROUP BY user_id), "
        + "csize AS (SELECT cohort, count(*) AS cohort_size FROM firstd GROUP BY cohort), "
        + "act AS (SELECT DISTINCT e.user_id, f.cohort, date_diff('day', CAST(f.cohort AS DATE), CAST(date_trunc('day', e.ts) AS DATE)) AS d "
        + "FROM events e JOIN firstd f USING (user_id)), "
        + "agg AS (SELECT cohort, d, count(*) AS n_users FROM act GROUP BY cohort, d) "
        + "SELECT a.cohort, a.d, a.n_users, c.cohort_size, round(CAST(a.n_users AS DOUBLE) / c.cohort_size, 6) AS rate "
        + "FROM agg a JOIN csize c USING (cohort) ORDER BY a.cohort, a.d"),
    "q186_range_window" ->
      ("WITH daily AS (SELECT event_type AS et, CAST(ts AS DATE) AS day, count(*) AS n FROM events GROUP BY 1, 2) "
        + "SELECT et, day, n, CAST(sum(n) OVER (PARTITION BY et ORDER BY day "
        + "RANGE BETWEEN INTERVAL 2 DAY PRECEDING AND CURRENT ROW) AS BIGINT) AS n_3day "
        + "FROM daily ORDER BY et, day"),
    "q171_survival_km" ->
      ("WITH u AS (SELECT user_id, min(CAST(ts AS DATE)) AS d0, max(CAST(ts AS DATE)) AS d1 FROM events GROUP BY 1), "
        + "mx AS (SELECT max(d1) AS dmax FROM u), "
        + "byt AS (SELECT date_diff('day', d0, d1) AS t, "
        + "CAST(sum(CASE WHEN date_diff('day', d1, dmax) < 3 THEN 0 ELSE 1 END) AS BIGINT) AS d, "
        + "CAST(sum(CASE WHEN date_diff('day', d1, dmax) < 3 THEN 1 ELSE 0 END) AS BIGINT) AS c "
        + "FROM u CROSS JOIN mx GROUP BY 1), "
        + "tot AS (SELECT CAST(sum(d + c) AS BIGINT) AS n_total FROM byt), "
        + "r AS (SELECT t, d, c, n_total - coalesce(CAST(sum(d + c) OVER "
        + "(ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS BIGINT), 0) AS n_risk "
        + "FROM byt CROSS JOIN tot), "
        + "f AS (SELECT t, d, c, n_risk, "
        + "CAST(CASE WHEN d > 0 AND d < n_risk THEN ln(1.0 - CAST(d AS DOUBLE) / n_risk) ELSE 0.0 END AS DECIMAL(28,12)) AS lnf, "
        + "CASE WHEN d >= n_risk THEN 1 ELSE 0 END AS dead FROM r), "
        + "s AS (SELECT t, n_risk, d, c, "
        + "CAST(sum(lnf) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE) AS cuml, "
        + "max(dead) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS anyd FROM f) "
        + "SELECT t, n_risk, d AS deaths, c AS censored_n, "
        + "round(CASE WHEN anyd = 1 THEN 0.0 ELSE exp(cuml) END, 6) AS survival FROM s ORDER BY t"),
    "q173_cohort_ltv" ->
      ("WITH ev AS (SELECT user_id, CAST(ts AS DATE) AS day, "
        + "CASE WHEN event_type = 'purchase' THEN coalesce(value, 0.0) ELSE 0.0 END AS rev FROM events), "
        + "fi AS (SELECT user_id, min(day) AS cohort_day FROM ev GROUP BY 1), "
        + "d0 AS (SELECT min(cohort_day) AS day0 FROM fi), "
        + "g AS (SELECT CAST(floor(date_diff('day', day0, cohort_day) / 7) AS INT) AS cohort_week, "
        + "CAST(floor(date_diff('day', cohort_day, day) / 7) AS INT) AS age_week, "
        + "count(DISTINCT ev.user_id) AS n_users, sum(CAST(rev AS DECIMAL(18,2))) AS rev "
        + "FROM ev JOIN fi ON ev.user_id = fi.user_id CROSS JOIN d0 GROUP BY 1, 2) "
        + "SELECT cohort_week, age_week, n_users, round(CAST(rev AS DOUBLE), 2) AS revenue, "
        + "round(CAST(sum(rev) OVER (PARTITION BY cohort_week ORDER BY age_week "
        + "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE), 2) AS cum_revenue "
        + "FROM g ORDER BY cohort_week, age_week"),
  )
}
