package graft.ops

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-5 model/data-evaluation pack — the readouts an ML platform
  * runs over scored events and curated corpora: ROC AUC (rank-based,
  * ties-correct), inter-rater agreement (Cohen's kappa + Matthews
  * correlation), decile lift / cumulative gains, calibration
  * (reliability bins + expected calibration error), revenue
  * concentration (Lorenz deciles / Pareto share), lexical diversity
  * (type-token ratio + hapax share), and population-stability drift
  * (PSI between time periods).
  *
  * Scale notes (100 TB north star):
  *  - q198's AUC needs midranks over a data-sized pooled score column —
  *    exactly q130's problem — so it contracts to per-distinct-value
  *    (neg, pos) counts (one partial-agg shuffle) and rides
  *    [[Science.cumCounts]]' range-partitioned prefix sums; the
  *    rank-sum is DECIMAL-quantized pre-sum. No rank window anywhere.
  *  - q200/q201/q202/q204 all follow q115's broadcast-boundary shape:
  *    ONE tiny aggregate (exact percentile boundaries / global max /
  *    totals) broadcast back onto the fact scan, per-row bin via a
  *    higher-order `size(filter(...))`, then one partial-agg shuffle
  *    to ≤10 cells. The only windows are 10-row cumulative frames over
  *    those cells (allowlisted bounded in PlanGuardSpec).
  *  - q199/q203 are single partial-agg contractions (confusion cells /
  *    per-source vocab) — the fact table is touched once each.
  *  - Float determinism per SURVEY §4.3: integer counts stay integer
  *    to the end; per-cell double terms that feed a distributed sum
  *    are quantized to DECIMAL first (ECE/PSI terms, rank sums);
  *    composites (ratios, z, kappa) are computed in double from exact
  *    parts with the same expression on both engines; round(…,6) on
  *    output only.
  */
object Evaluation extends QueryPack {

  /** md5-derived bigint in [0, m) — q58's deterministic-split idiom
    * (never rand(); reproducible across runs/engines/partitionings),
    * through the native codegen'd `md5_mod` expression (bit-identical
    * to the built-in md5→substr→conv chain, asserted in Md5ModSpec;
    * registered by SparkEntry's per-query wrapper for any session). */
  private def md5mod(e: String, m: Int): String = s"md5_mod($e, ${m}L)"

  /** OLS (slope, intercept) over a (x, y) training frame from
    * exact-DECIMAL sufficient statistics — shared by q205's held-out
    * evaluation and q219's conformal intervals so a precision or
    * degenerate-denominator fix lands in both. Returns one row:
    * (n_train, slope, icept). */
  private def olsCoef(train: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    train
      .agg(count(lit(1)).as("n_train"),
        sum(col("x").cast("decimal(18,2)")).as("sx"),
        sum(col("y").cast("decimal(18,2)")).as("sy"),
        sum(expr("cast(cast(x as decimal(18,2)) * cast(x as decimal(18,2)) as decimal(38,4))")).as("sxx"),
        sum(expr("cast(cast(x as decimal(18,2)) * cast(y as decimal(18,2)) as decimal(38,4))")).as("sxy"))
      .withColumn("slope", expr(
        "(n_train * cast(sxy as double) - cast(sx as double) * cast(sy as double)) / " +
          "(n_train * cast(sxx as double) - cast(sx as double) * cast(sx as double))"))
      .withColumn("icept", expr("(cast(sy as double) - slope * cast(sx as double)) / n_train"))
      .select(col("n_train"), col("slope"), col("icept"))

  def queries: Map[String, Q] = Map(
    // ------------------------------------------------------------------
    // ROC AUC of `value` as a score separating purchases (positive)
    // from views (negative), via the rank-sum identity
    // AUC = (R⁺ − n⁺(n⁺+1)/2) / (n⁺n⁻) with midranks for ties — the
    // Mann–Whitney/AUC equivalence, so ties count 1/2 exactly like the
    // trapezoidal ROC. Scale path: per-distinct-value contraction +
    // cumCounts prefix sums (q130's machinery); midrank is closed-form
    // below + (c⁺+c⁻+1)/2, rank-sum quantized DECIMAL(28,6) pre-sum.
    "q198_roc_auc" -> ((s, dir) => {
      val g = Tables.events(s, dir)
        .filter(col("event_type").isin("view", "purchase") && col("value").isNotNull)
        .groupBy(col("value").as("v"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("c1"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c2"))
      Science.cumCounts(s, g)
        .withColumn("ar", expr("below + (c1 + c2 + 1) / 2.0"))
        .agg(max(col("n2")).as("n_pos"), max(col("n1")).as("n_neg"),
          sum(expr("cast(ar * c2 as decimal(28,6))")).as("rp"))
        .withColumn("auc_raw", expr(
          "(cast(rp as double) - cast(n_pos as double) * (n_pos + 1) / 2.0) / " +
            "(cast(n_pos as double) * n_neg)"))
        .select(col("n_pos"), col("n_neg"),
          round(col("auc_raw"), 6).as("auc"),
          round(expr("2.0 * auc_raw - 1.0"), 6).as("gini_idx"))
    }),

    // ------------------------------------------------------------------
    // PR-AUC (area under the precision–recall curve, trapezoid over
    // tied-score blocks) — the imbalanced-class companion to q198's
    // ROC (a 1% positive rate keeps ROC-AUC high while PR collapses;
    // retrieval/filter tuning reads THIS curve). Pure closed form per
    // distinct-value block of the SAME cumCounts contraction as q198 —
    // no global window, no second pass: in descending-score order a
    // block contributes Δrecall × (prec_before + prec_after)/2, and
    // both precisions derive from the ascending prefix sums
    // (tp≥v = n₂−cum₂+c₂, fp≥v likewise); the virtual start is
    // (recall 0, precision 1). FP-only blocks contribute zero area
    // (recall unchanged) exactly as the trapezoid demands. Terms
    // quantized DECIMAL(28,12) pre-sum; lift = PR-AUC / prevalence.
    "q399_pr_auc" -> ((s, dir) => {
      val g = Tables.events(s, dir)
        .filter(col("event_type").isin("view", "purchase") && col("value").isNotNull)
        .groupBy(col("value").as("v"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("c1"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c2"))
      Science.cumCounts(s, g)
        .withColumn("tp", expr("n2 - cum2 + c2"))       // positives scoring >= v
        .withColumn("fp", expr("n1 - cum1 + c1"))       // negatives scoring >= v
        .withColumn("tp0", expr("n2 - cum2"))           // strictly > v
        .withColumn("fp0", expr("n1 - cum1"))
        .withColumn("prec", expr("cast(tp as double) / (tp + fp)"))
        .withColumn("prec0", expr(
          "CASE WHEN tp0 + fp0 = 0 THEN 1.0d ELSE cast(tp0 as double) / (tp0 + fp0) END"))
        .withColumn("term", expr(
          "cast((cast(c2 as double) / n2) * (prec + prec0) / 2.0d as decimal(28,12))"))
        .agg(max(col("n2")).as("n_pos"), max(col("n1")).as("n_neg"),
          sum(col("term")).as("area"))
        .withColumn("prevalence", expr(
          "cast(n_pos as double) / (n_pos + n_neg)"))
        .selectExpr("n_pos", "n_neg",
          "round(cast(area as double), 6) AS pr_auc",
          "round(prevalence, 6) AS prevalence",
          "round(cast(area as double) / prevalence, 4) AS lift")
    }),

    // ------------------------------------------------------------------
    // DECISION-THRESHOLD TUNING (expected-profit argmax over the score
    // curve) — the step that turns q198/q399's curves into an
    // operating point: predict positive when value ≥ t, profit(t) =
    // 5·TP(t) − 1·FP(t) (benefit/cost constants documented — the
    // asymmetric-cost setting where "just use 0.5" fails). Every
    // candidate threshold is a distinct score, and TP/FP at ≥t fall
    // out of the SAME ascending cumCounts prefix sums as q399 — the
    // whole curve is one contraction pass, the argmax a TakeOrdered
    // limit(1) (profit desc, then smallest t), never a global sort.
    // Profit is exact integer algebra; P/R/F1 are raw ratios at t*.
    "q401_threshold_tuning" -> ((s, dir) => {
      val g = Tables.events(s, dir)
        .filter(col("event_type").isin("view", "purchase") && col("value").isNotNull)
        .groupBy(col("value").as("v"))
        .agg(sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("c1"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("c2"))
      Science.cumCounts(s, g)
        .withColumn("tp", expr("n2 - cum2 + c2"))
        .withColumn("fp", expr("n1 - cum1 + c1"))
        .withColumn("profit", expr("5 * tp - fp"))
        .orderBy(col("profit").desc, col("v"))
        .limit(1)
        .selectExpr("round(v, 2) AS threshold", "tp", "fp", "profit",
          "n2 - tp AS fn", "n1 - fp AS tn",
          "round(cast(tp as double) / (tp + fp), 6) AS precision_at_t",
          "round(cast(tp as double) / n2, 6) AS recall_at_t",
          ("round(2.0d * (cast(tp as double) / (tp + fp)) * (cast(tp as double) / n2) "
            + "/ (cast(tp as double) / (tp + fp) + cast(tp as double) / n2), 6) AS f1_at_t"))
    }),

    // ------------------------------------------------------------------
    // FLEISS' KAPPA — multi-rater agreement (q199's Cohen handles TWO
    // raters; a labeling pipeline audits THREE+): raters are three
    // deterministic binary document judges (A: n_chars ≥ 300; B: ≥ 55
    // tokens; C: ≥ 45 DISTINCT tokens — correlated-but-distinct length
    // lenses), n = 3, k = 2. With c = positive votes per doc,
    // P_i = (c(c−1) + (3−c)(2−c))/6, P̄e = p₊² + p₋², κ =
    // (P̄ − P̄e)/(1 − P̄e) — every term exact integer algebra over the
    // 4-cell vote histogram, one partial-agg pass, zero windows.
    "q402_fleiss_kappa" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(((col("n_chars") >= 300).cast("int")
          + (size(filter(split(col("text"), " "), t => t =!= "")) >= 55).cast("int")
          + (size(array_distinct(filter(split(col("text"), " "), t => t =!= ""))) >= 45).cast("int"))
          .as("c"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("c")).cast("long").as("votes_pos"),
          sum(expr("c * (c - 1) + (3 - c) * (2 - c)")).cast("long").as("agree6"),
          sum(when(col("c") === 3, 1L).otherwise(0L)).as("n_unanimous_pos"),
          sum(when(col("c") === 0, 1L).otherwise(0L)).as("n_unanimous_neg"))
        .withColumn("p_pos", expr("cast(votes_pos as double) / (3 * n_docs)"))
        .withColumn("p_bar", expr("cast(agree6 as double) / (6 * n_docs)"))
        .withColumn("p_e", expr("p_pos * p_pos + (1.0d - p_pos) * (1.0d - p_pos)"))
        .selectExpr("n_docs", "n_unanimous_pos", "n_unanimous_neg",
          "round(p_pos, 6) AS p_pos", "round(p_bar, 6) AS p_bar",
          "round((p_bar - p_e) / (1.0d - p_e), 6) AS fleiss_kappa")
    }),

    // ------------------------------------------------------------------
    // Inter-rater agreement between two deterministic document labelers
    // (rater A: n_chars >= 300; rater B: >= 55 whitespace tokens — two
    // correlated-but-distinct length heuristics): confusion cells,
    // observed/chance agreement, Cohen's kappa and the Matthews
    // correlation. One partial-agg pass; every statistic is closed-form
    // double over exact integer cells.
    "q199_rater_agreement" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select((col("n_chars") >= 300).cast("int").as("a"),
          (size(filter(split(col("text"), " "), t => t =!= "")) >= 55).cast("int").as("b"))
        .agg(count(lit(1)).as("n"),
          sum(expr("a * b")).as("n11"),
          sum(expr("a * (1 - b)")).as("n10"),
          sum(expr("(1 - a) * b")).as("n01"),
          sum(expr("(1 - a) * (1 - b)")).as("n00"))
        .withColumn("po", expr("(n11 + n00) / cast(n as double)"))
        .withColumn("pe", expr(
          "(cast(n11 + n10 as double) * (n11 + n01) + cast(n01 + n00 as double) * (n10 + n00)) / " +
            "(cast(n as double) * n)"))
        .select(col("n"), col("n11"), col("n10"), col("n01"), col("n00"),
          round(col("po"), 6).as("po"),
          round(col("pe"), 6).as("pe"),
          round(expr("(po - pe) / (1.0 - pe)"), 6).as("kappa"),
          round(expr(
            "(cast(n11 as double) * n00 - cast(n10 as double) * n01) / " +
              "sqrt(cast(n11 + n10 as double) * (n01 + n00) * (n11 + n01) * (n10 + n00))"), 6).as("mcc"))
    }),

    // ------------------------------------------------------------------
    // Decile lift & cumulative gains of `value` as a purchase score:
    // exact decile boundaries + global totals in ONE 1-row aggregate
    // broadcast back (q115's shape), per-row decile via the
    // size(filter(...)) HOF, contraction to ≤10 cells, then the
    // cumulative-capture window runs on those 10 rows only
    // (allowlisted bounded). Rates/lift are double ratios of exact
    // integer counts.
    "q200_decile_lift" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("value"), (col("event_type") === "purchase").cast("long").as("pos"))
      // boundaries 6dp-rounded on BOTH engines before the `value > b`
      // compare: full-double interpolated percentile parity is
      // engine-sensitive (the q162/q168 convention), and a 1-ULP
      // boundary difference would shift a straddling row's bin
      val bs = ev.agg(
        expr("transform(percentile(value, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9)), b -> round(b, 6))").as("bs"),
        count(lit(1)).as("n_tot"), sum(col("pos")).as("pos_tot"))
      ev.crossJoin(broadcast(bs))
        .withColumn("decile", expr("size(filter(bs, b -> value > b)) + 1"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"),
          max(col("n_tot")).as("n_tot"), max(col("pos_tot")).as("pos_tot"))
        .withColumn("cum_pos",
          sum(col("n_pos")).over(Window.orderBy(col("decile").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("decile").cast("int").as("decile"), col("n"), col("n_pos"),
          round(expr("n_pos / cast(n as double)"), 6).as("rate"),
          round(expr("(n_pos / cast(n as double)) / (pos_tot / cast(n_tot as double))"), 6).as("lift"),
          round(expr("cum_pos / cast(pos_tot as double)"), 6).as("cum_capture"))
        .orderBy(col("decile").desc)
    }),

    // ------------------------------------------------------------------
    // Calibration readout: normalize the score to p = value/max(value),
    // 10 fixed-width reliability bins, per-bin confidence (mean p, via
    // a DECIMAL(28,12)-quantized sum so partial-agg merge order can
    // never move a ULP) vs empirical accuracy, and the expected
    // calibration error ECE = Σ (n_b/N)·|acc_b − conf_b| with the ≤10
    // per-bin terms DECIMAL-quantized before the final sum. The fact
    // table is scanned once; both small aggregates broadcast.
    "q201_calibration" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("value"), (col("event_type") === "purchase").cast("long").as("pos"))
      val mx = ev.agg(max(col("value")).as("vmax"), count(lit(1)).as("n_tot"))
      val bins = ev.crossJoin(broadcast(mx))
        .withColumn("p", col("value") / col("vmax"))
        .withColumn("bin", least(floor(col("p") * 10), lit(9)).cast("int"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("n_pos"),
          sum(expr("cast(p as decimal(28,12))")).as("sump"),
          max(col("n_tot")).as("n_tot"))
        .withColumn("conf", expr("cast(sump as double) / n"))
        .withColumn("acc", expr("n_pos / cast(n as double)"))
        .localCheckpoint() // consumed twice: per-bin rows + ECE aggregate
      val ece = bins
        .agg(sum(expr("cast(n / cast(n_tot as double) * abs(acc - conf) as decimal(28,12))")).as("ece_x"))
      bins.crossJoin(broadcast(ece))
        .select(col("bin"), col("n"), col("n_pos"),
          round(col("conf"), 6).as("conf"),
          round(col("acc"), 6).as("acc"),
          round(col("ece_x").cast("double"), 6).as("ece"))
        .orderBy(col("bin"))
    }),

    // ------------------------------------------------------------------
    // Revenue concentration (the Lorenz/Pareto readout next to q135's
    // Gini scalar): per-customer revenue contraction (exact
    // DECIMAL(18,2) sums), exact decile boundaries over the customer
    // frame broadcast back, per-decile revenue share and the
    // cumulative share from the top decile down — "the top 20% of
    // customers hold X% of revenue" is the cum row at decile 9. The
    // only window is the 10-row cumulative frame (allowlisted).
    "q202_pareto_revenue" -> ((s, dir) => {
      val cust = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
        .localCheckpoint() // consumed twice: boundary agg + binning scan
      // boundaries 6dp-rounded on both engines pre-compare (q200's note)
      val bs = cust.agg(
        expr("transform(percentile(cast(rev as double), array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9)), b -> round(b, 6))").as("bs"),
        sum(col("rev")).as("tot"), count(lit(1)).as("n_cust"))
      cust.crossJoin(broadcast(bs))
        .withColumn("decile", expr("size(filter(bs, b -> cast(rev as double) > b)) + 1"))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_cust"), sum(col("rev")).as("rev_sum"),
          max(col("tot")).as("tot"))
        .withColumn("cum_rev",
          sum(col("rev_sum")).over(Window.orderBy(col("decile").desc)
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .select(col("decile").cast("int").as("decile"), col("n_cust"),
          round(col("rev_sum").cast("double"), 2).as("revenue"),
          round(expr("cast(rev_sum as double) / cast(tot as double)"), 6).as("share"),
          round(expr("cast(cum_rev as double) / cast(tot as double)"), 6).as("cum_share_from_top"))
        .orderBy(col("decile").desc)
    }),

    // ------------------------------------------------------------------
    // Lexical diversity per source: type-token ratio and hapax-legomenon
    // share — the corpus-health metrics a curation pipeline tracks per
    // domain. Two partial-agg shuffles total: corpus → (source, token,
    // count) cells, cells → per-source (types, tokens, hapax); ratios
    // are double over exact integers.
    "q203_lexical_stats" -> ((s, dir) => {
      Tables.documents(s, dir)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .filter(col("tok") =!= "")
        .groupBy(col("source"), col("tok"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("types"), sum(col("c")).as("tokens"),
          sum(when(col("c") === 1, 1L).otherwise(0L)).as("hapax"))
        .select(col("source"), col("types"), col("tokens"), col("hapax"),
          round(expr("types / cast(tokens as double)"), 6).as("ttr"),
          round(expr("hapax / cast(types as double)"), 6).as("hapax_share"))
        .orderBy(col("source"))
    }),

    // ------------------------------------------------------------------
    // Population Stability Index between the first half of the month
    // (reference period, days 1-15) and the second (current): decile
    // bins fitted on the REFERENCE distribution only (the standard PSI
    // protocol), smoothed shares (+0.5/+5 Laplace — identical constants
    // both engines, so a bin empty in one period never divides by
    // zero), per-bin (p1−p2)·ln(p1/p2) terms DECIMAL-quantized before
    // the ≤10-cell sum. One fact scan + two broadcast 1-row aggs.
    "q204_psi_drift" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("value").as("v"),
          (dayofmonth(col("ts").cast("date")) <= 15).cast("long").as("isa"))
      // boundaries 6dp-rounded on both engines pre-compare (q200's note)
      val bs = ev.filter(col("isa") === 1)
        .agg(expr("transform(percentile(v, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9)), b -> round(b, 6))").as("bs"))
      val counts = ev.crossJoin(broadcast(bs))
        .withColumn("bin", expr("size(filter(bs, b -> v > b)) + 1"))
        .groupBy(col("bin"))
        .agg(sum(col("isa")).as("c1"), sum(expr("1 - isa")).as("c2"))
        .localCheckpoint() // consumed twice: totals agg + per-bin terms
      val tot = counts.agg(sum(col("c1")).as("n1"), sum(col("c2")).as("n2"))
      val terms = counts.crossJoin(broadcast(tot))
        // double literals (0.5d): decimal division's result scale is
        // engine-specific; double division is bit-identical across both
        .withColumn("p1", expr("(c1 + 0.5d) / (n1 + 5.0d)"))
        .withColumn("p2", expr("(c2 + 0.5d) / (n2 + 5.0d)"))
        .withColumn("term", expr("cast((p1 - p2) * ln(p1 / p2) as decimal(28,12))"))
        .localCheckpoint() // consumed twice: per-bin rows + PSI sum
      val psi = terms.agg(sum(col("term")).as("psi_x"))
      terms.crossJoin(broadcast(psi))
        .select(col("bin").cast("int").as("bin"), col("c1"), col("c2"),
          round(col("p1"), 6).as("p_ref"),
          round(col("p2"), 6).as("p_cur"),
          round(col("term").cast("double"), 6).as("psi_term"),
          round(col("psi_x").cast("double"), 6).as("psi"))
        .orderBy(col("bin"))
    }),
    // ------------------------------------------------------------------
    // Held-out regression evaluation — the train/test protocol around
    // q97's in-sample fit: OLS slope/intercept from exact-DECIMAL
    // sufficient statistics over the md5-deterministic TRAIN half of
    // lineitem, then RMSE/MAE/R² on the disjoint TEST half with the
    // 1-row coefficient frame broadcast back. Residual powers are
    // DECIMAL(38,6)-quantized before the distributed sums; SST comes
    // closed-form from exact Σy/Σy² so R² is merge-order-proof.
    "q205_regression_eval" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"),
          (expr(md5mod("concat(cast(l_orderkey as string), '|', cast(l_linenumber as string))", 2)) === 0)
            .cast("int").as("tr"))
      val coef = olsCoef(li.filter(col("tr") === 1))
      li.filter(col("tr") === 0).crossJoin(broadcast(coef))
        .withColumn("r", expr("y - (icept + slope * x)"))
        .groupBy(col("n_train"), col("slope"), col("icept"))
        .agg(count(lit(1)).as("n_test"),
          sum(expr("cast(r * r as decimal(38,6))")).as("sse"),
          sum(expr("cast(abs(r) as decimal(38,6))")).as("sae"),
          sum(col("y").cast("decimal(18,2)")).as("ty"),
          sum(expr("cast(cast(y as decimal(18,2)) * cast(y as decimal(18,2)) as decimal(38,4))")).as("tyy"))
        .withColumn("sst", expr("cast(tyy as double) - cast(ty as double) * cast(ty as double) / n_test"))
        .select(col("n_train"), col("n_test"),
          round(col("slope"), 6).as("slope"),
          round(col("icept"), 6).as("icept"),
          round(expr("sqrt(cast(sse as double) / n_test)"), 6).as("rmse"),
          round(expr("cast(sae as double) / n_test"), 6).as("mae"),
          round(expr("1.0 - cast(sse as double) / sst"), 6).as("r2"))
    }),

    // ------------------------------------------------------------------
    // Paired sign-flip permutation test for the daily view-vs-click
    // mean gap — the distribution-free significance readout that stays
    // scale-safe: the fact table contracts to ≤#days paired daily
    // cells (exact DECIMAL sums/counts), and the B=200 permutations
    // are md5-deterministic sign flips over that BOUNDED frame (q99's
    // grid idiom — never rand()), so the permutation grid is B×#days,
    // not B×N. Per-permutation means are DECIMAL-quantized pre-sum;
    // p = (1 + #{|T_b| ≥ |T_obs|}) / (B + 1).
    "q206_sign_flip" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .filter(col("event_type").isin("view", "click") && col("value").isNotNull)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(sum(when(col("event_type") === "view", col("value").cast("decimal(18,2)"))).as("s1"),
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("c1"),
          sum(when(col("event_type") === "click", col("value").cast("decimal(18,2)"))).as("s2"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("c2"))
        // a day missing either group has no pair — drop it BEFORE the
        // ratio (ANSI mode turns the 0-count division into an error)
        .filter(col("c1") > 0 && col("c2") > 0)
        .withColumn("d", expr("cast(s1 as double) / c1 - cast(s2 as double) / c2"))
        .localCheckpoint() // consumed twice: observed stat + flip grid
      val obs = daily.agg(count(lit(1)).as("n_days"),
        (sum(expr("cast(d as decimal(28,12))")).cast("double") / count(lit(1))).as("t_obs"))
      val flips = daily.select(col("day"), col("d"),
          explode(expr("sequence(1, 200)")).as("b"))
        .withColumn("sign", expr(
          s"case when ${md5mod("concat('sf|', cast(b as string), '|', cast(day as string))", 2)} = 0 then -1.0 else 1.0 end"))
        .groupBy(col("b"))
        .agg((sum(expr("cast(sign * d as decimal(28,12))")).cast("double") / count(lit(1))).as("t_b"))
      flips.crossJoin(broadcast(obs))
        .agg(max(col("n_days")).as("n_days"), max(col("t_obs")).as("t_obs_x"),
          sum(when(expr("abs(t_b) >= abs(t_obs)"), 1L).otherwise(0L)).as("n_ge"))
        .select(col("n_days"), round(col("t_obs_x"), 6).as("t_obs"), col("n_ge"),
          // 1.0d: plain 1.0 parses as DECIMAL and would make the whole
          // ratio decimal-typed (schema drift vs the double oracle)
          round(expr("(1.0d + n_ge) / 201.0d"), 6).as("p_value"))
    }),

    // ------------------------------------------------------------------
    // Standardized effect size for the view-vs-click value gap: Cohen's
    // d (pooled SD), the small-sample Hedges' g correction
    // J = 1 − 3/(4(n1+n2)−9), and the d ± 1.96·SE normal CI. Everything
    // derives from per-group exact-DECIMAL (n, Σx, Σx²) — the mergeable
    // sufficient statistics (q116's recipe) — so the one fact-table
    // pass is merge-order-proof and the composites are closed-form
    // double with identical expressions on both engines.
    "q207_effect_size" -> ((s, dir) => {
      Tables.events(s, dir)
        .filter(col("event_type").isin("view", "click") && col("value").isNotNull)
        .agg(
          sum(when(col("event_type") === "view", 1L).otherwise(0L)).as("n1"),
          sum(when(col("event_type") === "view", col("value").cast("decimal(18,2)"))).as("s1"),
          sum(when(col("event_type") === "view",
            expr("cast(cast(value as decimal(18,2)) * cast(value as decimal(18,2)) as decimal(38,4))"))).as("q1"),
          sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n2"),
          sum(when(col("event_type") === "click", col("value").cast("decimal(18,2)"))).as("s2"),
          sum(when(col("event_type") === "click",
            expr("cast(cast(value as decimal(18,2)) * cast(value as decimal(18,2)) as decimal(38,4))"))).as("q2"))
        .withColumn("v1", expr("(cast(q1 as double) - cast(s1 as double) * cast(s1 as double) / n1) / (n1 - 1)"))
        .withColumn("v2", expr("(cast(q2 as double) - cast(s2 as double) * cast(s2 as double) / n2) / (n2 - 1)"))
        .withColumn("sp", expr("sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2))"))
        .withColumn("d", expr("(cast(s1 as double) / n1 - cast(s2 as double) / n2) / sp"))
        .withColumn("se", expr("sqrt((n1 + n2) / (cast(n1 as double) * n2) + d * d / (2.0 * (n1 + n2)))"))
        .select(col("n1"), col("n2"),
          round(col("d"), 6).as("cohens_d"),
          round(expr("(1.0d - 3.0d / (4.0d * (n1 + n2) - 9.0d)) * d"), 6).as("hedges_g"),
          round(expr("d - 1.96 * se"), 6).as("ci_lo"),
          round(expr("d + 1.96 * se"), 6).as("ci_hi"))
    }),

    // ------------------------------------------------------------------
    // Count-min sketch accuracy readout (d=4 rows × w=1024 columns,
    // md5 hashes): the sketch cells build from the CONTRACTED
    // (token, count) frame — vocab-sized, one extra shuffle of 4
    // cells per distinct token — and the point estimate for the 15
    // true heaviest tokens (TakeOrdered, broadcast) is min over the 4
    // row cells. CM cells are pure partial-agg sums, i.e. MERGEABLE —
    // the 100 TB path is per-partition sketches merged cell-wise, and
    // this query reports the overcount the merge would actually incur.
    // Cross-engine-gated via the CM guarantee: the estimates can't
    // hash-match another engine's sketch, but "est ≥ truth AND
    // overcount ≤ 4N/w + 1" is a bool both engines agree on — the
    // oracle recomputes the exact top-15 and pins cm_ok TRUE; the row
    // matches iff the sketch bound actually held. EvaluationSpec still
    // asserts est ≥ truth and the ε-bound on countMinRaw.
    "q208_countmin" -> ((s, dir) =>
      countMinRaw(s, dir)
        .select(col("tok"), col("true_c"),
          (col("est_c") >= col("true_c") &&
            (col("est_c") - col("true_c")).cast("double") <=
              lit(4.0) * col("n_tot") / lit(1024.0) + lit(1.0)).as("cm_ok"))
        .orderBy(col("true_c").desc, col("tok"))),

    // ------------------------------------------------------------------
    // Partial autocorrelation (lags 1–3) of the daily value series via
    // the Durbin–Levinson closed form over the lag-k autocorrelations:
    // φ11 = r1, φ22 = (r2 − r1²)/(1 − r1²),
    // φ33 = (r3 − φ21·r2 − φ22·r1)/(1 − φ21·r1 − φ22·r2) with
    // φ21 = r1(1 − φ22). The ACF rides q23's machinery — lag windows
    // over the ≤#days daily contraction (allowlisted bounded), corr()
    // on both engines — and the recursion is pure scalar arithmetic.
    "q209_pacf" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(date_trunc("day", col("ts")).as("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).cast("double").as("v"))
      val w = Window.orderBy(col("day"))
      daily
        .withColumn("v1", lag(col("v"), 1).over(w))
        .withColumn("v2", lag(col("v"), 2).over(w))
        .withColumn("v3", lag(col("v"), 3).over(w))
        .agg(corr(col("v"), col("v1")).as("r1"),
          corr(col("v"), col("v2")).as("r2"),
          corr(col("v"), col("v3")).as("r3"))
        .withColumn("p2", expr("(r2 - r1 * r1) / (1.0 - r1 * r1)"))
        .withColumn("p21", expr("r1 * (1.0 - p2)"))
        .select(round(col("r1"), 6).as("pacf1"),
          round(col("p2"), 6).as("pacf2"),
          round(expr("(r3 - p21 * r2 - p2 * r1) / (1.0 - p21 * r1 - p2 * r2)"), 6).as("pacf3"))
    }),
    // ------------------------------------------------------------------
    // Classifier evaluation of q51's language-ID heuristic against the
    // labeled lang column: per-class precision/recall/F1 from the
    // ≤5×5 confusion contraction (one corpus shuffle — the SAME
    // prediction frame q51 scores, via Extensions.langPred), plus
    // micro accuracy and macro-F1 broadcast onto every row. Zero-count
    // classes short-circuit to 0.0 before any division (ANSI-safe);
    // the ≤5-term macro mean is DECIMAL-quantized pre-sum.
    "q210_classifier_eval" -> ((s, dir) => {
      val conf = Extensions.langPred(s, dir)
        .groupBy(col("lang"), col("pred")).agg(count(lit(1)).as("cnt"))
        .localCheckpoint() // bounded cells; consumed by class + micro branches
      val classes = conf.select(col("lang").as("cls"))
        .union(conf.select(col("pred"))).distinct()
      val per = classes.crossJoin(conf)
        .groupBy(col("cls"))
        .agg(sum(when(col("lang") === col("cls"), col("cnt")).otherwise(0L)).as("n_true"),
          sum(when(col("pred") === col("cls"), col("cnt")).otherwise(0L)).as("n_pred"),
          sum(when(col("lang") === col("cls") && col("pred") === col("cls"), col("cnt")).otherwise(0L)).as("tp"))
        .withColumn("prec", expr("CASE WHEN n_pred = 0 THEN 0.0d ELSE tp / cast(n_pred as double) END"))
        .withColumn("rec", expr("CASE WHEN n_true = 0 THEN 0.0d ELSE tp / cast(n_true as double) END"))
        .withColumn("f1", expr(
          "CASE WHEN prec + rec = 0.0d THEN 0.0d ELSE 2.0d * prec * rec / (prec + rec) END"))
        .localCheckpoint() // consumed twice: per-class rows + macro agg
      val micro = conf.agg(
        (sum(when(col("lang") === col("pred"), col("cnt")).otherwise(0L)).cast("double") /
          sum(col("cnt"))).as("accuracy"))
      val macroF1 = per.agg(
        (sum(expr("cast(f1 as decimal(28,12))")).cast("double") / count(lit(1))).as("macro_f1"))
      per.crossJoin(broadcast(micro)).crossJoin(broadcast(macroF1))
        .select(col("cls"), col("n_true"), col("n_pred"), col("tp"),
          // "prec": PRECISION is a type keyword in the oracle dialect
          round(col("prec"), 6).as("prec"),
          round(col("rec"), 6).as("recall"),
          round(col("f1"), 6).as("f1"),
          round(col("accuracy"), 6).as("accuracy"),
          round(col("macro_f1"), 6).as("macro_f1"))
        .orderBy(col("cls"))
    }),

    // ------------------------------------------------------------------
    // Sample-ratio-mismatch check — the guardrail an A/B platform runs
    // before trusting q192's readout: events md5-assigned to 10 arms
    // (the same deterministic split idiom), chi-square
    // goodness-of-fit against the uniform expectation with the 10
    // (obs−exp)²/exp terms DECIMAL-quantized pre-sum, flagged at the
    // df=9 α=0.01 critical value. One fact-table partial-agg shuffle.
    "q211_srm_check" -> ((s, dir) => {
      val arms = Tables.events(s, dir)
        .withColumn("arm", expr(md5mod("cast(event_id as string)", 10)))
        .groupBy(col("arm")).agg(count(lit(1)).as("n_obs"))
        .localCheckpoint() // consumed twice: total agg + per-arm terms
      val tot = arms.agg(sum(col("n_obs")).as("n"))
      val terms = arms.crossJoin(broadcast(tot))
        .withColumn("expected", expr("cast(n as double) / 10.0d"))
        .withColumn("term", expr(
          "cast((n_obs - expected) * (n_obs - expected) / expected as decimal(28,12))"))
        .localCheckpoint() // consumed twice: per-arm rows + chi2 sum
      val chi2 = terms.agg(sum(col("term")).as("chi2_x"))
      terms.crossJoin(broadcast(chi2))
        .select(col("arm").cast("int").as("arm"), col("n_obs"),
          round(col("expected"), 6).as("expected"),
          round(col("term").cast("double"), 6).as("chi2_term"),
          round(col("chi2_x").cast("double"), 6).as("chi2"),
          (col("chi2_x").cast("double") > 21.666).as("srm_flag"))
        .orderBy(col("arm"))
    }),

    // ------------------------------------------------------------------
    // Benjamini–Hochberg FDR over a bounded test family: per
    // event_type, Welch z for the first-half vs second-half monthly
    // value gap (exact-DECIMAL sufficient statistics per half), two-
    // sided p from the Zelen–Severo normal-CDF polynomial (identical
    // double literals on both engines), then the BH step-up at
    // α=0.05: rank p ascending, k* = max rank with p ≤ rank·α/m,
    // reject ranks ≤ k*. The rank/cummax windows run on ≤5 post-agg
    // rows (allowlisted bounded).
    "q212_bh_fdr" -> ((s, dir) => {
      val g = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .groupBy(col("event_type"))
        .agg(
          sum(when(dayofmonth(col("ts").cast("date")) <= 15, 1L).otherwise(0L)).as("n1"),
          sum(when(dayofmonth(col("ts").cast("date")) <= 15, col("value").cast("decimal(18,2)"))).as("s1"),
          sum(when(dayofmonth(col("ts").cast("date")) <= 15,
            expr("cast(cast(value as decimal(18,2)) * cast(value as decimal(18,2)) as decimal(38,4))"))).as("q1"),
          sum(when(dayofmonth(col("ts").cast("date")) > 15, 1L).otherwise(0L)).as("n2"),
          sum(when(dayofmonth(col("ts").cast("date")) > 15, col("value").cast("decimal(18,2)"))).as("s2"),
          sum(when(dayofmonth(col("ts").cast("date")) > 15,
            expr("cast(cast(value as decimal(18,2)) * cast(value as decimal(18,2)) as decimal(38,4))"))).as("q2"))
        .withColumn("v1", expr("(cast(q1 as double) - cast(s1 as double) * cast(s1 as double) / n1) / (n1 - 1)"))
        .withColumn("v2", expr("(cast(q2 as double) - cast(s2 as double) * cast(s2 as double) / n2) / (n2 - 1)"))
        .withColumn("z", expr("(cast(s1 as double) / n1 - cast(s2 as double) / n2) / sqrt(v1 / n1 + v2 / n2)"))
        .withColumn("t", expr("1.0d / (1.0d + 0.2316419d * abs(z))"))
        .withColumn("p", expr(
          "2.0d * (0.3989422804014327d * exp(-(z * z) / 2.0d) * " +
            "(0.319381530d * t - 0.356563782d * t * t + 1.781477937d * t * t * t " +
            "- 1.821255978d * t * t * t * t + 1.330274429d * t * t * t * t * t))"))
      val m = Window.orderBy(col("p"), col("event_type"))
      val all = Window.orderBy(col("p"), col("event_type"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      g.withColumn("rank", row_number().over(m))
        .withColumn("m", count(lit(1)).over(all))
        .withColumn("crit", expr("rank * 0.05d / m"))
        .withColumn("k_star", max(when(col("p") <= col("crit"), col("rank")).otherwise(0)).over(all))
        .select(col("event_type"), col("n1"), col("n2"),
          round(col("z"), 6).as("z_stat"),
          round(col("p"), 6).as("p_value"),
          col("rank"), round(col("crit"), 6).as("bh_crit"),
          (col("rank") <= col("k_star")).as("rejected"))
        .orderBy(col("rank"))
    }),
    // ------------------------------------------------------------------
    // Cross-segment quantile calibration map: per-event-type decile
    // boundaries of `value` vs the global deciles, with the per-decile
    // shift — the lookup table a platform uses to align score
    // distributions across segments (the bounded-output artifact of
    // quantile normalization). Two exact-percentile aggregates (one
    // grouped, one global-broadcast), 45-row output, zero windows.
    "q213_quantile_map" -> ((s, dir) => {
      val qarr = "array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9)"
      val grp = Tables.events(s, dir).filter(col("value").isNotNull)
        .groupBy(col("event_type"))
        .agg(expr(s"percentile(value, $qarr)").as("gq"))
        .select(col("event_type"), posexplode(col("gq")).as(Seq("i", "group_q")))
      val glob = Tables.events(s, dir).filter(col("value").isNotNull)
        .agg(expr(s"percentile(value, $qarr)").as("bq"))
        .select(posexplode(col("bq")).as(Seq("i2", "global_q")))
      grp.join(broadcast(glob), col("i") === col("i2"))
        // shift differenced AFTER the 6dp quantile rounding (both
        // engines): subtracting full-double interpolated percentiles
        // first would let a 1-ULP engine difference flip the 6th dp
        .withColumn("gq6", round(col("group_q"), 6))
        .withColumn("bq6", round(col("global_q"), 6))
        .select(col("event_type"),
          round(expr("(i + 1) / 10.0d"), 6).as("q"),
          col("gq6").as("group_q"),
          col("bq6").as("global_q"),
          round(col("gq6") - col("bq6"), 6).as("shift"))
        .orderBy(col("event_type"), col("q"))
    }),

    // ------------------------------------------------------------------
    // Jackknife inference for a NONLINEAR statistic — the coefficient
    // of variation of the daily value totals: each leave-one-day-out
    // replicate is CLOSED-FORM from the broadcast exact-DECIMAL totals
    // (S1, S2, n), so no replicate rescan exists — θ_(i) =
    // sd_{−i}/mean_{−i} per bounded daily cell, then bias-corrected
    // estimate n·θ̂ − (n−1)·θ̄ and SE from the Σθ/Σθ² identity with
    // DECIMAL-quantized replicate sums.
    "q214_jackknife_cv" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .groupBy(col("ts").cast("date").as("day"))
        .agg(sum(col("value").cast("decimal(18,2)")).as("x"))
      val tot = daily.agg(count(lit(1)).as("n"),
        sum(col("x")).as("s1"),
        sum(expr("cast(x * x as decimal(38,4))")).as("s2"))
      daily.crossJoin(broadcast(tot))
        .withColumn("m_i", expr("(cast(s1 as double) - cast(x as double)) / (n - 1)"))
        .withColumn("v_i", expr(
          "(cast(s2 as double) - cast(x as double) * cast(x as double) - (n - 1) * m_i * m_i) / (n - 2)"))
        .withColumn("cv_i", expr("sqrt(v_i) / m_i"))
        .groupBy(col("n"), col("s1"), col("s2"))
        .agg(sum(expr("cast(cv_i as decimal(28,12))")).as("sc"),
          sum(expr("cast(cv_i * cv_i as decimal(28,12))")).as("sc2"))
        .withColumn("m_full", expr("cast(s1 as double) / n"))
        .withColumn("cv_full", expr(
          "sqrt((cast(s2 as double) - n * m_full * m_full) / (n - 1)) / m_full"))
        .withColumn("cv_bar", expr("cast(sc as double) / n"))
        .select(col("n").as("n_days"),
          round(col("cv_full"), 6).as("cv"),
          round(expr("n * cv_full - (n - 1) * cv_bar"), 6).as("cv_bias_corrected"),
          round(expr(
            "sqrt((n - 1.0d) / n * (cast(sc2 as double) - n * cv_bar * cv_bar))"), 6).as("se_jack"))
    }),

    // ------------------------------------------------------------------
    // A/B power analysis: the minimum detectable effect (80% power,
    // two-sided α=0.05) for q192's md5 arm split at the observed base
    // conversion rate — the pre-test readout a platform serves before
    // an experiment launches. One partial-agg pass over exact integer
    // counts; z constants are shared double literals.
    "q215_power_mde" -> ((s, dir) => {
      Tables.events(s, dir)
        .select(col("event_id"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("conv"))
        .withColumn("arm", expr(md5mod("cast(event_id as string)", 2)))
        .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n2"),
          sum(col("conv")).as("c"))
        .withColumn("p", expr("cast(c as double) / (n1 + n2)"))
        .withColumn("se", expr("sqrt(p * (1.0d - p) * (1.0d / n1 + 1.0d / n2))"))
        .select(col("n1"), col("n2"),
          round(col("p"), 6).as("base_rate"),
          round(col("se"), 6).as("se"),
          round(expr("(1.959964d + 0.841621d) * se"), 6).as("mde_abs"),
          // zero observed conversions → relative MDE undefined: double
          // division by zero yields Infinity even under ANSI (only
          // integral/decimal division errors), and an Infinity here
          // would both be wrong and drift the schema vs the oracle's
          // NULL — so short-circuit to NULL explicitly
          round(expr("CASE WHEN p = 0.0d THEN NULL ELSE (1.959964d + 0.841621d) * se / p END"), 6).as("mde_rel"))
    }),

    // ------------------------------------------------------------------
    // n-gram novelty of the validation split vs the train split — the
    // generalization-gap readout a curation pipeline runs after q58's
    // split: share of the val docs' distinct 8-grams absent from the
    // train gram set (a LOW rate means the split leaks near-dups; q75
    // measures the inverse direction against an eval set). q151's
    // md5-hashed gram idiom: only 64-bit hashes shuffle, never text;
    // membership is a left join on the hash with a conditional sum so
    // zero-novelty docs still count. Per-doc ratios DECIMAL-quantized
    // before the corpus mean.
    "q216_ngram_novelty" -> ((s, dir) => {
      // Memoized shared contraction (Text.hashedGrams8) — the same
      // checkpointed (doc_id, h) index q151 reads; the split bucket is
      // a narrow md5 of doc_id re-derived on top (no extra shuffle).
      // Both consumers (train set + val side) read the checkpoint.
      val grams = Text.hashedGrams8(s, dir)
        .withColumn("b", expr(md5mod("cast(doc_id as string)", 10)))
      val trainSet = grams.filter(col("b") < 9).select(col("h")).distinct()
        .withColumn("seen", lit(1))
      grams.filter(col("b") >= 9)
        .join(trainSet, Seq("h"), "left")
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_g"),
          sum(when(col("seen").isNull, 1L).otherwise(0L)).as("n_nov"))
        .agg(count(lit(1)).as("n_val_docs"),
          sum(col("n_g")).as("n_grams"),
          sum(col("n_nov")).as("n_novel"),
          sum(expr("cast(cast(n_nov as double) / n_g as decimal(28,12))")).as("snov"),
          sum(when(expr("cast(n_nov as double) / n_g < 0.5d"), 1L).otherwise(0L)).as("n_suspect"))
        .select(col("n_val_docs"), col("n_grams"), col("n_novel"),
          round(expr("cast(n_novel as double) / n_grams"), 6).as("novelty_rate"),
          round(expr("cast(snov as double) / n_val_docs"), 6).as("mean_doc_novelty"),
          col("n_suspect"))
    }),
    // ------------------------------------------------------------------
    // CUPED variance reduction — the standard A/B pre-period
    // adjustment: per-user pre (days 1-15) and post (16-30) value
    // totals (one user-keyed contraction, exact DECIMAL sums, absent
    // halves coalesced to 0), θ = cov(x,y)/var(x) from the mergeable
    // sufficient statistics, and the achieved variance reduction
    // 1 − var(y − θ(x−x̄))/var(y) = ρ². Zero pre-period variance
    // short-circuits θ to 0 (no adjustment — ANSI division guard).
    "q218_cuped" -> ((s, dir) => {
      Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          coalesce(sum(when(dayofmonth(col("ts").cast("date")) <= 15,
            col("value").cast("decimal(18,2)"))), lit(0).cast("decimal(18,2)")).as("x"),
          coalesce(sum(when(dayofmonth(col("ts").cast("date")) > 15,
            col("value").cast("decimal(18,2)"))), lit(0).cast("decimal(18,2)")).as("y"))
        .agg(count(lit(1)).as("n"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(expr("cast(x * y as decimal(38,4))")).as("sxy"),
          sum(expr("cast(x * x as decimal(38,4))")).as("sxx"),
          sum(expr("cast(y * y as decimal(38,4))")).as("syy"))
        .withColumn("dx", expr("n * cast(sxx as double) - cast(sx as double) * cast(sx as double)"))
        .withColumn("cv", expr("n * cast(sxy as double) - cast(sx as double) * cast(sy as double)"))
        .withColumn("theta", expr("CASE WHEN dx = 0.0d THEN 0.0d ELSE cv / dx END"))
        .withColumn("var_y", expr(
          "(cast(syy as double) - cast(sy as double) * cast(sy as double) / n) / (n - 1)"))
        .withColumn("var_adj", expr("var_y - theta * cv / (cast(n as double) * (n - 1))"))
        .select(col("n").as("n_users"),
          round(col("theta"), 6).as("theta"),
          round(expr("cast(sy as double) / n"), 6).as("mean_post"),
          round(col("var_y"), 6).as("var_post"),
          round(col("var_adj"), 6).as("var_cuped"),
          round(expr("CASE WHEN var_y = 0.0d THEN 0.0d ELSE 1.0d - var_adj / var_y END"), 6).as("var_reduction"))
    }),
    // ------------------------------------------------------------------
    // Split-conformal prediction intervals (α=0.1) around the OLS fit:
    // md5 three-way split (train/calibration/test), exact-DECIMAL
    // coefficients from the train part, and the conformal radius
    // q̂ = the ⌈(n_cal+1)·0.9⌉-th smallest calibration |residual| —
    // an EXACT order statistic computed scale-safely: residuals round
    // to 6dp (tie-grouping grid, identical on both engines), contract
    // to per-distinct-value counts, and [[Science.cumCounts]]' range-
    // partitioned prefix sums find the smallest value whose cumulative
    // count reaches k. No global sort, no data-sized limit. The test
    // part then reports the empirical coverage, ≈ 0.9 by the conformal
    // guarantee.
    "q219_conformal" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
        .select(col("l_quantity").as("x"), col("l_extendedprice").as("y"),
          expr(md5mod("concat(cast(l_orderkey as string), '|', cast(l_linenumber as string))", 3)).as("part"))
      // The OLS coefficients are ONE aggregate row — collected and
      // inlined as LITERALS (a bounded driver read, an aggregate result,
      // never data): left as a broadcast subtree they were RE-COMPUTED
      // per consumer while cumCounts was an eager RDD boundary (it
      // blocked ReuseExchange), and every recompute is a full
      // md5-hashing scan of the fact.
      val cr = olsCoef(li.filter(col("part") === 0)).collect()(0)
      def d(i: Int) = if (cr.isNullAt(i)) lit(null).cast("double") else lit(cr.getDouble(i))
      val slopeL = d(1)
      val iceptL = d(2)
      val nTrainL = lit(cr.getLong(0))
      // ONE contraction feeds BOTH branches: per-residual-value counts
      // split into the two md5 parts as [[Science.cumCounts]]' two
      // CHANNELS. The calibration order statistic reads channel 1's
      // prefix sums; the test coverage is channel 2's prefix sum AT q̂
      // (cum2 is nondecreasing in v, so min(cum2) over rows with
      // cum1 ≥ k IS cum2 at q̂; q̂ itself is unchanged — a test-only
      // value below the k-th calibration value cannot reach cum1 = k).
      // One pruned scan, one cell-frame shuffle, no fact-sized
      // materialization and no re-scan: a per-branch filter here would
      // push THROUGH the aggregate into the scan, split the subtrees,
      // defeat ReuseExchange, and hash-scan lineitem (md5 per row)
      // once per branch — the measured 1.8x of round 12's shape.
      val rc = li.filter(col("part") =!= 0)
        .withColumn("r", round(abs(col("y") - (iceptL + slopeL * col("x"))), 6))
        .groupBy(col("r"))
        .agg(sum(when(col("part") === 1, 1L).otherwise(0L)).as("c1"),
          sum(when(col("part") === 2, 1L).otherwise(0L)).as("c2"))
      val cc = Science.cumCounts(s,
        rc.select(col("r").as("v"), col("c1"), col("c2")))
      // conditional min so q̂ is NULL (not 0) when no value reaches k;
      // EVERY output except n_test gates on n_test0 > 0 for NULL-parity
      // with the oracle's grand aggregate over the test partition: an
      // empty test part zeroes that aggregate's input, so qhat/n_cal/
      // interval_width (computable from calibration alone here) must
      // still surface as NULL exactly like n_train and coverage do
      cc.agg(
          min(when(col("cum1") >= expr("ceil((n1 + 1) * 0.9d)"), col("v"))).as("qhat_x"),
          max(when(col("n1") > 0, col("n1"))).as("n_cal"),
          max(col("n2")).as("n_test0"),
          min(when(col("cum1") >= expr("ceil((n1 + 1) * 0.9d)"), col("cum2"))).as("n_covered"))
        .select(
          when(col("n_test0") > 0, nTrainL).as("n_train"),
          when(col("n_test0") > 0, col("n_cal")).as("n_cal"),
          coalesce(col("n_test0"), lit(0L)).as("n_test"),
          round(when(col("n_test0") > 0, col("qhat_x")), 6).as("qhat"),
          round(expr("CASE WHEN qhat_x IS NULL OR n_test0 = 0 THEN NULL "
            + "ELSE n_covered / cast(n_test0 as double) END"), 6).as("coverage"),
          round(when(col("n_test0") > 0, expr("2.0d * qhat_x")), 6).as("interval_width"))
    }),

    // ------------------------------------------------------------------
    // Ranking evaluation (nDCG@10 / MRR / MAP@10): each user's events
    // ordered by score (`value` desc, event_id tiebreak) form a ranked
    // list with purchases as the relevant items — the retrieval-eval
    // readout a recommender/search pipeline runs per experiment. The
    // only window is PARTITIONED BY user (never global); position
    // terms are ln-expressed (log2 = ln2/ln(r+1) — ln is the proven
    // cross-engine-parity transcendental here) and DECIMAL-quantized
    // before the per-user sums; the ideal DCG is a ≤10-term in-row HOF
    // over sequence(1, min(R,10)); per-user metrics quantize again
    // before the cross-user mean so merge order cannot move a ULP.
    "q224_ranking_eval" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("value").desc, col("event_id"))
      val ranked = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("user_id"), col("event_id"), col("value"),
          when(col("event_type") === "purchase", 1L).otherwise(0L).as("rel"))
        .withColumn("r", row_number().over(w))
        .withColumn("crel", sum(col("rel")).over(w))
        .withColumn("dcg_t", expr(
          "cast(CASE WHEN r <= 10 THEN rel * ln(2.0d) / ln(r + 1.0d) ELSE 0.0d END as decimal(28,12))"))
        .withColumn("ap_t", expr(
          "cast(CASE WHEN r <= 10 AND rel = 1 THEN crel / cast(r as double) ELSE 0.0d END as decimal(28,12))"))
      val perUser = ranked.groupBy(col("user_id"))
        .agg(sum(col("rel")).as("nrel"), sum(col("dcg_t")).as("dcg"),
          sum(col("ap_t")).as("apsum"),
          min(when(col("rel") === 1, col("r"))).as("fr"))
        .filter(col("nrel") > 0)
        .withColumn("idcg", expr(
          "aggregate(sequence(1L, least(nrel, 10L)), 0.0d, (acc, i) -> acc + ln(2.0d) / ln(i + 1.0d))"))
        .select(
          expr("cast(cast(dcg as double) / idcg as decimal(28,12))").as("ndcg"),
          expr("cast(1.0d / fr as decimal(28,12))").as("rr"),
          expr("cast(cast(apsum as double) / least(nrel, 10L) as decimal(28,12))").as("ap"))
      perUser
        .agg(count(lit(1)).as("n_users"), sum(col("ndcg")).as("sn"),
          sum(col("rr")).as("sr"), sum(col("ap")).as("sa"))
        .select(col("n_users"),
          round(expr("cast(sn as double) / n_users"), 6).as("ndcg10"),
          round(expr("cast(sr as double) / n_users"), 6).as("mrr"),
          round(expr("cast(sa as double) / n_users"), 6).as("map10"))
    }),

    // ------------------------------------------------------------------
    // Sequential A/B monitoring path: the day-by-day cumulative
    // two-proportion z between md5 user arms (purchase events /
    // events), with TWO stopping rules evaluated on every look — the
    // naive fixed 1.96 threshold (the peeking mistake) and an
    // O'Brien–Fleming-style alpha-spending boundary 1.96·√(T/t) that
    // front-loads stringency. The gap between their first-crossing
    // days IS the peeking lesson q211/q215 imply but never show. One
    // fact shuffle to ≤#days daily (arm-pivoted) cells; the cumulative
    // windows run over those bounded cells (allowlisted); all counts
    // exact integers, z closed-form.
    "q263_sequential_ab" -> ((s, dir) => {
      val daily = Tables.events(s, dir)
        .withColumn("arm", expr(md5mod("cast(user_id as string)", 2)))
        .groupBy(col("ts").cast("date").as("day"))
        .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("arm") === 0 && col("event_type") === "purchase", 1L).otherwise(0L)).as("x0"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 1 && col("event_type") === "purchase", 1L).otherwise(0L)).as("x1"))
      val wd = Window.orderBy(col("day")) // bounded: ≤#days cells (allowlisted)
      val cum = wd.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val path = daily
        .withColumn("t", row_number().over(wd))
        .withColumn("cn0", sum(col("n0")).over(cum))
        .withColumn("cx0", sum(col("x0")).over(cum))
        .withColumn("cn1", sum(col("n1")).over(cum))
        .withColumn("cx1", sum(col("x1")).over(cum))
        .withColumn("z", expr(
          "(cast(cx0 as double) / cn0 - cast(cx1 as double) / cn1) / "
            + "sqrt((cast(cx0 + cx1 as double) / (cn0 + cn1)) * (1.0 - cast(cx0 + cx1 as double) / (cn0 + cn1)) "
            + "* (1.0 / cn0 + 1.0 / cn1))"))
        .localCheckpoint() // path rows + both crossing aggs consume it
      val tt = path.agg(max(col("t")).as("bigT"))
      val cross = path.crossJoin(broadcast(tt))
        .agg(min(when(abs(col("z")) >= 1.959964, col("t"))).as("first_naive_t"),
          min(when(expr("abs(z) >= 1.959964 * sqrt(cast(bigT as double) / t)"), col("t"))).as("first_obf_t"))
      path.crossJoin(broadcast(tt)).crossJoin(broadcast(cross))
        .selectExpr("day", "t", "cn0", "cx0", "cn1", "cx1",
          "round(z, 6) AS z_stat",
          "abs(z) >= 1.959964 AS naive_sig",
          "round(1.959964 * sqrt(cast(bigT as double) / t), 6) AS obf_bound",
          "abs(z) >= 1.959964 * sqrt(cast(bigT as double) / t) AS obf_sig",
          "first_naive_t", "first_obf_t")
        .orderBy(col("t"))
    }),

    // ------------------------------------------------------------------
    // Cluster-sampling design effect: how much variance does USER-level
    // randomization cost vs event-level SRS — the experiment-design
    // number that decides whether q263's user arms are adequately
    // powered. One user-keyed contraction to exact DECIMAL (n_u, Σx,
    // Σx²) cells; one-way-ANOVA ICC with the unequal-cluster-size m₀
    // correction; DEFF = 1 + (m₀−1)·ICC. Per-cluster s²/n terms are
    // DECIMAL-quantized pre-sum; everything after the contraction is a
    // 1-row closed form.
    "q276_design_effect" -> ((s, dir) => {
      val per = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("nu"),
          sum(expr("cast(value as decimal(18,2))")).as("su"),
          sum(expr("cast(cast(value as decimal(18,2)) * cast(value as decimal(18,2)) as decimal(38,4))")).as("qu"))
      per.agg(count(lit(1)).as("k"), sum(col("nu")).as("n"),
        sum(col("su")).as("sx"), sum(col("qu")).as("qx"),
        sum(expr("nu * nu")).as("n2"),
        sum(expr("cast((cast(su as double) * cast(su as double)) / nu as decimal(28,12))")).as("sb"))
        .selectExpr("k", "n",
          "cast(sb as double) - (cast(sx as double) * cast(sx as double)) / n AS ssb",
          "cast(qx as double) - cast(sb as double) AS ssw",
          "(n - cast(n2 as double) / n) / (k - 1) AS m0")
        .selectExpr("k", "n", "m0",
          "ssb / (k - 1) AS msb", "ssw / (n - k) AS msw")
        .selectExpr("k", "n", "round(m0, 6) AS m0",
          "round((msb - msw) / (msb + (m0 - 1.0) * msw), 6) AS icc")
        .selectExpr("k AS n_clusters", "n AS n_events", "m0",
          "icc", "round(1.0 + (m0 - 1.0) * icc, 6) AS deff")
    }),

    // ------------------------------------------------------------------
    // Quantile treatment effects: the per-decile gap between the md5
    // user arms' value distributions — the DISTRIBUTIONAL readout
    // behind q192's mean difference (a treatment can move the tails
    // without moving the mean). Both arms' decile arrays come from ONE
    // aggregate (percentile over the arm-masked column ignores the
    // NULLs of the other arm, 6dp-rounded boundaries per the q200
    // convention); the ×9 expansion runs on the 1-row frame.
    "q277_qte" -> ((s, dir) => {
      val qs = (1 to 9).map(i => s"0.${i}d").mkString(",")
      Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .withColumn("arm", expr(md5mod("cast(user_id as string)", 2)))
        .agg(
          expr(s"transform(percentile(CASE WHEN arm = 0 THEN value END, array($qs)), b -> round(b, 6))").as("q0"),
          expr(s"transform(percentile(CASE WHEN arm = 1 THEN value END, array($qs)), b -> round(b, 6))").as("q1"),
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"))
        .select(posexplode(expr("zip_with(q0, q1, (a, b) -> struct(a AS v0, b AS v1))")).as(Seq("i", "p")),
          col("n0"), col("n1"))
        .selectExpr("round(cast(i + 1 as double) / 10.0, 1) AS q", "n0", "n1",
          "p.v0 AS v0", "p.v1 AS v1", "round(p.v1 - p.v0, 6) AS qte")
        .orderBy(col("q"))
    }),

    // ------------------------------------------------------------------
    // Qini uplift curve: the two-arm generalization of q200's one-arm
    // decile lift — does targeting high-activity users first capture
    // more of the treatment effect? Users contract to (score = event
    // count, treated = md5 arm, converted = any purchase); deciles come
    // from broadcast 6dp-rounded percentile boundaries (q200's
    // convention — never a global row_number over users), and the Qini
    // statistic cumulates top-decile-down over the 10 decile cells
    // (allowlisted window): qini(d) = CXt − CXc·CNt/CNc = incremental
    // converts vs a control scaled to treated exposure. nullif guards
    // the empty-control prefix (q266's lesson).
    "q283_uplift_qini" -> ((s, dir) => {
      val users = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("score"),
          max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
        .withColumn("treated", expr(md5mod("cast(user_id as string)", 2)))
        .localCheckpoint() // boundary agg + decile assignment both consume it
      val bs = users.agg(expr(
        "transform(percentile(score, array(0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9)), b -> round(b, 6))").as("bs"))
      val cells = users.crossJoin(broadcast(bs))
        .withColumn("decile", expr("size(filter(bs, b -> score > b)) + 1"))
        .groupBy(col("decile"))
        .agg(sum(when(col("treated") === 1, 1L).otherwise(0L)).as("nt"),
          sum(when(col("treated") === 0, 1L).otherwise(0L)).as("nc"),
          sum(when(col("treated") === 1, col("conv")).otherwise(0L)).as("xt"),
          sum(when(col("treated") === 0, col("conv")).otherwise(0L)).as("xc"))
      val w = Window.orderBy(col("decile").desc) // bounded: 10 decile cells (allowlisted)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cells
        .withColumn("cnt", sum(col("nt")).over(w))
        .withColumn("cnc", sum(col("nc")).over(w))
        .withColumn("cxt", sum(col("xt")).over(w))
        .withColumn("cxc", sum(col("xc")).over(w))
        .select(col("decile").cast("int").as("decile"),
          col("nt"), col("nc"), col("xt"), col("xc"), col("cnt"), col("cnc"),
          round(expr("cxt - (cast(cxc as double) * cnt) / nullif(cnc, 0)"), 6).as("qini"),
          round(expr("cast(cxt as double) / nullif(cnt, 0) - cast(cxc as double) / nullif(cnc, 0)"), 6)
            .as("uplift_gap"))
        .orderBy(col("decile").desc)
    }),

    // ------------------------------------------------------------------
    // Isotonic calibration (weighted PAVA) of q201's reliability curve:
    // the monotone conversion-rate fit over the 10 fixed-width score
    // bins, computed EXACTLY via the minimax closed form
    // iso_i = max_{j≤i} min_{k≥i} rate(j..k) — the pool-adjacent-
    // violators solution without PAVA's sequential pooling loop, so it
    // runs as two bounded aggregations over the ≤55 (j,k) bin-range
    // cells (prefix sums → triangular self-join → per-(i,j) min →
    // per-i max). rate(j..k) = one double division of exact integer
    // range sums — bit-identical both engines; Round8Spec proves the
    // fit against a scalar pooling PAVA.
    "q284_isotonic_calibration" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("value"), (col("event_type") === "purchase").cast("long").as("pos"))
      val mx = ev.agg(max(col("value")).as("vmax"))
      val bins = ev.crossJoin(broadcast(mx))
        .withColumn("bin", expr("least(cast(floor(value / vmax * 10) as int), 9)"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("pos")).as("pos"))
        .localCheckpoint() // prefix frame + final join-back consume it
      // the -1 sentinel row below encodes "empty prefix": it is only
      // sound if every REAL bin id is >= 0 (a corpus with negative
      // `value` would mint negative bins and silently collide with the
      // sentinel in both engines — the oracle could not catch it).
      // Fail loudly instead; bins is checkpointed so this scans ≤10 rows.
      val minBin = bins.agg(min(col("bin"))).head()
      require(minBin.isNullAt(0) || minBin.getInt(0) >= 0,
        s"q284: bin ids must be >= 0 for the -1 sentinel to be distinct; " +
          s"min(bin)=${minBin.get(0)} — corpus has negative `value`")
      val wb = Window.orderBy(col("bin")) // bounded: ≤10 bin cells (allowlisted)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pre = bins
        .withColumn("cn", sum(col("n")).over(wb))
        .withColumn("cpos", sum(col("pos")).over(wb))
        .select(col("bin"), col("cn"), col("cpos"))
        .localCheckpoint() // both sides of the triangular join
      // range rate over bins j..k from prefix sums (j ≤ k): the ≤55-cell
      // triangular frame; the sentinel -1 row supplies the empty prefix
      val zero = s.range(1).select(lit(-1).as("bin"), lit(0L).as("cn"), lit(0L).as("cpos"))
      val prez = pre.unionByName(zero)
      val ranges = prez.select(col("bin").as("jm1"), col("cn").as("cnj"), col("cpos").as("cpj"))
        .join(pre.select(col("bin").as("k"), col("cn").as("cnk"), col("cpos").as("cpk")),
          col("jm1") < col("k"))
        .select((col("jm1") + 1).as("j"), col("k"),
          expr("cast(cpk - cpj as double) / (cnk - cnj)").as("rate"))
      val iso = bins.select(col("bin").as("i"))
        .join(ranges, col("j") <= col("i") && col("k") >= col("i"))
        .groupBy(col("i"), col("j")).agg(min(col("rate")).as("minr"))
        .groupBy(col("i")).agg(max(col("minr")).as("iso"))
      bins.join(iso, col("bin") === col("i"))
        .select(col("bin"), col("n"), col("pos"),
          round(expr("cast(pos as double) / n"), 6).as("raw_rate"),
          round(col("iso"), 6).as("iso_rate"))
        .orderBy(col("bin"))
    }),

    // ------------------------------------------------------------------
    // Stratified confounding adjustment (direct standardization) — the
    // observational-causal counterpart of q283's randomized Qini:
    // "treatment" here is SELF-SELECTED (user's error-event count above
    // the median — error-prone users are mechanically the more ACTIVE
    // users), the outcome is the user's purchase count, and the
    // confounder is total activity, stratified into score quartiles
    // (broadcast 6dp-rounded percentile boundaries — q200's idiom;
    // day-count and any-purchase strata saturate on this corpus).
    // Standardizing the per-stratum differences to the full population
    // (Σ n_s/N · (ȳ_Ts − ȳ_Cs) over both-arm strata, terms
    // DECIMAL-quantized pre-sum — q201's ECE recipe) removes the
    // measured confounder; the naive-vs-adjusted gap IS the measured
    // confounding. Readout includes the both-arm coverage mass, the
    // honest caveat of any stratified estimate. One user contraction,
    // ≤4 stratum cells, broadcast 1-row frames.
    "q289_stratified_adjust" -> ((s, dir) => {
      val users = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("score"),
          sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("errs"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
        .localCheckpoint() // boundary agg + stratum cells both consume it
      val med = users.agg(expr("round(percentile(errs, 0.5), 6)").as("med"),
        expr("transform(percentile(score, array(0.25, 0.5, 0.75)), b -> round(b, 6))").as("bs"))
      val cells = users.crossJoin(broadcast(med))
        .withColumn("treated", (col("errs") > col("med")).cast("int"))
        .withColumn("stratum", expr("size(filter(bs, b -> score > b)) + 1"))
        .groupBy(col("stratum"))
        .agg(sum(when(col("treated") === 1, 1L).otherwise(0L)).as("nt"),
          sum(when(col("treated") === 0, 1L).otherwise(0L)).as("nc"),
          sum(when(col("treated") === 1, col("conv")).otherwise(0L)).as("xt"),
          sum(when(col("treated") === 0, col("conv")).otherwise(0L)).as("xc"))
      cells.agg(
          sum(col("nt") + col("nc")).as("n_users"),
          sum(col("nt")).as("n_treated"),
          sum(col("xt")).as("sxt"), sum(col("xc")).as("sxc"),
          count(lit(1)).as("n_strata"),
          sum(when(col("nt") > 0 && col("nc") > 0, 1L).otherwise(0L)).as("n_strata_used"),
          sum(when(col("nt") > 0 && col("nc") > 0, col("nt") + col("nc")).otherwise(0L)).as("n_covered"),
          sum(when(col("nt") > 0 && col("nc") > 0, expr(
            "cast((cast(nt + nc as double)) * (cast(xt as double) / nt - cast(xc as double) / nc) "
              + "as decimal(28,12))"))).as("adjx"))
        .selectExpr("n_users", "n_treated", "n_strata", "n_strata_used",
          "round(cast(sxt as double) / n_treated - cast(sxc as double) / (n_users - n_treated), 6) AS naive_diff",
          "round(cast(adjx as double) / n_users, 6) AS adj_diff",
          "round(cast(n_covered as double) / n_users, 6) AS coverage")
    }),

    // ------------------------------------------------------------------
    // Difference-in-differences — the panel-data causal estimator
    // completing the family (q218 CUPED = randomized variance
    // reduction, q289 = cross-sectional confounding adjustment, this =
    // time-varying confounding under parallel trends): cohort = odd
    // user_ids, post = ts ≥ Jan 16; DiD = (T̄post−T̄pre) − (C̄post−C̄pre)
    // cancels both the cohort's level difference and the common time
    // shock. One partial-agg shuffle to the FOUR (treat, post) cells
    // of exact (n, Σx, Σx²) sums; the unequal-variance SE and t pool
    // the four cell variances with DECIMAL-quantized terms.
    "q302_did" -> ((s, dir) => {
      val cells = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select((col("user_id") % 2).cast("int").as("treat"),
          expr("cast(unix_micros(cast(ts as timestamp)) >= 1705363200000000 as int)").as("post"),
          col("value").cast("decimal(18,2)").as("x"))
        .groupBy(col("treat"), col("post"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum((col("x") * col("x")).cast("decimal(28,4)")).as("qx"))
        .withColumn("m", expr("cast(sx as double) / n"))
        .withColumn("v", expr(
          "(cast(qx as double) - cast(sx as double) * cast(sx as double) / n) / (n - 1)"))
      cells.agg(
          sum(col("n")).as("n_total"),
          max(when(col("treat") === 1 && col("post") === 1, col("m"))).as("m_t_post"),
          max(when(col("treat") === 1 && col("post") === 0, col("m"))).as("m_t_pre"),
          max(when(col("treat") === 0 && col("post") === 1, col("m"))).as("m_c_post"),
          max(when(col("treat") === 0 && col("post") === 0, col("m"))).as("m_c_pre"),
          sum(expr("cast(v / n as decimal(28,12))")).as("se2q"))
        .selectExpr("n_total",
          "round(m_t_pre, 6) AS m_t_pre", "round(m_t_post, 6) AS m_t_post",
          "round(m_c_pre, 6) AS m_c_pre", "round(m_c_post, 6) AS m_c_post",
          "round((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 6) AS did",
          "round(sqrt(cast(se2q as double)), 6) AS se",
          "round(((m_t_post - m_t_pre) - (m_c_post - m_c_pre)) / sqrt(cast(se2q as double)), 6) AS t_stat")
    }),

    // ------------------------------------------------------------------
    // Mantel–Haenszel pooled odds ratio + Cochran–Mantel–Haenszel χ²
    // over event_type strata (exposure = odd user_id, outcome =
    // value > 100): the stratified 2×2 pooling that q289's
    // standardization does for means, done for odds — robust to
    // per-stratum base-rate differences, the epidemiology/AB-test
    // workhorse for binary outcomes. One shuffle to |event_type| 2×2
    // integer cell rows; OR_MH = Σ(a·d/n)/Σ(b·c/n) and the
    // continuity-corrected CMH statistic pool with DECIMAL-quantized
    // per-stratum terms so the 5-term sums are order-free.
    "q303_mantel_haenszel" -> ((s, dir) => {
      val cells = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("event_type"),
          (col("user_id") % 2).cast("int").as("e"),
          (col("value") > 100).cast("int").as("y"))
        .groupBy(col("event_type"))
        .agg(sum(expr("cast(e = 1 and y = 1 as int)")).as("a"),
          sum(expr("cast(e = 1 and y = 0 as int)")).as("b"),
          sum(expr("cast(e = 0 and y = 1 as int)")).as("c"),
          sum(expr("cast(e = 0 and y = 0 as int)")).as("d"))
        .withColumn("nn", expr("a + b + c + d"))
      cells.agg(
          count(lit(1)).as("n_strata"),
          sum(expr("cast(cast(a as double) * d / nn as decimal(28,12))")).as("sad"),
          sum(expr("cast(cast(b as double) * c / nn as decimal(28,12))")).as("sbc"),
          sum(col("a")).as("sa"),
          sum(expr("cast(cast(a + b as double) * (a + c) / nn as decimal(28,12))")).as("se1"),
          sum(expr(
            "cast(cast(a + b as double) * (c + d) * (a + c) * (b + d) / (cast(nn as double) * nn * (nn - 1)) as decimal(28,12))")).as("sv"))
        .selectExpr("n_strata",
          "round(cast(sad as double) / cast(sbc as double), 6) AS or_mh",
          ("round(pow(abs(cast(sa as double) - cast(se1 as double)) - 0.5, 2) "
            + "/ cast(sv as double), 6) AS chi2_cmh"),
          ("pow(abs(cast(sa as double) - cast(se1 as double)) - 0.5, 2) "
            + "/ cast(sv as double) > 3.841459 AS reject_5pct"))
    }),

    // ------------------------------------------------------------------
    // McNemar's test — PAIRED binary before/after (q303 pools
    // independent 2×2 strata; this is the within-subject design):
    // each user is their own control, pre/post = any high-value event
    // before/after Jan 16; only the DISCORDANT pairs carry signal
    // (b = converted-then-stopped, c = started-converting), and the
    // continuity-corrected χ² = (|b−c|−1)²/(b+c) on 1 df. One
    // per-user contraction (two conditional maxes in the same pass),
    // then a 1-row integer aggregate — exact everywhere.
    "q308_mcnemar" -> ((s, dir) => {
      val per = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("user_id"),
          expr("unix_micros(cast(ts as timestamp))").as("ts_us"), col("value"))
        .groupBy(col("user_id"))
        .agg(max(expr("cast(ts_us < 1705363200000000 and value > 300 as int)")).as("pre"),
          max(expr("cast(ts_us >= 1705363200000000 and value > 300 as int)")).as("post"))
      per.agg(count(lit(1)).as("n_users"),
          sum(expr("cast(pre = 1 and post = 0 as int)")).as("b"),
          sum(expr("cast(pre = 0 and post = 1 as int)")).as("c"))
        .selectExpr("n_users", "b", "c",
          "round(pow(abs(cast(b as double) - c) - 1.0, 2) / nullif(b + c, 0), 6) AS chi2_mcnemar",
          "pow(abs(cast(b as double) - c) - 1.0, 2) / nullif(b + c, 0) > 3.841459 AS reject_5pct")
    }),

    // ------------------------------------------------------------------
    // Cochran–Armitage trend test — ORDERED 2×k proportions (q101's χ²
    // asks "any association?"; this asks "does the hit rate trend
    // MONOTONICALLY with the dose?", one df instead of k−1, the
    // dose-response workhorse): dose = priority rank 1..5, hit =
    // totalprice > 250k. Z = [Σaᵢsᵢ − A·s̄] / √(p̄(1−p̄)(Σnᵢsᵢ² −
    // N·s̄²)) — every term an exact integer sum over k cells, the
    // statistic a closed-form composite of them.
    "q317_cochran_armitage" -> ((s, dir) => {
      val cells = Tables.orders(s, dir)
        .select(expr("cast(substring(o_orderpriority, 1, 1) as int)").as("dose"),
          expr("cast(cast(o_totalprice as decimal(18,2)) > 250000 as int)").as("hit"))
        .groupBy(col("dose"))
        .agg(count(lit(1)).as("n_i"), sum(col("hit")).as("a_i"))
      cells.agg(sum(col("n_i")).as("nn"), sum(col("a_i")).as("aa"),
          sum(col("n_i") * col("dose")).as("sns"),
          sum(col("n_i") * col("dose") * col("dose")).as("sns2"),
          sum(col("a_i") * col("dose")).as("sas"))
        .selectExpr("nn", "aa",
          "cast(sas as double) - cast(aa as double) * sns / nn AS tnum",
          ("(cast(aa as double) / nn) * (1.0 - cast(aa as double) / nn) "
            + "* (cast(sns2 as double) - cast(sns as double) * sns / nn) AS tvar"))
        .selectExpr("nn AS n", "aa AS n_hit",
          "round(tnum / sqrt(tvar), 6) AS z_trend",
          "round(tnum * tnum / tvar, 6) AS chi2_trend",
          "tnum * tnum / tvar > 3.841459 AS reject_5pct")
    }),

    // ------------------------------------------------------------------
    // Brier score + Murphy decomposition — the proper-scoring-rule
    // readout q201's ECE doesn't give (ECE is |gap|-weighted; the
    // Brier decomposition separates CALIBRATION error from
    // DISCRIMINATION skill): same p = value/vmax forecast and
    // purchase outcome as q201, BS = mean((p−y)²) exact from a
    // DECIMAL-quantized per-row sum; over the 10 q201 bins,
    // reliability = Σnₖ(conf−acc)²/N, resolution = Σnₖ(acc−ȳ)²/N,
    // uncertainty = ȳ(1−ȳ); the residual BS − (REL−RES+UNC) is the
    // within-bin forecast variance, reported (and pinned ≥ 0 in
    // Round9eSpec — binning a continuous forecast loses exactly that
    // variance, a real property, not noise).
    "q318_brier_decomp" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .select(col("value"), (col("event_type") === "purchase").cast("long").as("pos"))
      val mx = ev.agg(max(col("value")).as("vmax"))
      val bins = ev.crossJoin(broadcast(mx))
        .withColumn("p", col("value") / col("vmax"))
        .withColumn("bin", least(floor(col("p") * 10), lit(9)).cast("int"))
        .groupBy(col("bin"))
        .agg(count(lit(1)).as("n_k"), sum(col("pos")).as("a_k"),
          sum(expr("cast(p as decimal(28,12))")).as("sump"),
          sum(expr("cast((p - pos) * (p - pos) as decimal(28,12))")).as("sbr"))
      val tot = bins.agg(sum(col("n_k")).as("nn"), sum(col("a_k")).as("aa"),
        sum(col("sbr")).as("sbrx"))
      bins.crossJoin(broadcast(tot))
        .withColumn("conf", expr("cast(sump as double) / n_k"))
        .withColumn("acc", expr("cast(a_k as double) / n_k"))
        .withColumn("ybar", expr("cast(aa as double) / nn"))
        .agg(max(col("nn")).as("n"),
          max(expr("cast(sbrx as double) / nn")).as("brier_raw"),
          max(expr("(cast(aa as double) / nn) * (1.0 - cast(aa as double) / nn)")).as("unc"),
          sum(expr("cast(n_k * (conf - acc) * (conf - acc) / nn as decimal(28,12))")).as("relx"),
          sum(expr("cast(n_k * (acc - ybar) * (acc - ybar) / nn as decimal(28,12))")).as("resx"))
        .selectExpr("n", "round(brier_raw, 6) AS brier",
          "round(cast(relx as double), 6) AS reliability",
          "round(cast(resx as double), 6) AS resolution",
          "round(unc, 6) AS uncertainty",
          "round(brier_raw - (cast(relx as double) - cast(resx as double) + unc), 6) AS within_bin_var")
    }),

    // ------------------------------------------------------------------
    // Wilson score intervals for per-type conversion rates — the
    // proportion CI that behaves at the boundaries the Wald interval
    // botches (q192 tests a DIFFERENCE of proportions; dashboards need
    // per-cell intervals, and Wald collapses to zero width at p̂∈{0,1}
    // and undercovers at small n): center (p̂ + z²/2n)/(1 + z²/n),
    // half-width z√(p̂(1−p̂)/n + z²/4n²)/(1 + z²/n), z = 1.959964.
    // Closed form off ONE conditional contraction; the Wald interval
    // is emitted beside it and wald_narrower pins the known pathology
    // (Wald is tighter exactly when it undercovers).
    "q353_wilson_ci" -> ((s, dir) => {
      Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(when(col("value") > 100, 1L).otherwise(0L)).as("x"))
        .withColumn("p", expr("cast(x as double) / n"))
        .withColumn("z2", expr("1.959964d * 1.959964d"))
        .withColumn("cen", expr("(p + z2 / (2.0d * n)) / (1.0d + z2 / n)"))
        .withColumn("hw", expr(
          "1.959964d * sqrt(p * (1.0d - p) / n + z2 / (4.0d * cast(n as double) * n)) / (1.0d + z2 / n)"))
        .withColumn("wald_hw", expr("1.959964d * sqrt(p * (1.0d - p) / n)"))
        .select(col("event_type"), col("n"), col("x"),
          round(col("p"), 6).as("p_hat"),
          round(expr("cen - hw"), 6).as("wilson_lo"),
          round(expr("cen + hw"), 6).as("wilson_hi"),
          round(expr("p - wald_hw"), 6).as("wald_lo"),
          round(expr("p + wald_hw"), 6).as("wald_hi"),
          (col("wald_hw") < col("hw")).as("wald_narrower"))
        .orderBy(col("event_type"))
    }),

    // ------------------------------------------------------------------
    // Inverse-propensity-weighted ATE with stratified propensities —
    // the OBSERVATIONAL causal estimator the experiment keys don't
    // need (q289 directly standardizes a stratified diff; q302 DiD
    // uses time; IPW reweights self-selected treatment): treatment =
    // "user's purchase SHARE above the 1/5 type-uniform base rate"
    // (self-selected, confounded by activity; exact integer compare
    // 5·purchases > n — SF-robust where an "ever purchased" flag
    // saturates to all-treated as activity grows), outcome = the
    // user's non-purchase spend, confounder = activity
    // stratum (event-count bucket), p̂_s = within-stratum treated
    // share, Horvitz–Thompson μ̂_t = (1/N')Σ t·y/p̂_s. Strata failing
    // positivity (p̂∈{0,1}) are excluded — the standard guard, counted
    // via n_users − n_used. One per-user contraction + a broadcast
    // ≤5-row stratum-cell join; per-user weighted terms quantize
    // DECIMAL(38,6) pre-sum. ESS shows the weight-variance bill.
    "q344_ipw_ate" -> ((s, dir) => {
      val per = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("nu"),
          when(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)) * 5
            > count(lit(1)), 1).otherwise(0).as("t"),
          coalesce(sum(when(col("event_type") =!= "purchase",
            col("value").cast("decimal(18,2)"))), lit(0).cast("decimal(18,2)")).as("y"))
        .withColumn("stratum", expr("least(cast(nu div 20 as int), 4)"))
        .localCheckpoint() // stratum cells + the weighted pass share it
      val cells = per.groupBy(col("stratum"))
        .agg(count(lit(1)).as("n_s"), sum(col("t")).as("t_s"))
        .withColumn("p", expr("cast(t_s as double) / n_s"))
      val tot = per.agg(count(lit(1)).as("n_users"))
      per.join(broadcast(cells), "stratum")
        .filter(col("t_s") > 0 && col("t_s") < col("n_s"))
        .crossJoin(broadcast(tot))
        .agg(max(col("n_users")).as("n_users"),
          count(lit(1)).as("n_used"),
          sum(col("t")).as("n_treated"),
          sum(when(col("t") === 1, col("y"))).as("sy1"),
          sum(when(col("t") === 0, col("y"))).as("sy0"),
          sum(expr("cast(t * cast(y as double) / p as decimal(38,6))")).as("ht1"),
          sum(expr("cast((1 - t) * cast(y as double) / (1.0d - p) as decimal(38,6))")).as("ht0"),
          sum(expr("cast(t / p as decimal(38,6))")).as("w1"),
          sum(expr("cast(t / (p * p) as decimal(38,6))")).as("w2"))
        .selectExpr("n_users", "n_used", "n_treated",
          ("round(cast(sy1 as double) / n_treated " +
            "- cast(sy0 as double) / (n_used - n_treated), 6) AS naive_diff"),
          "round((cast(ht1 as double) - cast(ht0 as double)) / n_used, 6) AS ipw_ate",
          "round(cast(w1 as double) * cast(w1 as double) / cast(w2 as double), 6) AS ess_treated")
    }),

    // ------------------------------------------------------------------
    // TOST equivalence test (two one-sided Welch z's, margin δ=2.00)
    // — the "are they the SAME?" read every significance key inverts
    // (q192/q212/q337 test difference; failing to reject ≠ equivalence
    // — TOST is the correct procedure: reject BOTH H₀: d ≤ −δ and
    // H₀: d ≥ +δ at α=0.05, equivalently the 90% CI inside ±δ):
    // z_low = (d+δ)/se > 1.644854 AND z_up = (d−δ)/se < −1.644854.
    // q192's md5 event-arm split, exact DECIMAL sufficient statistics
    // in ONE conditional aggregate, closed form after — zero windows.
    "q341_tost_equivalence" -> ((s, dir) => {
      Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .withColumn("arm", expr(md5mod("cast(event_id as string)", 2)))
        .agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
          sum(when(col("arm") === 0, col("value").cast("decimal(18,2)"))).as("s0"),
          sum(when(col("arm") === 0,
            expr("cast(cast(value as decimal(18,2)) * cast(value as decimal(18,2)) as decimal(38,4))"))).as("q0"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
          sum(when(col("arm") === 1, col("value").cast("decimal(18,2)"))).as("s1"),
          sum(when(col("arm") === 1,
            expr("cast(cast(value as decimal(18,2)) * cast(value as decimal(18,2)) as decimal(38,4))"))).as("q1"))
        .withColumn("m0", expr("cast(s0 as double) / n0"))
        .withColumn("m1", expr("cast(s1 as double) / n1"))
        .withColumn("se", expr(
          "sqrt((cast(q0 as double) - cast(s0 as double) * cast(s0 as double) / n0) / (n0 - 1) / n0 " +
            "+ (cast(q1 as double) - cast(s1 as double) * cast(s1 as double) / n1) / (n1 - 1) / n1)"))
        .withColumn("d", expr("m1 - m0"))
        .selectExpr("n0", "n1",
          "round(m0, 6) AS mean_ctrl", "round(m1, 6) AS mean_treat",
          "round(d, 6) AS diff", "round(se, 6) AS se",
          "round((d + 2.0d) / se, 6) AS z_lower",
          "round((d - 2.0d) / se, 6) AS z_upper",
          "round(d - 1.644854d * se, 6) AS ci90_lo",
          "round(d + 1.644854d * se, 6) AS ci90_hi",
          "(d + 2.0d) / se > 1.644854d AND (d - 2.0d) / se < -1.644854d AS equivalent_margin2")
    }),

    // ------------------------------------------------------------------
    // Holm STEP-DOWN multiple-testing correction — the FWER control
    // q212's Benjamini–Hochberg (FDR) deliberately trades away: Holm
    // guarantees P(any false rejection) ≤ α with NO independence
    // assumption (BH bounds the expected false-discovery fraction and
    // wants independence/PRDS). Test family: per event_type, Welch z
    // for the weekend-vs-weekday value gap (exact-DECIMAL sufficient
    // statistics, Zelen–Severo two-sided p — q212's machinery on an
    // orthogonal contrast). Step-down: rank p ascending, crit_i =
    // α/(m−i+1), rejection stops at the FIRST p above its threshold
    // (everything after is accepted even if below its own crit — the
    // sequential-gate semantics that distinguishes Holm from plain
    // Bonferroni). Rank/min windows run on ≤5 post-agg cells
    // (allowlisted bounded).
    "q337_holm_fwer" -> ((s, dir) => {
      val g = Tables.events(s, dir)
        .filter(col("value").isNotNull)
        .groupBy(col("event_type"))
        .agg(
          sum(when(dayofweek(col("ts").cast("date")).isin(1, 7), 1L).otherwise(0L)).as("n1"),
          sum(when(dayofweek(col("ts").cast("date")).isin(1, 7), col("value").cast("decimal(18,2)"))).as("s1"),
          sum(when(dayofweek(col("ts").cast("date")).isin(1, 7),
            expr("cast(cast(value as decimal(18,2)) * cast(value as decimal(18,2)) as decimal(38,4))"))).as("q1"),
          sum(when(!dayofweek(col("ts").cast("date")).isin(1, 7), 1L).otherwise(0L)).as("n2"),
          sum(when(!dayofweek(col("ts").cast("date")).isin(1, 7), col("value").cast("decimal(18,2)"))).as("s2"),
          sum(when(!dayofweek(col("ts").cast("date")).isin(1, 7),
            expr("cast(cast(value as decimal(18,2)) * cast(value as decimal(18,2)) as decimal(38,4))"))).as("q2"))
        .withColumn("v1", expr("(cast(q1 as double) - cast(s1 as double) * cast(s1 as double) / n1) / (n1 - 1)"))
        .withColumn("v2", expr("(cast(q2 as double) - cast(s2 as double) * cast(s2 as double) / n2) / (n2 - 1)"))
        .withColumn("z", expr("(cast(s1 as double) / n1 - cast(s2 as double) / n2) / sqrt(v1 / n1 + v2 / n2)"))
        .withColumn("t", expr("1.0d / (1.0d + 0.2316419d * abs(z))"))
        .withColumn("p", expr(
          "2.0d * (0.3989422804014327d * exp(-(z * z) / 2.0d) * " +
            "(0.319381530d * t - 0.356563782d * t * t + 1.781477937d * t * t * t " +
            "- 1.821255978d * t * t * t * t + 1.330274429d * t * t * t * t * t))"))
      val m = Window.orderBy(col("p"), col("event_type"))
      val all = Window.orderBy(col("p"), col("event_type"))
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      g.withColumn("rank", row_number().over(m))
        .withColumn("m", count(lit(1)).over(all))
        .withColumn("crit", expr("0.05d / (m - rank + 1)"))
        .withColumn("k_stop", min(when(col("p") > col("crit"), col("rank"))).over(all))
        .select(col("event_type"), col("n1").as("n_weekend"), col("n2").as("n_weekday"),
          round(col("z"), 6).as("z_stat"),
          round(col("p"), 6).as("p_value"),
          col("rank"), round(col("crit"), 6).as("holm_crit"),
          (col("rank") < coalesce(col("k_stop"), col("m") + 1)).as("rejected"))
        .orderBy(col("rank"))
    }),

    // ------------------------------------------------------------------
    // Delta-method z-test for a RATIO metric (revenue per event,
    // randomized by user) — the variance correction every real A/B
    // platform needs when the analysis unit (event) differs from the
    // randomization unit (user): naive per-event variance understates
    // SE because events cluster within users. R_a = Σy_u/Σn_u over
    // users; Var(R) ≈ (s_yy − 2R·s_yn + R²·s_nn)/(k·n̄²) (Taylor/delta
    // expansion on the ratio of user-level sums, Deng et al.'s
    // formula). ONE per-user contraction (the only fact shuffle), arm
    // = the q192/q218 md5 split, exact DECIMAL/integer sufficient
    // statistics per arm, closed form after; |z| vs 1.959964.
    "q331_delta_ratio" -> ((s, dir) => {
      val per = Tables.events(s, dir)
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("nu"),
          coalesce(sum(col("value").cast("decimal(18,2)")),
            lit(0).cast("decimal(18,2)")).as("yu"))
        .withColumn("arm", expr(md5mod("cast(user_id as string)", 2)))
      per.agg(
          sum(when(col("arm") === 0, 1L).otherwise(0L)).as("k0"),
          sum(when(col("arm") === 0, col("nu"))).as("sn0"),
          sum(when(col("arm") === 0, col("yu"))).as("sy0"),
          sum(when(col("arm") === 0, expr("nu * nu"))).as("snn0"),
          sum(when(col("arm") === 0, expr("cast(yu * yu as decimal(38,4))"))).as("syy0"),
          sum(when(col("arm") === 0, expr("cast(nu * yu as decimal(38,4))"))).as("sny0"),
          sum(when(col("arm") === 1, 1L).otherwise(0L)).as("k1"),
          sum(when(col("arm") === 1, col("nu"))).as("sn1"),
          sum(when(col("arm") === 1, col("yu"))).as("sy1"),
          sum(when(col("arm") === 1, expr("nu * nu"))).as("snn1"),
          sum(when(col("arm") === 1, expr("cast(yu * yu as decimal(38,4))"))).as("syy1"),
          sum(when(col("arm") === 1, expr("cast(nu * yu as decimal(38,4))"))).as("sny1"))
        .withColumn("r0", expr("cast(sy0 as double) / sn0"))
        .withColumn("r1", expr("cast(sy1 as double) / sn1"))
        .withColumn("v0", expr(
          "((cast(syy0 as double) - cast(sy0 as double) * cast(sy0 as double) / k0) / (k0 - 1) " +
            "- 2.0d * (cast(sy0 as double) / sn0) * ((cast(sny0 as double) - cast(sn0 as double) * cast(sy0 as double) / k0) / (k0 - 1)) " +
            "+ (cast(sy0 as double) / sn0) * (cast(sy0 as double) / sn0) * ((cast(snn0 as double) - cast(sn0 as double) * sn0 / k0) / (k0 - 1))) " +
            "/ (k0 * (cast(sn0 as double) / k0) * (cast(sn0 as double) / k0))"))
        .withColumn("v1", expr(
          "((cast(syy1 as double) - cast(sy1 as double) * cast(sy1 as double) / k1) / (k1 - 1) " +
            "- 2.0d * (cast(sy1 as double) / sn1) * ((cast(sny1 as double) - cast(sn1 as double) * cast(sy1 as double) / k1) / (k1 - 1)) " +
            "+ (cast(sy1 as double) / sn1) * (cast(sy1 as double) / sn1) * ((cast(snn1 as double) - cast(sn1 as double) * sn1 / k1) / (k1 - 1))) " +
            "/ (k1 * (cast(sn1 as double) / k1) * (cast(sn1 as double) / k1))"))
        .selectExpr("k0 AS users_ctrl", "k1 AS users_treat",
          "round(r0, 6) AS ratio_ctrl", "round(r1, 6) AS ratio_treat",
          "round(sqrt(v0 + v1), 6) AS se_delta",
          "round((r1 - r0) / sqrt(v0 + v1), 6) AS z_stat",
          "abs((r1 - r0) / sqrt(v0 + v1)) > 1.959964 AS reject_5pct")
    }),
  )

  /** q208's raw count-min frame (tok, true_c, est_c, overcount, n_tot
    * = total token mass): depth-4 × width-1024 cells as pure
    * partial-agg sums (mergeable — the per-partition-sketch merge is
    * exactly this plan at 100 TB), probed for the exact top-15 tokens.
    * The query surface reduces it to the CM-bound boolean; kept
    * separate so EvaluationSpec can assert est ≥ truth and the ε-bound
    * on the actual estimates. */
  private[graft] def countMinRaw(s: SparkSession, dir: String): DataFrame = {
    val tc = Tables.documents(s, dir)
      .select(explode(expr("filter(split(text, ' '), x -> x <> '')")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("c"))
      .localCheckpoint() // consumed 4×: cells + truth top-k + total
    val tot = tc.agg(sum(col("c")).as("n_tot"))
    val cells = tc.select(explode(expr("sequence(0, 3)")).as("r"), col("tok"), col("c"))
      .withColumn("cm_col", expr(md5mod("concat(cast(r as string), '|', tok)", 1024)))
      .groupBy(col("r"), col("cm_col")).agg(sum(col("c")).as("cell"))
    val top = tc.orderBy(col("c").desc, col("tok")).limit(15)
      .select(explode(expr("sequence(0, 3)")).as("r"), col("tok"), col("c"))
      .withColumn("cm_col", expr(md5mod("concat(cast(r as string), '|', tok)", 1024)))
    top.join(cells, Seq("r", "cm_col"))
      .groupBy(col("tok"))
      .agg(max(col("c")).as("true_c"), min(col("cell")).as("est_c"))
      .crossJoin(broadcast(tot))
      .select(col("tok"), col("true_c"), col("est_c"),
        (col("est_c") - col("true_c")).as("overcount"), col("n_tot"))
      .orderBy(col("true_c").desc, col("tok"))
  }

  def oracles: Map[String, String] = Map(
    "q353_wilson_ci" ->
      ("WITH g AS (SELECT event_type, count(*) AS n, "
        + "CAST(sum(CASE WHEN value > 100 THEN 1 ELSE 0 END) AS BIGINT) AS x "
        + "FROM events WHERE value IS NOT NULL GROUP BY 1), "
        + "f AS (SELECT *, CAST(x AS DOUBLE) / n AS p, 1.959964 * 1.959964 AS z2 FROM g), "
        + "h AS (SELECT *, (p + z2 / (2.0 * n)) / (1.0 + z2 / n) AS cen, "
        + "1.959964 * sqrt(p * (1.0 - p) / n + z2 / (4.0 * CAST(n AS DOUBLE) * n)) / (1.0 + z2 / n) AS hw, "
        + "1.959964 * sqrt(p * (1.0 - p) / n) AS wald_hw FROM f) "
        + "SELECT event_type, CAST(n AS BIGINT) AS n, x, round(p, 6) AS p_hat, "
        + "round(cen - hw, 6) AS wilson_lo, round(cen + hw, 6) AS wilson_hi, "
        + "round(p - wald_hw, 6) AS wald_lo, round(p + wald_hw, 6) AS wald_hi, "
        + "wald_hw < hw AS wald_narrower FROM h ORDER BY event_type"),
    "q344_ipw_ate" ->
      ("WITH per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS nu, "
        + "CASE WHEN sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) * 5 > count(*) THEN 1 ELSE 0 END AS t, "
        + "coalesce(sum(CASE WHEN event_type <> 'purchase' THEN CAST(value AS DECIMAL(18,2)) END), CAST(0 AS DECIMAL(18,2))) AS y "
        + "FROM events GROUP BY user_id), "
        + "ps AS (SELECT *, least(CAST(nu // 20 AS INT), 4) AS stratum FROM per), "
        + "cells AS (SELECT stratum, count(*) AS n_s, CAST(sum(t) AS BIGINT) AS t_s, "
        + "CAST(sum(t) AS DOUBLE) / count(*) AS p FROM ps GROUP BY stratum), "
        + "tot AS (SELECT count(*) AS n_users FROM per), "
        + "f AS (SELECT ps.*, c.p FROM ps JOIN cells c ON c.stratum = ps.stratum WHERE c.t_s > 0 AND c.t_s < c.n_s), "
        + "agg AS (SELECT max(n_users) AS n_users, count(*) AS n_used, CAST(sum(t) AS BIGINT) AS n_treated, "
        + "sum(CASE WHEN t = 1 THEN y END) AS sy1, sum(CASE WHEN t = 0 THEN y END) AS sy0, "
        + "sum(CAST(t * CAST(y AS DOUBLE) / p AS DECIMAL(38,6))) AS ht1, "
        + "sum(CAST((1 - t) * CAST(y AS DOUBLE) / (1.0 - p) AS DECIMAL(38,6))) AS ht0, "
        + "sum(CAST(t / p AS DECIMAL(38,6))) AS w1, sum(CAST(t / (p * p) AS DECIMAL(38,6))) AS w2 "
        + "FROM f CROSS JOIN tot) "
        + "SELECT CAST(n_users AS BIGINT) AS n_users, CAST(n_used AS BIGINT) AS n_used, n_treated, "
        + "round(CAST(sy1 AS DOUBLE) / n_treated - CAST(sy0 AS DOUBLE) / (n_used - n_treated), 6) AS naive_diff, "
        + "round((CAST(ht1 AS DOUBLE) - CAST(ht0 AS DOUBLE)) / n_used, 6) AS ipw_ate, "
        + "round(CAST(w1 AS DOUBLE) * CAST(w1 AS DOUBLE) / CAST(w2 AS DOUBLE), 6) AS ess_treated FROM agg"),
    "q341_tost_equivalence" ->
      ("WITH pa AS (SELECT CAST(value AS DECIMAL(18,2)) AS x, "
        + "CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) % 2 AS arm "
        + "FROM events WHERE value IS NOT NULL), "
        + "agg AS (SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0, "
        + "sum(CASE WHEN arm = 0 THEN x END) AS s0, "
        + "sum(CASE WHEN arm = 0 THEN CAST(x * x AS DECIMAL(38,4)) END) AS q0, "
        + "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1, "
        + "sum(CASE WHEN arm = 1 THEN x END) AS s1, "
        + "sum(CASE WHEN arm = 1 THEN CAST(x * x AS DECIMAL(38,4)) END) AS q1 FROM pa), "
        + "f AS (SELECT n0, n1, CAST(s0 AS DOUBLE) / n0 AS m0, CAST(s1 AS DOUBLE) / n1 AS m1, "
        + "sqrt((CAST(q0 AS DOUBLE) - CAST(s0 AS DOUBLE) * CAST(s0 AS DOUBLE) / n0) / (n0 - 1) / n0 "
        + "+ (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1) / (n1 - 1) / n1) AS se FROM agg), "
        + "g AS (SELECT *, m1 - m0 AS d FROM f) "
        + "SELECT n0, n1, round(m0, 6) AS mean_ctrl, round(m1, 6) AS mean_treat, "
        + "round(d, 6) AS diff, round(se, 6) AS se, "
        + "round((d + 2.0) / se, 6) AS z_lower, round((d - 2.0) / se, 6) AS z_upper, "
        + "round(d - 1.644854 * se, 6) AS ci90_lo, round(d + 1.644854 * se, 6) AS ci90_hi, "
        + "(d + 2.0) / se > 1.644854 AND (d - 2.0) / se < -1.644854 AS equivalent_margin2 FROM g"),
    "q337_holm_fwer" ->
      ("WITH g AS (SELECT event_type, "
        + "CAST(sum(CASE WHEN date_part('dow', CAST(ts AS DATE)) IN (0, 6) THEN 1 ELSE 0 END) AS BIGINT) AS n1, "
        + "sum(CASE WHEN date_part('dow', CAST(ts AS DATE)) IN (0, 6) THEN CAST(value AS DECIMAL(18,2)) END) AS s1, "
        + "sum(CASE WHEN date_part('dow', CAST(ts AS DATE)) IN (0, 6) THEN CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4)) END) AS q1, "
        + "CAST(sum(CASE WHEN date_part('dow', CAST(ts AS DATE)) NOT IN (0, 6) THEN 1 ELSE 0 END) AS BIGINT) AS n2, "
        + "sum(CASE WHEN date_part('dow', CAST(ts AS DATE)) NOT IN (0, 6) THEN CAST(value AS DECIMAL(18,2)) END) AS s2, "
        + "sum(CASE WHEN date_part('dow', CAST(ts AS DATE)) NOT IN (0, 6) THEN CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4)) END) AS q2 "
        + "FROM events WHERE value IS NOT NULL GROUP BY 1), "
        + "v AS (SELECT *, (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1) / (n1 - 1) AS v1, "
        + "(CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n2) / (n2 - 1) AS v2 FROM g), "
        + "zz AS (SELECT *, (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2) / sqrt(v1 / n1 + v2 / n2) AS z FROM v), "
        + "tt AS (SELECT *, CAST(1.0 AS DOUBLE) / (1.0 + 0.2316419 * abs(z)) AS t FROM zz), "
        + "pp AS (SELECT *, 2.0 * (0.3989422804014327 * exp(-(z * z) / 2.0) * "
        + "(0.319381530 * t - 0.356563782 * t * t + 1.781477937 * t * t * t "
        + "- 1.821255978 * t * t * t * t + 1.330274429 * t * t * t * t * t)) AS p FROM tt), "
        + "r AS (SELECT *, row_number() OVER (ORDER BY p, event_type) AS rank, count(*) OVER () AS m FROM pp), "
        + "cr AS (SELECT *, 0.05 / (m - rank + 1) AS crit FROM r), "
        + "k AS (SELECT *, min(CASE WHEN p > crit THEN rank END) OVER () AS k_stop FROM cr) "
        + "SELECT event_type, n1 AS n_weekend, n2 AS n_weekday, round(z, 6) AS z_stat, "
        + "round(p, 6) AS p_value, CAST(rank AS INT) AS rank, round(crit, 6) AS holm_crit, "
        + "rank < coalesce(k_stop, m + 1) AS rejected FROM k ORDER BY rank"),
    "q331_delta_ratio" ->
      ("WITH per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS nu, "
        + "coalesce(sum(CAST(value AS DECIMAL(18,2))), CAST(0 AS DECIMAL(18,2))) AS yu FROM events GROUP BY user_id), "
        + "pa AS (SELECT *, CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 2 AS arm FROM per), "
        + "agg AS (SELECT "
        + "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS k0, "
        + "CAST(sum(CASE WHEN arm = 0 THEN nu END) AS BIGINT) AS sn0, "
        + "sum(CASE WHEN arm = 0 THEN yu END) AS sy0, "
        + "CAST(sum(CASE WHEN arm = 0 THEN nu * nu END) AS BIGINT) AS snn0, "
        + "sum(CASE WHEN arm = 0 THEN CAST(yu * yu AS DECIMAL(38,4)) END) AS syy0, "
        + "sum(CASE WHEN arm = 0 THEN CAST(nu * yu AS DECIMAL(38,4)) END) AS sny0, "
        + "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS k1, "
        + "CAST(sum(CASE WHEN arm = 1 THEN nu END) AS BIGINT) AS sn1, "
        + "sum(CASE WHEN arm = 1 THEN yu END) AS sy1, "
        + "CAST(sum(CASE WHEN arm = 1 THEN nu * nu END) AS BIGINT) AS snn1, "
        + "sum(CASE WHEN arm = 1 THEN CAST(yu * yu AS DECIMAL(38,4)) END) AS syy1, "
        + "sum(CASE WHEN arm = 1 THEN CAST(nu * yu AS DECIMAL(38,4)) END) AS sny1 FROM pa), "
        + "f AS (SELECT k0, k1, CAST(sy0 AS DOUBLE) / sn0 AS r0, CAST(sy1 AS DOUBLE) / sn1 AS r1, "
        + "((CAST(syy0 AS DOUBLE) - CAST(sy0 AS DOUBLE) * CAST(sy0 AS DOUBLE) / k0) / (k0 - 1) "
        + "- 2.0 * (CAST(sy0 AS DOUBLE) / sn0) * ((CAST(sny0 AS DOUBLE) - CAST(sn0 AS DOUBLE) * CAST(sy0 AS DOUBLE) / k0) / (k0 - 1)) "
        + "+ (CAST(sy0 AS DOUBLE) / sn0) * (CAST(sy0 AS DOUBLE) / sn0) * ((CAST(snn0 AS DOUBLE) - CAST(sn0 AS DOUBLE) * sn0 / k0) / (k0 - 1))) "
        + "/ (k0 * (CAST(sn0 AS DOUBLE) / k0) * (CAST(sn0 AS DOUBLE) / k0)) AS v0, "
        + "((CAST(syy1 AS DOUBLE) - CAST(sy1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / k1) / (k1 - 1) "
        + "- 2.0 * (CAST(sy1 AS DOUBLE) / sn1) * ((CAST(sny1 AS DOUBLE) - CAST(sn1 AS DOUBLE) * CAST(sy1 AS DOUBLE) / k1) / (k1 - 1)) "
        + "+ (CAST(sy1 AS DOUBLE) / sn1) * (CAST(sy1 AS DOUBLE) / sn1) * ((CAST(snn1 AS DOUBLE) - CAST(sn1 AS DOUBLE) * sn1 / k1) / (k1 - 1))) "
        + "/ (k1 * (CAST(sn1 AS DOUBLE) / k1) * (CAST(sn1 AS DOUBLE) / k1)) AS v1 FROM agg) "
        + "SELECT k0 AS users_ctrl, k1 AS users_treat, round(r0, 6) AS ratio_ctrl, round(r1, 6) AS ratio_treat, "
        + "round(sqrt(v0 + v1), 6) AS se_delta, round((r1 - r0) / sqrt(v0 + v1), 6) AS z_stat, "
        + "abs((r1 - r0) / sqrt(v0 + v1)) > 1.959964 AS reject_5pct FROM f"),
    "q317_cochran_armitage" ->
      ("WITH cells AS (SELECT CAST(substring(o_orderpriority, 1, 1) AS INT) AS dose, "
        + "count(*) AS n_i, CAST(sum(CAST(CAST(o_totalprice AS DECIMAL(18,2)) > 250000 AS INT)) AS BIGINT) AS a_i "
        + "FROM orders GROUP BY 1), "
        + "agg AS (SELECT CAST(sum(n_i) AS BIGINT) AS nn, CAST(sum(a_i) AS BIGINT) AS aa, "
        + "CAST(sum(n_i * dose) AS BIGINT) AS sns, CAST(sum(n_i * dose * dose) AS BIGINT) AS sns2, "
        + "CAST(sum(a_i * dose) AS BIGINT) AS sas FROM cells), "
        + "st AS (SELECT nn, aa, CAST(sas AS DOUBLE) - CAST(aa AS DOUBLE) * sns / nn AS tnum, "
        + "(CAST(aa AS DOUBLE) / nn) * (1.0 - CAST(aa AS DOUBLE) / nn) * (CAST(sns2 AS DOUBLE) - CAST(sns AS DOUBLE) * sns / nn) AS tvar FROM agg) "
        + "SELECT nn AS n, aa AS n_hit, round(tnum / sqrt(tvar), 6) AS z_trend, "
        + "round(tnum * tnum / tvar, 6) AS chi2_trend, tnum * tnum / tvar > 3.841459 AS reject_5pct FROM st"),
    "q318_brier_decomp" ->
      ("WITH ev AS (SELECT value, CASE WHEN event_type = 'purchase' THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS pos "
        + "FROM events WHERE value IS NOT NULL), "
        + "mx AS (SELECT max(value) AS vmax FROM ev), "
        + "b AS (SELECT least(CAST(floor((value / vmax) * 10) AS BIGINT), 9) AS bin, pos, value / vmax AS p FROM ev CROSS JOIN mx), "
        + "g AS (SELECT bin, count(*) AS n_k, CAST(sum(pos) AS BIGINT) AS a_k, "
        + "sum(CAST(p AS DECIMAL(28,12))) AS sump, sum(CAST((p - pos) * (p - pos) AS DECIMAL(28,12))) AS sbr FROM b GROUP BY bin), "
        + "t AS (SELECT CAST(sum(n_k) AS BIGINT) AS nn, CAST(sum(a_k) AS BIGINT) AS aa, sum(sbr) AS sbrx FROM g), "
        + "c AS (SELECT g.*, t.nn, t.aa, t.sbrx, CAST(sump AS DOUBLE) / n_k AS conf, "
        + "CAST(a_k AS DOUBLE) / n_k AS acc, CAST(aa AS DOUBLE) / nn AS ybar FROM g CROSS JOIN t), "
        + "agg AS (SELECT max(nn) AS n, max(CAST(sbrx AS DOUBLE) / nn) AS brier_raw, "
        + "max((CAST(aa AS DOUBLE) / nn) * (1.0 - CAST(aa AS DOUBLE) / nn)) AS unc, "
        + "CAST(sum(CAST(n_k * (conf - acc) * (conf - acc) / nn AS DECIMAL(28,12))) AS DOUBLE) AS relx, "
        + "CAST(sum(CAST(n_k * (acc - ybar) * (acc - ybar) / nn AS DECIMAL(28,12))) AS DOUBLE) AS resx FROM c) "
        + "SELECT n, round(brier_raw, 6) AS brier, round(relx, 6) AS reliability, "
        + "round(resx, 6) AS resolution, round(unc, 6) AS uncertainty, "
        + "round(brier_raw - (relx - resx + unc), 6) AS within_bin_var FROM agg"),
    "q308_mcnemar" ->
      ("WITH per AS (SELECT user_id, "
        + "max(CAST(epoch_us(ts) < 1705363200000000 AND value > 300 AS INT)) AS pre, "
        + "max(CAST(epoch_us(ts) >= 1705363200000000 AND value > 300 AS INT)) AS post "
        + "FROM events WHERE value IS NOT NULL GROUP BY user_id), "
        + "agg AS (SELECT count(*) AS n_users, "
        + "CAST(sum(CAST(pre = 1 AND post = 0 AS INT)) AS BIGINT) AS b, "
        + "CAST(sum(CAST(pre = 0 AND post = 1 AS INT)) AS BIGINT) AS c FROM per) "
        + "SELECT n_users, b, c, "
        + "round(pow(abs(CAST(b AS DOUBLE) - c) - 1.0, 2) / nullif(b + c, 0), 6) AS chi2_mcnemar, "
        + "pow(abs(CAST(b AS DOUBLE) - c) - 1.0, 2) / nullif(b + c, 0) > 3.841459 AS reject_5pct FROM agg"),
    "q302_did" ->
      ("WITH cells AS (SELECT CAST(user_id % 2 AS INT) AS treat, CAST(epoch_us(ts) >= 1705363200000000 AS INT) AS post, "
        + "count(*) AS n, sum(CAST(value AS DECIMAL(18,2))) AS sx, "
        + "sum(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(28,4))) AS qx "
        + "FROM events WHERE value IS NOT NULL GROUP BY 1, 2), "
        + "m AS (SELECT treat, post, n, CAST(sx AS DOUBLE) / n AS m, "
        + "(CAST(qx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) / n) / (n - 1) AS v FROM cells), "
        + "a AS (SELECT CAST(sum(n) AS BIGINT) AS n_total, "
        + "max(CASE WHEN treat = 1 AND post = 1 THEN m END) AS m_t_post, "
        + "max(CASE WHEN treat = 1 AND post = 0 THEN m END) AS m_t_pre, "
        + "max(CASE WHEN treat = 0 AND post = 1 THEN m END) AS m_c_post, "
        + "max(CASE WHEN treat = 0 AND post = 0 THEN m END) AS m_c_pre, "
        + "CAST(sum(CAST(v / n AS DECIMAL(28,12))) AS DOUBLE) AS se2 FROM m) "
        + "SELECT n_total, round(m_t_pre, 6) AS m_t_pre, round(m_t_post, 6) AS m_t_post, "
        + "round(m_c_pre, 6) AS m_c_pre, round(m_c_post, 6) AS m_c_post, "
        + "round((m_t_post - m_t_pre) - (m_c_post - m_c_pre), 6) AS did, "
        + "round(sqrt(se2), 6) AS se, "
        + "round(((m_t_post - m_t_pre) - (m_c_post - m_c_pre)) / sqrt(se2), 6) AS t_stat FROM a"),
    "q303_mantel_haenszel" ->
      ("WITH cells AS (SELECT event_type, "
        + "CAST(sum(CAST(user_id % 2 = 1 AND value > 100 AS INT)) AS BIGINT) AS a, "
        + "CAST(sum(CAST(user_id % 2 = 1 AND value <= 100 AS INT)) AS BIGINT) AS b, "
        + "CAST(sum(CAST(user_id % 2 = 0 AND value > 100 AS INT)) AS BIGINT) AS c, "
        + "CAST(sum(CAST(user_id % 2 = 0 AND value <= 100 AS INT)) AS BIGINT) AS d "
        + "FROM events WHERE value IS NOT NULL GROUP BY 1), "
        + "c2 AS (SELECT a, b, c, d, a + b + c + d AS nn FROM cells), "
        + "agg AS (SELECT count(*) AS n_strata, "
        + "CAST(sum(CAST(CAST(a AS DOUBLE) * d / nn AS DECIMAL(28,12))) AS DOUBLE) AS sad, "
        + "CAST(sum(CAST(CAST(b AS DOUBLE) * c / nn AS DECIMAL(28,12))) AS DOUBLE) AS sbc, "
        + "CAST(sum(a) AS BIGINT) AS sa, "
        + "CAST(sum(CAST(CAST(a + b AS DOUBLE) * (a + c) / nn AS DECIMAL(28,12))) AS DOUBLE) AS se1, "
        + "CAST(sum(CAST(CAST(a + b AS DOUBLE) * (c + d) * (a + c) * (b + d) / (CAST(nn AS DOUBLE) * nn * (nn - 1)) AS DECIMAL(28,12))) AS DOUBLE) AS sv FROM c2) "
        + "SELECT n_strata, round(sad / sbc, 6) AS or_mh, "
        + "round(pow(abs(CAST(sa AS DOUBLE) - se1) - 0.5, 2) / sv, 6) AS chi2_cmh, "
        + "pow(abs(CAST(sa AS DOUBLE) - se1) - 0.5, 2) / sv > 3.841459 AS reject_5pct FROM agg"),
    "q289_stratified_adjust" ->
      ("WITH users AS (SELECT user_id, CAST(count(*) AS BIGINT) AS score, "
        + "CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS errs, "
        + "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS conv FROM events GROUP BY user_id), "
        + "med AS (SELECT round(quantile_cont(errs, 0.5), 6) AS med, "
        + "list_transform(quantile_cont(score, [0.25, 0.5, 0.75]), b -> round(b, 6)) AS bs FROM users), "
        + "ut AS (SELECT u.*, CASE WHEN errs > med THEN 1 ELSE 0 END AS treated, "
        + "len(list_filter(bs, b -> score > b)) + 1 AS stratum FROM users u CROSS JOIN med), "
        + "cells AS (SELECT stratum, "
        + "CAST(sum(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt, "
        + "CAST(sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc, "
        + "CAST(sum(CASE WHEN treated = 1 THEN conv ELSE 0 END) AS BIGINT) AS xt, "
        + "CAST(sum(CASE WHEN treated = 0 THEN conv ELSE 0 END) AS BIGINT) AS xc FROM ut GROUP BY stratum) "
        + "SELECT CAST(sum(nt + nc) AS BIGINT) AS n_users, CAST(sum(nt) AS BIGINT) AS n_treated, "
        + "CAST(count(*) AS BIGINT) AS n_strata, "
        + "CAST(sum(CASE WHEN nt > 0 AND nc > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_strata_used, "
        + "round(CAST(sum(xt) AS DOUBLE) / sum(nt) - CAST(sum(xc) AS DOUBLE) / (sum(nt + nc) - sum(nt)), 6) AS naive_diff, "
        + "round(CAST(sum(CASE WHEN nt > 0 AND nc > 0 THEN "
        + "CAST((CAST(nt + nc AS DOUBLE)) * (CAST(xt AS DOUBLE) / nt - CAST(xc AS DOUBLE) / nc) AS DECIMAL(28,12)) "
        + "END) AS DOUBLE) / sum(nt + nc), 6) AS adj_diff, "
        + "round(CAST(sum(CASE WHEN nt > 0 AND nc > 0 THEN nt + nc ELSE 0 END) AS DOUBLE) / sum(nt + nc), 6) AS coverage "
        + "FROM cells"),
    "q283_uplift_qini" ->
      ("WITH users AS (SELECT user_id, CAST(count(*) AS BIGINT) AS score, "
        + "CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS conv FROM events GROUP BY user_id), "
        + "ut AS (SELECT *, CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 2 AS treated FROM users), "
        + "bs AS (SELECT list_transform(quantile_cont(score, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]), b -> round(b, 6)) AS bs FROM ut), "
        + "cells AS (SELECT len(list_filter(bs, b -> score > b)) + 1 AS decile, "
        + "CAST(sum(CASE WHEN treated = 1 THEN 1 ELSE 0 END) AS BIGINT) AS nt, "
        + "CAST(sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END) AS BIGINT) AS nc, "
        + "CAST(sum(CASE WHEN treated = 1 THEN conv ELSE 0 END) AS BIGINT) AS xt, "
        + "CAST(sum(CASE WHEN treated = 0 THEN conv ELSE 0 END) AS BIGINT) AS xc "
        + "FROM ut CROSS JOIN bs GROUP BY 1), "
        + "c AS (SELECT *, "
        + "CAST(sum(nt) OVER w AS BIGINT) AS cnt, CAST(sum(nc) OVER w AS BIGINT) AS cnc, "
        + "CAST(sum(xt) OVER w AS BIGINT) AS cxt, CAST(sum(xc) OVER w AS BIGINT) AS cxc "
        + "FROM cells WINDOW w AS (ORDER BY decile DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) "
        + "SELECT CAST(decile AS INT) AS decile, nt, nc, xt, xc, cnt, cnc, "
        + "round(cxt - (CAST(cxc AS DOUBLE) * cnt) / nullif(cnc, 0), 6) AS qini, "
        + "round(CAST(cxt AS DOUBLE) / nullif(cnt, 0) - CAST(cxc AS DOUBLE) / nullif(cnc, 0), 6) AS uplift_gap "
        + "FROM c ORDER BY decile DESC"),
    // q284: the same minimax range construction as the Spark plan — the
    // -1 sentinel row is the empty prefix; ranges are (a.bin, b.bin]
    // over the occupied-bin sequence, gaps included by construction.
    "q284_isotonic_calibration" ->
      ("WITH ev AS (SELECT value, CASE WHEN event_type = 'purchase' THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS pos "
        + "FROM events WHERE value IS NOT NULL), "
        + "mx AS (SELECT max(value) AS vmax FROM ev), "
        + "bins AS (SELECT least(CAST(floor((value / vmax) * 10) AS INT), 9) AS bin, "
        + "CAST(count(*) AS BIGINT) AS n, CAST(sum(pos) AS BIGINT) AS pos FROM ev CROSS JOIN mx GROUP BY 1), "
        + "pre AS (SELECT bin, CAST(sum(n) OVER (ORDER BY bin) AS BIGINT) AS cn, "
        + "CAST(sum(pos) OVER (ORDER BY bin) AS BIGINT) AS cpos FROM bins), "
        + "prez AS (SELECT bin, cn, cpos FROM pre UNION ALL SELECT -1, CAST(0 AS BIGINT), CAST(0 AS BIGINT)), "
        + "ranges AS (SELECT a.bin + 1 AS j, b.bin AS k, "
        + "CAST(b.cpos - a.cpos AS DOUBLE) / (b.cn - a.cn) AS rate FROM prez a JOIN pre b ON a.bin < b.bin), "
        + "iso AS (SELECT i, max(minr) AS iso FROM (SELECT bi.bin AS i, r.j, min(r.rate) AS minr "
        + "FROM bins bi JOIN ranges r ON r.j <= bi.bin AND r.k >= bi.bin GROUP BY 1, 2) GROUP BY i) "
        + "SELECT b.bin, b.n, b.pos, round(CAST(b.pos AS DOUBLE) / b.n, 6) AS raw_rate, "
        + "round(iso.iso, 6) AS iso_rate FROM bins b JOIN iso ON iso.i = b.bin ORDER BY b.bin"),
    "q276_design_effect" ->
      ("WITH per AS (SELECT user_id, CAST(count(*) AS BIGINT) AS nu, sum(CAST(value AS DECIMAL(18,2))) AS su, "
        + "sum(CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS qu "
        + "FROM events WHERE value IS NOT NULL GROUP BY user_id), "
        + "t AS (SELECT CAST(count(*) AS BIGINT) AS k, CAST(sum(nu) AS BIGINT) AS n, "
        + "sum(su) AS sx, sum(qu) AS qx, CAST(sum(nu * nu) AS BIGINT) AS n2, "
        + "sum(CAST((CAST(su AS DOUBLE) * CAST(su AS DOUBLE)) / nu AS DECIMAL(28,12))) AS sb FROM per), "
        + "ss AS (SELECT k, n, CAST(sb AS DOUBLE) - (CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) / n AS ssb, "
        + "CAST(qx AS DOUBLE) - CAST(sb AS DOUBLE) AS ssw, "
        + "(n - CAST(n2 AS DOUBLE) / n) / (k - 1) AS m0 FROM t), "
        + "ms AS (SELECT k, n, m0, ssb / (k - 1) AS msb, ssw / (n - k) AS msw FROM ss), "
        + "ic AS (SELECT k, n, round(m0, 6) AS m0, round((msb - msw) / (msb + (m0 - 1.0) * msw), 6) AS icc FROM ms) "
        + "SELECT k AS n_clusters, n AS n_events, m0, icc, round(1.0 + (m0 - 1.0) * icc, 6) AS deff FROM ic"),
    "q277_qte" ->
      ("WITH ev AS (SELECT value, CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 2 AS arm "
        + "FROM events WHERE value IS NOT NULL), "
        + "agg AS (SELECT list_transform(quantile_cont(CASE WHEN arm = 0 THEN value END, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]), b -> round(b, 6)) AS q0, "
        + "list_transform(quantile_cont(CASE WHEN arm = 1 THEN value END, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]), b -> round(b, 6)) AS q1, "
        + "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0, "
        + "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1 FROM ev) "
        + "SELECT round(CAST(i AS DOUBLE) / 10.0, 1) AS q, n0, n1, q0[i] AS v0, q1[i] AS v1, round(q1[i] - q0[i], 6) AS qte "
        + "FROM agg, LATERAL (SELECT unnest(range(1, 10)) AS i) ORDER BY q"),
    "q263_sequential_ab" ->
      ("WITH daily AS (SELECT CAST(ts AS DATE) AS day, "
        + "CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0, "
        + "CAST(sum(CASE WHEN arm = 0 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x0, "
        + "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1, "
        + "CAST(sum(CASE WHEN arm = 1 AND event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS x1 "
        + "FROM (SELECT ts, event_type, CAST('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15) AS BIGINT) % 2 AS arm FROM events) GROUP BY 1), "
        + "path AS (SELECT day, row_number() OVER (ORDER BY day) AS t, "
        + "CAST(sum(n0) OVER w AS BIGINT) AS cn0, CAST(sum(x0) OVER w AS BIGINT) AS cx0, "
        + "CAST(sum(n1) OVER w AS BIGINT) AS cn1, CAST(sum(x1) OVER w AS BIGINT) AS cx1 "
        + "FROM daily WINDOW w AS (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), "
        + "pz AS (SELECT *, (CAST(cx0 AS DOUBLE) / cn0 - CAST(cx1 AS DOUBLE) / cn1) / "
        + "sqrt((CAST(cx0 + cx1 AS DOUBLE) / (cn0 + cn1)) * (1.0 - CAST(cx0 + cx1 AS DOUBLE) / (cn0 + cn1)) "
        + "* (1.0 / cn0 + 1.0 / cn1)) AS z FROM path), "
        + "tt AS (SELECT CAST(max(t) AS BIGINT) AS bigT FROM pz), "
        + "cr AS (SELECT min(CASE WHEN abs(z) >= 1.959964 THEN t END) AS first_naive_t, "
        + "min(CASE WHEN abs(z) >= 1.959964 * sqrt(CAST(bigT AS DOUBLE) / t) THEN t END) AS first_obf_t "
        + "FROM pz CROSS JOIN tt) "
        + "SELECT day, t, cn0, cx0, cn1, cx1, round(z, 6) AS z_stat, "
        + "abs(z) >= 1.959964 AS naive_sig, "
        + "round(1.959964 * sqrt(CAST(bigT AS DOUBLE) / t), 6) AS obf_bound, "
        + "abs(z) >= 1.959964 * sqrt(CAST(bigT AS DOUBLE) / t) AS obf_sig, "
        + "first_naive_t, first_obf_t "
        + "FROM pz CROSS JOIN tt CROSS JOIN cr ORDER BY t"),
    // q208: estimates can't cross-engine-match; the CM-bound bool can.
    // DuckDB recomputes the exact top-15 and pins cm_ok TRUE.
    "q208_countmin" ->
      ("WITH t AS (SELECT tok FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents) WHERE tok <> ''), "
        + "c AS (SELECT tok, count(*) AS c FROM t GROUP BY tok) "
        + "SELECT tok, c AS true_c, TRUE AS cm_ok FROM c "
        + "ORDER BY true_c DESC, tok LIMIT 15"),
    "q198_roc_auc" ->
      ("WITH pooled AS (SELECT value AS v, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS isp, "
        + "row_number() OVER (ORDER BY value) AS rn FROM events WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL), "
        + "pv AS (SELECT v, avg(rn) AS ar, CAST(sum(isp) AS BIGINT) AS cpos, CAST(sum(1 - isp) AS BIGINT) AS cneg FROM pooled GROUP BY v), "
        + "agg AS (SELECT CAST(sum(cpos) AS BIGINT) AS n_pos, CAST(sum(cneg) AS BIGINT) AS n_neg, "
        + "sum(CAST(ar * cpos AS DECIMAL(28,6))) AS rp FROM pv), "
        + "a AS (SELECT n_pos, n_neg, (CAST(rp AS DOUBLE) - CAST(n_pos AS DOUBLE) * (n_pos + 1) / 2.0) / "
        + "(CAST(n_pos AS DOUBLE) * n_neg) AS auc_raw FROM agg) "
        + "SELECT n_pos, n_neg, round(auc_raw, 6) AS auc, round(2.0 * auc_raw - 1.0, 6) AS gini_idx FROM a"),
    // q401: the same cumsum frame as q399; argmax = ORDER BY + LIMIT 1
    // with the identical (profit desc, v asc) tie-break.
    "q401_threshold_tuning" ->
      ("WITH g AS (SELECT value AS v, CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS c1, "
        + "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c2 "
        + "FROM events WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL GROUP BY value), "
        + "t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM g), "
        + "cums AS (SELECT v, c1, c2, n1, n2, "
        + "CAST(sum(c1) OVER w AS BIGINT) AS cum1, CAST(sum(c2) OVER w AS BIGINT) AS cum2 "
        + "FROM g CROSS JOIN t WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), "
        + "b AS (SELECT v, n1, n2, n2 - cum2 + c2 AS tp, n1 - cum1 + c1 AS fp, "
        + "5 * (n2 - cum2 + c2) - (n1 - cum1 + c1) AS profit FROM cums) "
        + "SELECT round(v, 2) AS threshold, tp, fp, profit, n2 - tp AS fn, n1 - fp AS tn, "
        + "round(CAST(tp AS DOUBLE) / (tp + fp), 6) AS precision_at_t, "
        + "round(CAST(tp AS DOUBLE) / n2, 6) AS recall_at_t, "
        + "round(2.0 * (CAST(tp AS DOUBLE) / (tp + fp)) * (CAST(tp AS DOUBLE) / n2) "
        + "/ (CAST(tp AS DOUBLE) / (tp + fp) + CAST(tp AS DOUBLE) / n2), 6) AS f1_at_t "
        + "FROM b ORDER BY profit DESC, v LIMIT 1"),
    // q402: exact integer vote-histogram algebra; the three judges
    // replay with DuckDB's own list functions.
    "q402_fleiss_kappa" ->
      ("WITH r AS (SELECT (CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END) "
        + "+ (CASE WHEN len(list_filter(string_split(text, ' '), t -> t <> '')) >= 55 THEN 1 ELSE 0 END) "
        + "+ (CASE WHEN len(list_distinct(list_filter(string_split(text, ' '), t -> t <> ''))) >= 45 THEN 1 ELSE 0 END) AS c "
        + "FROM documents), "
        + "m AS (SELECT CAST(count(*) AS BIGINT) AS n_docs, CAST(sum(c) AS BIGINT) AS votes_pos, "
        + "CAST(sum(c * (c - 1) + (3 - c) * (2 - c)) AS BIGINT) AS agree6, "
        + "CAST(sum(CASE WHEN c = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_unanimous_pos, "
        + "CAST(sum(CASE WHEN c = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_unanimous_neg FROM r), "
        + "k AS (SELECT *, CAST(votes_pos AS DOUBLE) / (3 * n_docs) AS p_pos, "
        + "CAST(agree6 AS DOUBLE) / (6 * n_docs) AS p_bar FROM m), "
        + "k2 AS (SELECT *, p_pos * p_pos + (1.0 - p_pos) * (1.0 - p_pos) AS p_e FROM k) "
        + "SELECT n_docs, n_unanimous_pos, n_unanimous_neg, round(p_pos, 6) AS p_pos, "
        + "round(p_bar, 6) AS p_bar, round((p_bar - p_e) / (1.0 - p_e), 6) AS fleiss_kappa FROM k2"),
    // q399: identical per-block closed form; the ascending cumsums ride
    // a plain window over the distinct-value frame.
    "q399_pr_auc" ->
      ("WITH g AS (SELECT value AS v, CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS c1, "
        + "CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS c2 "
        + "FROM events WHERE event_type IN ('view', 'purchase') AND value IS NOT NULL GROUP BY value), "
        + "t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM g), "
        + "cums AS (SELECT c1, c2, n1, n2, "
        + "CAST(sum(c1) OVER w AS BIGINT) AS cum1, CAST(sum(c2) OVER w AS BIGINT) AS cum2 "
        + "FROM g CROSS JOIN t WINDOW w AS (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), "
        + "b AS (SELECT n1, n2, n2 - cum2 + c2 AS tp, n1 - cum1 + c1 AS fp, "
        + "n2 - cum2 AS tp0, n1 - cum1 AS fp0, c2 FROM cums), "
        + "terms AS (SELECT n1, n2, CAST((CAST(c2 AS DOUBLE) / n2) * "
        + "(CAST(tp AS DOUBLE) / (tp + fp) + "
        + "CASE WHEN tp0 + fp0 = 0 THEN 1.0 ELSE CAST(tp0 AS DOUBLE) / (tp0 + fp0) END) / 2.0 AS DECIMAL(28,12)) AS term FROM b), "
        + "a AS (SELECT max(n2) AS n_pos, max(n1) AS n_neg, sum(term) AS area FROM terms), "
        + "f AS (SELECT n_pos, n_neg, CAST(area AS DOUBLE) AS area, "
        + "CAST(n_pos AS DOUBLE) / (n_pos + n_neg) AS prevalence FROM a) "
        + "SELECT n_pos, n_neg, round(area, 6) AS pr_auc, round(prevalence, 6) AS prevalence, "
        + "round(area / prevalence, 4) AS lift FROM f"),
    "q199_rater_agreement" ->
      ("WITH r AS (SELECT CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS a, "
        + "CASE WHEN len(list_filter(string_split(text, ' '), t -> t <> '')) >= 55 THEN 1 ELSE 0 END AS b FROM documents), "
        + "m AS (SELECT count(*) AS n, CAST(sum(a * b) AS BIGINT) AS n11, CAST(sum(a * (1 - b)) AS BIGINT) AS n10, "
        + "CAST(sum((1 - a) * b) AS BIGINT) AS n01, CAST(sum((1 - a) * (1 - b)) AS BIGINT) AS n00 FROM r), "
        + "c AS (SELECT *, (n11 + n00) / CAST(n AS DOUBLE) AS po, "
        + "(CAST(n11 + n10 AS DOUBLE) * (n11 + n01) + CAST(n01 + n00 AS DOUBLE) * (n10 + n00)) / "
        + "(CAST(n AS DOUBLE) * n) AS pe FROM m) "
        + "SELECT n, n11, n10, n01, n00, round(po, 6) AS po, round(pe, 6) AS pe, "
        + "round((po - pe) / (1.0 - pe), 6) AS kappa, "
        + "round((CAST(n11 AS DOUBLE) * n00 - CAST(n10 AS DOUBLE) * n01) / "
        + "sqrt(CAST(n11 + n10 AS DOUBLE) * (n01 + n00) * (n11 + n01) * (n10 + n00)), 6) AS mcc FROM c"),
    "q200_decile_lift" ->
      ("WITH ev AS (SELECT value, CASE WHEN event_type = 'purchase' THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS pos "
        + "FROM events WHERE value IS NOT NULL), "
        + "bs AS (SELECT list_transform(quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]), b -> round(b, 6)) AS bs, "
        + "count(*) AS n_tot, CAST(sum(pos) AS BIGINT) AS pos_tot FROM ev), "
        + "d AS (SELECT len(list_filter(bs, b -> value > b)) + 1 AS decile, pos, n_tot, pos_tot FROM ev CROSS JOIN bs), "
        + "g AS (SELECT decile, count(*) AS n, CAST(sum(pos) AS BIGINT) AS n_pos, max(n_tot) AS n_tot, max(pos_tot) AS pos_tot "
        + "FROM d GROUP BY decile), "
        + "c AS (SELECT *, CAST(sum(n_pos) OVER (ORDER BY decile DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_pos FROM g) "
        + "SELECT CAST(decile AS INT) AS decile, n, n_pos, "
        + "round(n_pos / CAST(n AS DOUBLE), 6) AS rate, "
        + "round((n_pos / CAST(n AS DOUBLE)) / (pos_tot / CAST(n_tot AS DOUBLE)), 6) AS lift, "
        + "round(cum_pos / CAST(pos_tot AS DOUBLE), 6) AS cum_capture FROM c ORDER BY decile DESC"),
    "q201_calibration" ->
      ("WITH ev AS (SELECT value, CASE WHEN event_type = 'purchase' THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS pos "
        + "FROM events WHERE value IS NOT NULL), "
        + "mx AS (SELECT max(value) AS vmax, count(*) AS n_tot FROM ev), "
        + "b AS (SELECT least(CAST(floor((value / vmax) * 10) AS BIGINT), 9) AS bin, pos, value / vmax AS p, n_tot FROM ev CROSS JOIN mx), "
        + "g AS (SELECT bin, count(*) AS n, CAST(sum(pos) AS BIGINT) AS n_pos, sum(CAST(p AS DECIMAL(28,12))) AS sump, max(n_tot) AS n_tot FROM b GROUP BY bin), "
        + "cc AS (SELECT *, CAST(sump AS DOUBLE) / n AS conf, n_pos / CAST(n AS DOUBLE) AS acc FROM g), "
        + "e AS (SELECT sum(CAST(n / CAST(n_tot AS DOUBLE) * abs(acc - conf) AS DECIMAL(28,12))) AS ece_x FROM cc) "
        + "SELECT CAST(bin AS INT) AS bin, n, n_pos, round(conf, 6) AS conf, round(acc, 6) AS acc, "
        + "round(CAST(ece_x AS DOUBLE), 6) AS ece FROM cc CROSS JOIN e ORDER BY bin"),
    "q202_pareto_revenue" ->
      ("WITH cust AS (SELECT o_custkey, sum(CAST(o_totalprice AS DECIMAL(18,2))) AS rev FROM orders GROUP BY o_custkey), "
        + "bs AS (SELECT list_transform(quantile_cont(CAST(rev AS DOUBLE), [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]), b -> round(b, 6)) AS bs, "
        + "sum(rev) AS tot, count(*) AS n_cust FROM cust), "
        + "d AS (SELECT len(list_filter(bs, b -> CAST(rev AS DOUBLE) > b)) + 1 AS decile, rev, tot FROM cust CROSS JOIN bs), "
        + "g AS (SELECT decile, count(*) AS n_cust, sum(rev) AS rev_sum, max(tot) AS tot FROM d GROUP BY decile), "
        + "c AS (SELECT *, sum(rev_sum) OVER (ORDER BY decile DESC ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_rev FROM g) "
        + "SELECT CAST(decile AS INT) AS decile, n_cust, round(CAST(rev_sum AS DOUBLE), 2) AS revenue, "
        + "round(CAST(rev_sum AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS share, "
        + "round(CAST(cum_rev AS DOUBLE) / CAST(tot AS DOUBLE), 6) AS cum_share_from_top FROM c ORDER BY decile DESC"),
    "q203_lexical_stats" ->
      ("WITH t AS (SELECT source, tok FROM (SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents) WHERE tok <> ''), "
        + "c AS (SELECT source, tok, count(*) AS c FROM t GROUP BY source, tok), "
        + "g AS (SELECT source, count(*) AS types, CAST(sum(c) AS BIGINT) AS tokens, "
        + "CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax FROM c GROUP BY source) "
        + "SELECT source, types, tokens, hapax, round(types / CAST(tokens AS DOUBLE), 6) AS ttr, "
        + "round(hapax / CAST(types AS DOUBLE), 6) AS hapax_share FROM g ORDER BY source"),
    "q204_psi_drift" ->
      ("WITH ev AS (SELECT value AS v, CASE WHEN date_part('day', CAST(ts AS DATE)) <= 15 THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS isa "
        + "FROM events WHERE value IS NOT NULL), "
        + "bs AS (SELECT list_transform(quantile_cont(v, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]), b -> round(b, 6)) AS bs FROM ev WHERE isa = 1), "
        + "d AS (SELECT len(list_filter(bs, b -> v > b)) + 1 AS bin, isa FROM ev CROSS JOIN bs), "
        + "g AS (SELECT bin, CAST(sum(isa) AS BIGINT) AS c1, CAST(sum(1 - isa) AS BIGINT) AS c2 FROM d GROUP BY bin), "
        + "t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM g), "
        + "terms AS (SELECT bin, c1, c2, (c1 + CAST(0.5 AS DOUBLE)) / (n1 + CAST(5.0 AS DOUBLE)) AS p1, (c2 + CAST(0.5 AS DOUBLE)) / (n2 + CAST(5.0 AS DOUBLE)) AS p2, "
        + "CAST(((c1 + CAST(0.5 AS DOUBLE)) / (n1 + CAST(5.0 AS DOUBLE)) - (c2 + CAST(0.5 AS DOUBLE)) / (n2 + CAST(5.0 AS DOUBLE))) * ln(((c1 + CAST(0.5 AS DOUBLE)) / (n1 + CAST(5.0 AS DOUBLE))) / ((c2 + CAST(0.5 AS DOUBLE)) / (n2 + CAST(5.0 AS DOUBLE)))) AS DECIMAL(28,12)) AS term "
        + "FROM g CROSS JOIN t), "
        + "p AS (SELECT sum(term) AS psi_x FROM terms) "
        + "SELECT CAST(bin AS INT) AS bin, c1, c2, round(p1, 6) AS p_ref, round(p2, 6) AS p_cur, "
        + "round(CAST(term AS DOUBLE), 6) AS psi_term, round(CAST(psi_x AS DOUBLE), 6) AS psi "
        + "FROM terms CROSS JOIN p ORDER BY bin"),
    "q210_classifier_eval" ->
      ("WITH pr AS (SELECT lang, CASE "
        + "WHEN c_en >= c_de AND c_en >= c_es AND c_en >= c_fr AND c_en >= c_zh THEN 'en' "
        + "WHEN c_de >= c_es AND c_de >= c_fr AND c_de >= c_zh THEN 'de' "
        + "WHEN c_es >= c_fr AND c_es >= c_zh THEN 'es' WHEN c_fr >= c_zh THEN 'fr' ELSE 'zh' END AS pred FROM ("
        + "SELECT lang, len(list_filter(w, x -> x IN ('der', 'die', 'das', 'und', 'ist', 'nicht', 'mit', 'ein'))) AS c_de, "
        + "len(list_filter(w, x -> x IN ('the', 'a', 'and', 'of', 'to', 'in', 'is', 'it'))) AS c_en, "
        + "len(list_filter(w, x -> x IN ('el', 'los', 'y', 'es', 'una', 'que', 'por', 'con'))) AS c_es, "
        + "len(list_filter(w, x -> x IN ('le', 'les', 'et', 'est', 'une', 'dans', 'pour', 'sur'))) AS c_fr, "
        + "len(list_filter(w, x -> x IN ('的', '是', '不', '了', '在', '我', '有', '和'))) AS c_zh "
        + "FROM (SELECT lang, string_split(text, ' ') AS w FROM documents))), "
        + "conf AS (SELECT lang, pred, count(*) AS cnt FROM pr GROUP BY 1, 2), "
        + "classes AS (SELECT DISTINCT lang AS cls FROM conf UNION SELECT DISTINCT pred FROM conf), "
        + "per AS (SELECT cls, CAST(sum(CASE WHEN lang = cls THEN cnt ELSE 0 END) AS BIGINT) AS n_true, "
        + "CAST(sum(CASE WHEN pred = cls THEN cnt ELSE 0 END) AS BIGINT) AS n_pred, "
        + "CAST(sum(CASE WHEN lang = cls AND pred = cls THEN cnt ELSE 0 END) AS BIGINT) AS tp "
        + "FROM classes CROSS JOIN conf GROUP BY cls), "
        + "pc AS (SELECT *, CASE WHEN n_pred = 0 THEN CAST(0.0 AS DOUBLE) ELSE tp / CAST(n_pred AS DOUBLE) END AS prec, "
        + "CASE WHEN n_true = 0 THEN CAST(0.0 AS DOUBLE) ELSE tp / CAST(n_true AS DOUBLE) END AS rec FROM per), "
        + "pf AS (SELECT *, CASE WHEN prec + rec = 0.0 THEN CAST(0.0 AS DOUBLE) ELSE 2.0 * prec * rec / (prec + rec) END AS f1 FROM pc), "
        + "micro AS (SELECT CAST(sum(CASE WHEN lang = pred THEN cnt ELSE 0 END) AS DOUBLE) / sum(cnt) AS accuracy FROM conf), "
        + "mac AS (SELECT CAST(sum(CAST(f1 AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS macro_f1 FROM pf) "
        + "SELECT cls, n_true, n_pred, tp, round(prec, 6) AS prec, round(rec, 6) AS recall, round(f1, 6) AS f1, "
        + "round(accuracy, 6) AS accuracy, round(macro_f1, 6) AS macro_f1 FROM pf CROSS JOIN micro CROSS JOIN mac ORDER BY cls"),
    "q211_srm_check" ->
      ("WITH arms AS (SELECT CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) % 10 AS arm, count(*) AS n_obs "
        + "FROM events GROUP BY 1), "
        + "tot AS (SELECT CAST(sum(n_obs) AS BIGINT) AS n FROM arms), "
        + "terms AS (SELECT arm, n_obs, CAST(n AS DOUBLE) / 10.0 AS expected, "
        + "CAST((n_obs - CAST(n AS DOUBLE) / 10.0) * (n_obs - CAST(n AS DOUBLE) / 10.0) / (CAST(n AS DOUBLE) / 10.0) AS DECIMAL(28,12)) AS term "
        + "FROM arms CROSS JOIN tot), "
        + "c AS (SELECT sum(term) AS chi2_x FROM terms) "
        + "SELECT CAST(arm AS INT) AS arm, n_obs, round(expected, 6) AS expected, round(CAST(term AS DOUBLE), 6) AS chi2_term, "
        + "round(CAST(chi2_x AS DOUBLE), 6) AS chi2, CAST(chi2_x AS DOUBLE) > 21.666 AS srm_flag "
        + "FROM terms CROSS JOIN c ORDER BY arm"),
    "q212_bh_fdr" ->
      ("WITH g AS (SELECT event_type, "
        + "CAST(sum(CASE WHEN date_part('day', CAST(ts AS DATE)) <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n1, "
        + "sum(CASE WHEN date_part('day', CAST(ts AS DATE)) <= 15 THEN CAST(value AS DECIMAL(18,2)) END) AS s1, "
        + "sum(CASE WHEN date_part('day', CAST(ts AS DATE)) <= 15 THEN CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4)) END) AS q1, "
        + "CAST(sum(CASE WHEN date_part('day', CAST(ts AS DATE)) > 15 THEN 1 ELSE 0 END) AS BIGINT) AS n2, "
        + "sum(CASE WHEN date_part('day', CAST(ts AS DATE)) > 15 THEN CAST(value AS DECIMAL(18,2)) END) AS s2, "
        + "sum(CASE WHEN date_part('day', CAST(ts AS DATE)) > 15 THEN CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4)) END) AS q2 "
        + "FROM events WHERE value IS NOT NULL GROUP BY 1), "
        + "v AS (SELECT *, (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1) / (n1 - 1) AS v1, "
        + "(CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n2) / (n2 - 1) AS v2 FROM g), "
        + "zz AS (SELECT *, (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2) / sqrt(v1 / n1 + v2 / n2) AS z FROM v), "
        + "tt AS (SELECT *, CAST(1.0 AS DOUBLE) / (1.0 + 0.2316419 * abs(z)) AS t FROM zz), "
        + "pp AS (SELECT *, 2.0 * (0.3989422804014327 * exp(-(z * z) / 2.0) * "
        + "(0.319381530 * t - 0.356563782 * t * t + 1.781477937 * t * t * t "
        + "- 1.821255978 * t * t * t * t + 1.330274429 * t * t * t * t * t)) AS p FROM tt), "
        + "r AS (SELECT *, row_number() OVER (ORDER BY p, event_type) AS rank, count(*) OVER () AS m FROM pp), "
        + "cr AS (SELECT *, rank * CAST(0.05 AS DOUBLE) / m AS crit FROM r), "
        + "k AS (SELECT *, max(CASE WHEN p <= crit THEN rank ELSE 0 END) OVER () AS k_star FROM cr) "
        + "SELECT event_type, n1, n2, round(z, 6) AS z_stat, round(p, 6) AS p_value, CAST(rank AS INT) AS rank, "
        + "round(crit, 6) AS bh_crit, rank <= k_star AS rejected FROM k ORDER BY rank"),
    "q213_quantile_map" ->
      ("WITH grp AS (SELECT event_type, quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS gq "
        + "FROM events WHERE value IS NOT NULL GROUP BY 1), "
        + "gl AS (SELECT quantile_cont(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bq FROM events WHERE value IS NOT NULL), "
        + "idx AS (SELECT unnest(range(1, 10)) AS i) "
        + "SELECT event_type, round(i / CAST(10.0 AS DOUBLE), 6) AS q, round(gq[i], 6) AS group_q, round(bq[i], 6) AS global_q, "
        + "round(round(gq[i], 6) - round(bq[i], 6), 6) AS shift FROM grp CROSS JOIN gl CROSS JOIN idx ORDER BY event_type, q"),
    "q214_jackknife_cv" ->
      ("WITH daily AS (SELECT CAST(ts AS DATE) AS day, sum(CAST(value AS DECIMAL(18,2))) AS x FROM events GROUP BY 1), "
        + "tot AS (SELECT count(*) AS n, sum(x) AS s1, sum(CAST(x * x AS DECIMAL(38,4))) AS s2 FROM daily), "
        + "reps AS (SELECT n, s1, s2, (CAST(s1 AS DOUBLE) - CAST(x AS DOUBLE)) / (n - 1) AS m_i, "
        + "x FROM daily CROSS JOIN tot), "
        + "cv AS (SELECT n, s1, s2, sqrt((CAST(s2 AS DOUBLE) - CAST(x AS DOUBLE) * CAST(x AS DOUBLE) - (n - 1) * m_i * m_i) / (n - 2)) / m_i AS cv_i FROM reps), "
        + "agg AS (SELECT n, s1, s2, sum(CAST(cv_i AS DECIMAL(28,12))) AS sc, sum(CAST(cv_i * cv_i AS DECIMAL(28,12))) AS sc2 FROM cv GROUP BY 1, 2, 3), "
        + "f AS (SELECT n, sc, sc2, CAST(s1 AS DOUBLE) / n AS m_full, s2 FROM agg), "
        + "f2 AS (SELECT n, sc, sc2, sqrt((CAST(s2 AS DOUBLE) - n * m_full * m_full) / (n - 1)) / m_full AS cv_full, "
        + "CAST(sc AS DOUBLE) / n AS cv_bar FROM f) "
        + "SELECT n AS n_days, round(cv_full, 6) AS cv, round(n * cv_full - (n - 1) * cv_bar, 6) AS cv_bias_corrected, "
        + "round(sqrt((n - CAST(1.0 AS DOUBLE)) / n * (CAST(sc2 AS DOUBLE) - n * cv_bar * cv_bar)), 6) AS se_jack FROM f2"),
    "q215_power_mde" ->
      ("WITH a AS (SELECT CAST('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15) AS BIGINT) % 2 AS arm, "
        + "CASE WHEN event_type = 'purchase' THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS conv FROM events), "
        + "g AS (SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1, "
        + "CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2, CAST(sum(conv) AS BIGINT) AS c FROM a), "
        + "h AS (SELECT n1, n2, CAST(c AS DOUBLE) / (n1 + n2) AS p FROM g), "
        + "i AS (SELECT n1, n2, p, sqrt(p * (CAST(1.0 AS DOUBLE) - p) * (CAST(1.0 AS DOUBLE) / n1 + CAST(1.0 AS DOUBLE) / n2)) AS se FROM h) "
        + "SELECT n1, n2, round(p, 6) AS base_rate, round(se, 6) AS se, "
        + "round((1.959964 + 0.841621) * se, 6) AS mde_abs, "
        + "round(CASE WHEN p = 0 THEN NULL ELSE (1.959964 + 0.841621) * se / p END, 6) AS mde_rel FROM i"),
    "q216_ngram_novelty" ->
      ("WITH d AS (SELECT doc_id, text, CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15) AS BIGINT) % 10 AS b FROM documents), "
        + "t AS (SELECT doc_id, b, list_filter(string_split(text, ' '), x -> x <> '') AS w FROM d), "
        + "g AS (SELECT DISTINCT doc_id, b, h FROM (SELECT doc_id, b, unnest(list_transform(range(1, len(w) - 6), i -> "
        + "CAST('0x' || substr(md5(array_to_string(w[i:i+7], ' ')), 1, 15) AS BIGINT))) AS h FROM t WHERE len(w) >= 8)), "
        + "tr AS (SELECT DISTINCT h FROM g WHERE b < 9), "
        + "v AS (SELECT doc_id, count(*) AS n_g, CAST(sum(CASE WHEN tr.h IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nov "
        + "FROM (SELECT * FROM g WHERE b >= 9) gv LEFT JOIN tr ON gv.h = tr.h GROUP BY doc_id) "
        + "SELECT count(*) AS n_val_docs, CAST(sum(n_g) AS BIGINT) AS n_grams, CAST(sum(n_nov) AS BIGINT) AS n_novel, "
        + "round(CAST(sum(n_nov) AS DOUBLE) / sum(n_g), 6) AS novelty_rate, "
        + "round(CAST(sum(CAST(CAST(n_nov AS DOUBLE) / n_g AS DECIMAL(28,12))) AS DOUBLE) / count(*), 6) AS mean_doc_novelty, "
        + "CAST(sum(CASE WHEN CAST(n_nov AS DOUBLE) / n_g < 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_suspect FROM v"),
    "q218_cuped" ->
      ("WITH u AS (SELECT user_id, "
        + "coalesce(sum(CASE WHEN date_part('day', CAST(ts AS DATE)) <= 15 THEN CAST(value AS DECIMAL(18,2)) END), CAST(0 AS DECIMAL(18,2))) AS x, "
        + "coalesce(sum(CASE WHEN date_part('day', CAST(ts AS DATE)) > 15 THEN CAST(value AS DECIMAL(18,2)) END), CAST(0 AS DECIMAL(18,2))) AS y "
        + "FROM events WHERE value IS NOT NULL GROUP BY user_id), "
        + "m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy, sum(CAST(x * y AS DECIMAL(38,4))) AS sxy, "
        + "sum(CAST(x * x AS DECIMAL(38,4))) AS sxx, sum(CAST(y * y AS DECIMAL(38,4))) AS syy FROM u), "
        + "d AS (SELECT *, n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) AS dx, "
        + "n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE) AS cv FROM m), "
        + "t AS (SELECT *, CASE WHEN dx = 0 THEN CAST(0.0 AS DOUBLE) ELSE cv / dx END AS theta, "
        + "(CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) / n) / (n - 1) AS var_y FROM d), "
        + "f AS (SELECT *, var_y - theta * cv / (CAST(n AS DOUBLE) * (n - 1)) AS var_adj FROM t) "
        + "SELECT n AS n_users, round(theta, 6) AS theta, round(CAST(sy AS DOUBLE) / n, 6) AS mean_post, "
        + "round(var_y, 6) AS var_post, round(var_adj, 6) AS var_cuped, "
        + "round(CASE WHEN var_y = 0 THEN CAST(0.0 AS DOUBLE) ELSE 1.0 - var_adj / var_y END, 6) AS var_reduction FROM f"),
    "q219_conformal" ->
      ("WITH li AS (SELECT l_quantity AS x, l_extendedprice AS y, "
        + "CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT) % 3 AS part FROM lineitem), "
        + "coef AS (SELECT count(*) AS n_train, sum(CAST(x AS DECIMAL(18,2))) AS sx, sum(CAST(y AS DECIMAL(18,2))) AS sy, "
        + "sum(CAST(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxx, "
        + "sum(CAST(CAST(x AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxy FROM li WHERE part = 0), "
        + "c2 AS (SELECT n_train, (n_train * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / "
        + "(n_train * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope, sx, sy FROM coef), "
        + "c3 AS (SELECT n_train, slope, (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / n_train AS icept FROM c2), "
        + "scored AS (SELECT part, n_train, round(abs(y - (icept + slope * x)), 6) AS r FROM li CROSS JOIN c3 WHERE part <> 0), "
        + "pv AS (SELECT r AS v, count(*) AS c FROM scored WHERE part = 1 GROUP BY r), "
        + "cum AS (SELECT v, CAST(sum(c) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum1 FROM pv), "
        + "nc AS (SELECT CAST(sum(c) AS BIGINT) AS n_cal FROM pv), "
        + "qh AS (SELECT min(CASE WHEN cum1 >= ceil((n_cal + 1) * CAST(0.9 AS DOUBLE)) THEN v END) AS qhat, max(n_cal) AS n_cal FROM cum CROSS JOIN nc) "
        + "SELECT max(n_train) AS n_train, max(n_cal) AS n_cal, count(*) AS n_test, round(max(qhat), 6) AS qhat, "
        + "round(CASE WHEN max(qhat) IS NULL THEN NULL ELSE CAST(sum(CASE WHEN r <= qhat THEN 1 ELSE 0 END) AS BIGINT) / CAST(count(*) AS DOUBLE) END, 6) AS coverage, "
        + "round(2.0 * max(qhat), 6) AS interval_width "
        + "FROM scored CROSS JOIN qh WHERE part = 2"),
    "q205_regression_eval" ->
      ("WITH li AS (SELECT l_quantity AS x, l_extendedprice AS y, "
        + "CASE WHEN CAST('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)), 1, 15) AS BIGINT) % 2 = 0 THEN 1 ELSE 0 END AS tr FROM lineitem), "
        + "coef AS (SELECT count(*) AS n_train, sum(CAST(x AS DECIMAL(18,2))) AS sx, sum(CAST(y AS DECIMAL(18,2))) AS sy, "
        + "sum(CAST(CAST(x AS DECIMAL(18,2)) * CAST(x AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxx, "
        + "sum(CAST(CAST(x AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS sxy FROM li WHERE tr = 1), "
        + "c2 AS (SELECT n_train, (n_train * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) / "
        + "(n_train * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope, sx, sy FROM coef), "
        + "c3 AS (SELECT n_train, slope, (CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / n_train AS icept FROM c2), "
        + "t AS (SELECT n_train, slope, icept, count(*) AS n_test, "
        + "sum(CAST((y - (icept + slope * x)) * (y - (icept + slope * x)) AS DECIMAL(38,6))) AS sse, "
        + "sum(CAST(abs(y - (icept + slope * x)) AS DECIMAL(38,6))) AS sae, "
        + "sum(CAST(y AS DECIMAL(18,2))) AS ty, "
        + "sum(CAST(CAST(y AS DECIMAL(18,2)) * CAST(y AS DECIMAL(18,2)) AS DECIMAL(38,4))) AS tyy "
        + "FROM li CROSS JOIN c3 WHERE tr = 0 GROUP BY 1, 2, 3), "
        + "f AS (SELECT *, CAST(tyy AS DOUBLE) - CAST(ty AS DOUBLE) * CAST(ty AS DOUBLE) / n_test AS sst FROM t) "
        + "SELECT n_train, n_test, round(slope, 6) AS slope, round(icept, 6) AS icept, "
        + "round(sqrt(CAST(sse AS DOUBLE) / n_test), 6) AS rmse, round(CAST(sae AS DOUBLE) / n_test, 6) AS mae, "
        + "round(1.0 - CAST(sse AS DOUBLE) / sst, 6) AS r2 FROM f"),
    "q206_sign_flip" ->
      ("WITH cells AS (SELECT CAST(ts AS DATE) AS day, "
        + "sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS s1, "
        + "CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS c1, "
        + "sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS s2, "
        + "CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS c2 "
        + "FROM events WHERE event_type IN ('view', 'click') AND value IS NOT NULL GROUP BY 1), "
        + "daily AS (SELECT day, CAST(s1 AS DOUBLE) / c1 - CAST(s2 AS DOUBLE) / c2 AS d FROM cells WHERE c1 > 0 AND c2 > 0), "
        + "obs AS (SELECT count(*) AS n_days, CAST(sum(CAST(d AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS t_obs FROM daily), "
        + "grid AS (SELECT b, day, d, CASE WHEN CAST('0x' || substr(md5('sf|' || CAST(b AS VARCHAR) || '|' || CAST(day AS VARCHAR)), 1, 15) AS BIGINT) % 2 = 0 THEN -1.0 ELSE 1.0 END AS sign "
        + "FROM daily CROSS JOIN (SELECT unnest(range(1, 201)) AS b)), "
        + "perms AS (SELECT b, CAST(sum(CAST(sign * d AS DECIMAL(28,12))) AS DOUBLE) / count(*) AS t_b FROM grid GROUP BY b), "
        + "agg AS (SELECT max(n_days) AS n_days, max(t_obs) AS t_obs_x, "
        + "CAST(sum(CASE WHEN abs(t_b) >= abs(t_obs) THEN 1 ELSE 0 END) AS BIGINT) AS n_ge FROM perms CROSS JOIN obs) "
        + "SELECT n_days, round(t_obs_x, 6) AS t_obs, n_ge, round((CAST(1.0 AS DOUBLE) + n_ge) / 201.0, 6) AS p_value FROM agg"),
    "q207_effect_size" ->
      ("WITH m AS (SELECT CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS n1, "
        + "sum(CASE WHEN event_type = 'view' THEN CAST(value AS DECIMAL(18,2)) END) AS s1, "
        + "sum(CASE WHEN event_type = 'view' THEN CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4)) END) AS q1, "
        + "CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n2, "
        + "sum(CASE WHEN event_type = 'click' THEN CAST(value AS DECIMAL(18,2)) END) AS s2, "
        + "sum(CASE WHEN event_type = 'click' THEN CAST(CAST(value AS DECIMAL(18,2)) * CAST(value AS DECIMAL(18,2)) AS DECIMAL(38,4)) END) AS q2 "
        + "FROM events WHERE event_type IN ('view', 'click') AND value IS NOT NULL), "
        + "v AS (SELECT *, (CAST(q1 AS DOUBLE) - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / n1) / (n1 - 1) AS v1, "
        + "(CAST(q2 AS DOUBLE) - CAST(s2 AS DOUBLE) * CAST(s2 AS DOUBLE) / n2) / (n2 - 1) AS v2 FROM m), "
        + "sp AS (SELECT *, sqrt(((n1 - 1) * v1 + (n2 - 1) * v2) / (n1 + n2 - 2)) AS sp FROM v), "
        + "dd AS (SELECT *, (CAST(s1 AS DOUBLE) / n1 - CAST(s2 AS DOUBLE) / n2) / sp AS d FROM sp), "
        + "se AS (SELECT *, sqrt((n1 + n2) / (CAST(n1 AS DOUBLE) * n2) + d * d / (2.0 * (n1 + n2))) AS se FROM dd) "
        + "SELECT n1, n2, round(d, 6) AS cohens_d, round((1.0 - 3.0 / (4.0 * CAST(n1 + n2 AS DOUBLE) - 9.0)) * d, 6) AS hedges_g, "
        + "round(d - 1.96 * se, 6) AS ci_lo, round(d + 1.96 * se, 6) AS ci_hi FROM se"),
    "q209_pacf" ->
      ("WITH daily AS (SELECT date_trunc('day', ts) AS day, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS v FROM events GROUP BY 1), "
        + "lagged AS (SELECT v, lag(v, 1) OVER (ORDER BY day) AS v1, lag(v, 2) OVER (ORDER BY day) AS v2, lag(v, 3) OVER (ORDER BY day) AS v3 FROM daily), "
        + "r AS (SELECT corr(v, v1) AS r1, corr(v, v2) AS r2, corr(v, v3) AS r3 FROM lagged), "
        + "p AS (SELECT *, (r2 - r1 * r1) / (1.0 - r1 * r1) AS p2 FROM r), "
        + "p2t AS (SELECT *, r1 * (1.0 - p2) AS p21 FROM p) "
        + "SELECT round(r1, 6) AS pacf1, round(p2, 6) AS pacf2, "
        + "round((r3 - p21 * r2 - p2 * r1) / (1.0 - p21 * r1 - p2 * r2), 6) AS pacf3 FROM p2t"),
    "q224_ranking_eval" ->
      ("WITH ranked AS (SELECT user_id, event_id, CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS rel, "
        + "row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS r, "
        + "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS crel "
        + "FROM events WHERE value IS NOT NULL), "
        + "terms AS (SELECT user_id, rel, r, "
        + "CAST(CASE WHEN r <= 10 THEN rel * ln(2.0) / ln(r + 1.0) ELSE 0.0 END AS DECIMAL(28,12)) AS dcg_t, "
        + "CAST(CASE WHEN r <= 10 AND rel = 1 THEN crel / CAST(r AS DOUBLE) ELSE 0.0 END AS DECIMAL(28,12)) AS ap_t FROM ranked), "
        + "pu AS (SELECT user_id, CAST(sum(rel) AS BIGINT) AS nrel, sum(dcg_t) AS dcg, sum(ap_t) AS apsum, "
        + "min(CASE WHEN rel = 1 THEN r END) AS fr FROM terms GROUP BY user_id HAVING sum(rel) > 0), "
        + "pm AS (SELECT CAST(CAST(dcg AS DOUBLE) / list_sum(list_transform(range(1, CAST(least(nrel, 10) AS BIGINT) + 1), "
        + "i -> ln(2.0) / ln(i + 1.0))) AS DECIMAL(28,12)) AS ndcg, "
        + "CAST(1.0 / fr AS DECIMAL(28,12)) AS rr, "
        + "CAST(CAST(apsum AS DOUBLE) / least(nrel, 10) AS DECIMAL(28,12)) AS ap FROM pu) "
        + "SELECT count(*) AS n_users, round(CAST(sum(ndcg) AS DOUBLE) / count(*), 6) AS ndcg10, "
        + "round(CAST(sum(rr) AS DOUBLE) / count(*), 6) AS mrr, "
        + "round(CAST(sum(ap) AS DOUBLE) / count(*), 6) AS map10 FROM pm"),
  )
}
