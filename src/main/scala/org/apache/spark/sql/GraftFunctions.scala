package org.apache.spark.sql

import graft.functions.{CosineSimilarity, JaroWinkler, Md5Mod, RollingWindowHashes, SlidingGen, SquaredDistance}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Registration bridge for graft's native Catalyst expressions and
  * plan nodes.
  *
  * Lives in the org.apache.spark.sql package purely to reach the
  * session-internal FunctionRegistry and `Dataset.ofRows` (both
  * `private[sql]`) — the standard pattern for Spark extension libraries
  * when the session is built by a host harness. When the application owns session construction, the
  * idiomatic route is `GraftExtensions` via `.withExtensions` /
  * `spark.sql.extensions` (see graft.GraftExtensions), which Verify and
  * Bench both use; `register` covers externally-built sessions and is
  * idempotent.
  */
object GraftFunctions {

  val cosineBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => CosineSimilarity(a, b)
    case other =>
      throw new IllegalArgumentException(s"cosine_sim expects 2 args, got ${other.size}")
  }

  val cosineInfo: ExpressionInfo = new ExpressionInfo(
    classOf[CosineSimilarity].getName, "cosine_sim")

  val cosineIdent: FunctionIdentifier = FunctionIdentifier("cosine_sim")

  val sqDistBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => SquaredDistance(a, b)
    case other =>
      throw new IllegalArgumentException(s"sq_dist expects 2 args, got ${other.size}")
  }

  val sqDistInfo: ExpressionInfo = new ExpressionInfo(
    classOf[SquaredDistance].getName, "sq_dist")

  val sqDistIdent: FunctionIdentifier = FunctionIdentifier("sq_dist")

  val rollingBuilder: Seq[Expression] => Expression = {
    case Seq(a) => RollingWindowHashes(a)
    case other =>
      throw new IllegalArgumentException(s"rolling_win_hashes expects 1 arg, got ${other.size}")
  }

  val rollingInfo: ExpressionInfo = new ExpressionInfo(
    classOf[RollingWindowHashes].getName, "rolling_win_hashes")

  val rollingIdent: FunctionIdentifier = FunctionIdentifier("rolling_win_hashes")

  val slidingBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => SlidingGen(a, b)
    case other =>
      throw new IllegalArgumentException(s"sliding_gen expects 2 args, got ${other.size}")
  }

  val slidingInfo: ExpressionInfo = new ExpressionInfo(
    classOf[SlidingGen].getName, "sliding_gen")

  val slidingIdent: FunctionIdentifier = FunctionIdentifier("sliding_gen")

  val md5ModBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => Md5Mod(a, b)
    case other =>
      throw new IllegalArgumentException(s"md5_mod expects 2 args, got ${other.size}")
  }

  val md5ModInfo: ExpressionInfo = new ExpressionInfo(
    classOf[Md5Mod].getName, "md5_mod")

  val md5ModIdent: FunctionIdentifier = FunctionIdentifier("md5_mod")

  val jaroWinklerBuilder: Seq[Expression] => Expression = {
    case Seq(a, b) => JaroWinkler(a, b)
    case other =>
      throw new IllegalArgumentException(s"jaro_winkler expects 2 args, got ${other.size}")
  }

  val jaroWinklerInfo: ExpressionInfo = new ExpressionInfo(
    classOf[JaroWinkler].getName, "jaro_winkler")

  val jaroWinklerIdent: FunctionIdentifier = FunctionIdentifier("jaro_winkler")

  /** Spark's OWN Bloom pair (the engine's runtime row-level-filtering
    * kernels, not registered for SQL by default): `bloom_filter_agg`
    * builds a sketch over xxhash64'd keys as a mergeable partial agg,
    * `might_contain` probes it with full codegen — together they keep a
    * sketch-pruned join (q103) entirely inside whole-stage codegen,
    * where a closure udf would force per-row serialized calls. */
  val bloomAggBuilder: Seq[Expression] => Expression = {
    case Seq(c) => new catalyst.expressions.aggregate.BloomFilterAggregate(c)
    case Seq(c, n) => new catalyst.expressions.aggregate.BloomFilterAggregate(c, n)
    case Seq(c, n, b) => new catalyst.expressions.aggregate.BloomFilterAggregate(c, n, b)
    case other =>
      throw new IllegalArgumentException(s"bloom_filter_agg expects 1-3 args, got ${other.size}")
  }

  val bloomAggInfo: ExpressionInfo = new ExpressionInfo(
    classOf[catalyst.expressions.aggregate.BloomFilterAggregate].getName, "bloom_filter_agg")

  val bloomAggIdent: FunctionIdentifier = FunctionIdentifier("bloom_filter_agg")

  val mightContainBuilder: Seq[Expression] => Expression = {
    case Seq(bf, v) => catalyst.expressions.BloomFilterMightContain(bf, v)
    case other =>
      throw new IllegalArgumentException(s"might_contain expects 2 args, got ${other.size}")
  }

  val mightContainInfo: ExpressionInfo = new ExpressionInfo(
    classOf[catalyst.expressions.BloomFilterMightContain].getName, "might_contain")

  val mightContainIdent: FunctionIdentifier = FunctionIdentifier("might_contain")

  /** `f` applied to `df`'s logical plan, as a DataFrame: how graft's own
    * logical nodes (`graft.plans.PrefixSum`) enter the DataFrame API. */
  def withPlan(df: DataFrame)(f: LogicalPlan => LogicalPlan): DataFrame = {
    val d = df.asInstanceOf[classic.Dataset[Row]]
    classic.Dataset.ofRows(d.sparkSession, f(d.logicalPlan))
  }

  def register(spark: SparkSession): Unit = {
    val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    // a session built without GraftExtensions still plans graft's nodes
    if (!session.sessionState.planner.strategies.contains(graft.plans.PrefixSumStrategy))
      session.experimental.extraStrategies :+= graft.plans.PrefixSumStrategy
    val reg = session.sessionState.functionRegistry
    // per-function exists-guard: SparkEntry's wrapper registers per
    // query call (replace would WARN-spam the logs once per invocation)
    // and a host session may legitimately hold SOME of these already —
    // a single-name guard would skip the rest
    def once(name: String, builder: Seq[Expression] => Expression): Unit =
      if (!reg.functionExists(FunctionIdentifier(name)))
        reg.createOrReplaceTempFunction(name, builder, "built-in")
    once("cosine_sim", cosineBuilder)
    once("sq_dist", sqDistBuilder)
    once("rolling_win_hashes", rollingBuilder)
    once("sliding_gen", slidingBuilder)
    once("md5_mod", md5ModBuilder)
    once("jaro_winkler", jaroWinklerBuilder)
    once("bloom_filter_agg", bloomAggBuilder)
    once("might_contain", mightContainBuilder)
  }
}
