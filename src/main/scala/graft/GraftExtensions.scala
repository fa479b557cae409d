package graft

import org.apache.spark.sql.{GraftFunctions, SparkSessionExtensions}

/** SparkSessionExtensions entry point: inject graft's native functions
  * at session build time — usable as
  * `.config("spark.sql.extensions", "graft.GraftExtensions")` on a
  * cluster, or `.withExtensions(new GraftExtensions)` in embedded use
  * (Verify/Bench do the latter).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((GraftFunctions.cosineIdent,
      GraftFunctions.cosineInfo, GraftFunctions.cosineBuilder))
    ext.injectFunction((GraftFunctions.sqDistIdent,
      GraftFunctions.sqDistInfo, GraftFunctions.sqDistBuilder))
    ext.injectFunction((GraftFunctions.rollingIdent,
      GraftFunctions.rollingInfo, GraftFunctions.rollingBuilder))
    ext.injectFunction((GraftFunctions.slidingIdent,
      GraftFunctions.slidingInfo, GraftFunctions.slidingBuilder))
    ext.injectFunction((GraftFunctions.md5ModIdent,
      GraftFunctions.md5ModInfo, GraftFunctions.md5ModBuilder))
    ext.injectFunction((GraftFunctions.jaroWinklerIdent,
      GraftFunctions.jaroWinklerInfo, GraftFunctions.jaroWinklerBuilder))
    ext.injectFunction((GraftFunctions.bloomAggIdent,
      GraftFunctions.bloomAggInfo, GraftFunctions.bloomAggBuilder))
    ext.injectFunction((GraftFunctions.mightContainIdent,
      GraftFunctions.mightContainInfo, GraftFunctions.mightContainBuilder))
    // portable md5-chain SQL → native Md5Mod (literal non-zero modulus
    // only; see the rule's scaladoc for the ANSI zero-divisor caveat)
    ext.injectOptimizerRule(_ => graft.plans.RewriteMd5Chain)
    // exact percentile/median over DOUBLE → the primitive-array kernel
    // ExactPercentile, with Spark's results (see the rule's scaladoc)
    ext.injectOptimizerRule(_ => graft.plans.NativePercentile)
    // fully-qualified GraftCatalog VIEW references substitute their
    // stored SQL (Spark's analyzer doesn't consult V2 ViewCatalogs)
    ext.injectResolutionRule(session => graft.plans.ResolveGraftViews(session))
    // a global sort over an input AQE has measured as one task sorts in
    // that task: no range-sample job, no range-shuffle stage
    ext.injectQueryStagePrepRule(session => graft.plans.SortSmallInPlace(session))
    // the prefix-sum plan node behind Science.cumCounts
    ext.injectPlannerStrategy(_ => graft.plans.PrefixSumStrategy)
  }
}
