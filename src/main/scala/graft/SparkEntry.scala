package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §2 (inventory) and §3.1
  * (lifecycle). Queries are grouped into packs (one per §2 category);
  * each key appears here only once its DuckDB oracle has been validated
  * locally (tools/check.py), per the declaration strategy in SURVEY.md §7.0.
  */
object SparkEntry {
  private val packs: Seq[QueryPack] = Seq(
    ops.Relational,
    ops.Stats,
    ops.Windows,
    ops.Scalars,
    ops.Text,
    ops.TimeWin,
    ops.Udaf,
    ops.Extensions,
    ops.Pipeline,
    ops.Vectors,
    ops.Analysis,
    ops.Science,
    ops.Sources,
    ops.Curation,
    ops.Behavior,
    ops.Evaluation,
    streaming.Streaming,
  )

  /** Flagship query (Pearson correlation — the reference's core op) on
    * sf=0.001; driver smoke-checks rows>0.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q16_corr_pair")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Each fn is wrapped to first pin the one session conf the data
    * requires (`nanosAsLong`, for the older ns-timestamp generation of
    * the events parquet; nothing else sets it) so every query sees
    * identical session state regardless of the order the driver runs
    * them in. Key uniqueness across packs is asserted —
    * a duplicate key would silently shadow a query and could pair the
    * wrong oracle SQL with it.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] = {
    val all = packs.flatMap(_.queries)
    require(all.map(_._1).distinct.size == all.size,
      s"duplicate query key across packs: ${all.groupBy(_._1).filter(_._2.size > 1).keys.mkString(",")}")
    all.map { case (k, fn) =>
      k -> ((s: SparkSession, dir: String) => {
        s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        // native functions (md5_mod & co.) available no matter who
        // built the session; exists-guarded no-op under GraftExtensions
        org.apache.spark.sql.GraftFunctions.register(s)
        fn(s, dir)
      })
    }.toMap
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops
    * (sketches, streaming) → driver records a weaker rows-only check.
    */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.oracles).toMap
}
