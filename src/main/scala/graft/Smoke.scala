package graft

/** Local replica of the driver's t1 smoke check: SparkEntry.entry must
  * return >0 rows on sf0.001.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(4)
    spark.sparkContext.setLogLevel("WARN")
    val df = SparkEntry.entry(spark)
    val rows = df.collect()
    println(s"[smoke] entry rows=${rows.length} first=${rows.headOption}")
    assert(rows.nonEmpty, "entry returned 0 rows")
    spark.stop()
  }
}
