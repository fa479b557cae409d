package graft

/** Dev tool: print the formatted physical plan and wall time of one
  * query: `sbt "runMain graft.Explain q49_minhash_lsh /root/testdata/sf0.1"`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = Sessions.local(Sessions.envCores)
    spark.sparkContext.setLogLevel("WARN")
    // comma-separated key list: one JVM, one plan dump per key, delimited
    // so a wrapper can split the output into per-key files
    for (k <- name.split(",").map(_.trim).filter(_.nonEmpty)) {
      println(s"==== PLAN $k ====")
      val tb = System.nanoTime()
      val df = SparkEntry.queries(k)(spark, sfDir)
      val buildS = (System.nanoTime() - tb) / 1e9
      df.explain("formatted")
      val t0 = System.nanoTime()
      val n = df.count()
      println(f"[explain] $k rows=$n build=$buildS%.2f s count=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    spark.stop()
  }
}
