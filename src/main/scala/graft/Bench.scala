package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.envCores)
    spark.sparkContext.setLogLevel("WARN")
    // Untimed warmup: JVM/codegen/parquet-reader initialization is
    // session cost, not query cost — without this the first query in
    // map order absorbs ~5 s of one-time startup.
    spark.range(1000).selectExpr("sum(id)").collect()
    Tables.region(spark, sfDir).count()
    // Two timed passes, report the per-query MIN: this microVM shows
    // ±50% single-run jitter (I/O + GC noise) on individual queries;
    // min-of-2 measures achievable per-query cost, standard benchmark
    // practice, and keeps the reported total stable across rounds.
    // A crashed query reports the sentinel -1.0, never its time-to-crash
    // (folding crash latency into min-of-2 would under-report it), and
    // its cause goes to stderr.
    // Optional comma-separated key filter for targeted local A/B runs
    // (unset in the driver's invocation — the full map runs there).
    val only = sys.env.get("SPARK_GRAFT_ONLY").filter(_.nonEmpty)
      .map(_.split(",").toSet)
    val keys = only.fold(SparkEntry.queries)(ks => SparkEntry.queries.filter(kv => ks(kv._1)))
    def pass(n: Int): Map[String, Double] = keys.map { case (name, fn) =>
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true } catch { case e: Throwable =>
        System.err.println(s"[bench] $name pass $n failed: ${e.getClass.getName}: ${e.getMessage}")
        false
      }
      name -> (if (ok) (System.nanoTime() - t0) / 1e9 else -1.0)
    }
    val p1 = pass(1); val p2 = pass(2)
    val results = p1.map { case (k, v) =>
      k -> (if (v < 0 || p2(k) < 0) -1.0 else math.min(v, p2(k)))
    }
    val errors = results.collect { case (k, v) if v < 0 => s"\"" + k + "\"" }
      .mkString("[", ",", "]")
    // Ascending by seconds so the MOST EXPENSIVE queries sit at the END
    // of the line: the driver's log window keeps a fixed-size TAIL of
    // stdout, and this ordering lands the top of the cost distribution
    // (the rows worth reading) inside the kept window. Errors (-1.0)
    // sort first and are also listed in the errors array at the tail.
    val qs = results.toSeq.sortBy(_._2)
      .map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    // "total" is duplicated as the LAST field: the driver's log window
    // keeps a fixed-size TAIL of stdout, and the leading "value" field is
    // outside it once the per-query map grows past the window size.
    val line = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errors,"sf":"$sfDir","total":$total}"""
    println(line)
    // Full per-key artifact: the driver's log window keeps only a
    // 2,000-char stdout TAIL (the ~57 slowest keys), leaving the other
    // ~300 per-key ratios unauditable; this file carries all of them.
    // Committed per round as BENCH_SELF.json (VERDICT r9 task 7).
    val selfPath = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_SELF.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(selfPath),
      (line + "\n").getBytes("UTF-8"))
    catch { case _: java.io.IOException => () } // artifact is best-effort
    spark.stop()
  }
}
