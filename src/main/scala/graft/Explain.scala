package graft

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev tool: run one query to the end with a noop write, then print the
  * formatted plan that ran — AQE's final plan, after every runtime
  * re-plan — and the build and write wall times:
  * `sbt "runMain graft.Explain q49_minhash_lsh /root/testdata/sf0.1"`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val spark = Sessions.local(Sessions.envCores)
    spark.sparkContext.setLogLevel("WARN")
    // the noop write's own QueryExecution carries the final adaptive
    // plan; the listener bus delivers it asynchronously, after the write
    val writes = new LinkedBlockingQueue[QueryExecution]()
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        qe.analyzed.collectFirst { case w: V2WriteCommand => w.table } match {
          case Some(r: DataSourceV2Relation) if r.table.name == "noop-table" => writes.put(qe)
          case _ =>
        }
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    // comma-separated key list: one JVM, one plan dump per key, delimited
    // so a wrapper can split the output into per-key files
    for (k <- name.split(",").map(_.trim).filter(_.nonEmpty)) {
      println(s"==== PLAN $k ====")
      val tb = System.nanoTime()
      val df = SparkEntry.queries(k)(spark, sfDir)
      val buildS = (System.nanoTime() - tb) / 1e9
      val t0 = System.nanoTime()
      df.write.format("noop").mode("overwrite").save()
      val writeS = (System.nanoTime() - t0) / 1e9
      val qe = writes.poll(60, TimeUnit.SECONDS)
      require(qe != null, s"no plan reported for $k's noop write")
      println(qe.explainString(ExplainMode.fromString("formatted")))
      println(f"[explain] $k build=$buildS%.2f s noop=$writeS%.2f s")
    }
    spark.stop()
  }
}
