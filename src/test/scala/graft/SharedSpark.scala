package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One shared local session for the whole forked test JVM (mirrors the
  * harness session shape: local[4], 4 shuffle partitions, UTC).
  */
trait SharedSpark extends BeforeAndAfterAll { this: Suite =>
  // the same session every shipped entry point builds, so specs
  // analyze exactly like prod
  lazy val spark: SparkSession = Sessions.local(4)

  val sf: String = "/root/testdata/sf0.001"
}
