package graft

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.AnalysisException
import org.apache.spark.sql.types.{BinaryType, StringType, TimestampNTZType}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** `Tables` infers each table version's schema once: later reads of the
  * same files under the same confs launch no job, and a new version or
  * a conf that changes the footer mapping infers again.
  */
class TablesSpec extends AnyFunSuite with Matchers with SharedSpark {

  private val all: Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] =
    Seq("region" -> Tables.region, "nation" -> Tables.nation, "customer" -> Tables.customer,
      "supplier" -> Tables.supplier, "part" -> Tables.part, "orders" -> Tables.orders,
      "lineitem" -> Tables.lineitem, "documents" -> Tables.documents,
      "embeddings" -> Tables.embeddings, "events" -> Tables.events)

  private def withDir(body: String => Unit): Unit = {
    val dir = ops.Stage.fresh("tables_spec")
    try body(dir.toString) finally ops.Stage.release(dir)
  }

  test("the first read of a table launches one job, a second read none") {
    withDir { dir =>
      Files.copy(Paths.get(sf, "region.parquet"), Paths.get(dir, "region.parquet"))
      jobsDuring(Tables.region(spark, dir)) should have size 1
      jobsDuring(Tables.region(spark, dir)) shouldBe empty
      Tables.region(spark, dir).count() shouldBe Tables.region(spark, sf).count()
    }
  }

  test("every table's schema equals what spark.read.parquet infers") {
    all.size shouldBe 10
    all.foreach { case (name, read) =>
      withClue(name) {
        read(spark, sf).schema shouldBe spark.read.parquet(s"$sf/$name.parquet").schema
        read(spark, sf).count() shouldBe spark.read.parquet(s"$sf/$name.parquet").count()
      }
    }
  }

  test("each read is a new relation: a self-join sees distinct attribute ids") {
    val (a, b) = (Tables.lineitem(spark, sf), Tables.lineitem(spark, sf))
    val ids = a.queryExecution.analyzed.output.map(_.exprId).toSet
    b.queryExecution.analyzed.output.map(_.exprId).filter(ids) shouldBe empty
    val (x, y) = (spark.read.parquet(s"$sf/lineitem.parquet"), spark.read.parquet(s"$sf/lineitem.parquet"))
    a.join(b, a("l_orderkey") === b("l_orderkey")).count() shouldBe
      x.join(y, x("l_orderkey") === y("l_orderkey")).count()
  }

  test("a directory table overwritten at the same path with a new schema is read with it") {
    withDir { dir =>
      val path = s"$dir/region.parquet"
      spark.range(3).selectExpr("id AS a").write.parquet(path)
      Tables.region(spark, dir).schema.fieldNames.toSeq shouldBe Seq("a")
      spark.range(4).selectExpr("cast(id AS string) AS b", "id AS c")
        .write.mode("overwrite").parquet(path)
      val again = Tables.region(spark, dir)
      again.schema.fieldNames.toSeq shouldBe Seq("b", "c")
      again.filter("b IS NOT NULL").count() shouldBe 4
    }
  }

  test("flipping spark.sql.parquet.binaryAsString infers the schema again") {
    withDir { dir =>
      // a plain parquet writer: a file Spark writes carries its own schema
      // in the footer, which inference prefers over the parquet types
      val schema = MessageTypeParser.parseMessageType("message t { required binary bin; }")
      val w = ExampleParquetWriter.builder(new Path(s"$dir/region.parquet"))
        .withConf(spark.sparkContext.hadoopConfiguration).withType(schema).build()
      val rows = new SimpleGroupFactory(schema)
      try Seq("x", "y").foreach(v => w.write(rows.newGroup().append("bin", v))) finally w.close()
      Tables.region(spark, dir).schema("bin").dataType shouldBe BinaryType
      Sessions.withConfs(spark, "spark.sql.parquet.binaryAsString" -> "true") {
        Tables.region(spark, dir).schema("bin").dataType shouldBe StringType
      }
      Tables.region(spark, dir).schema("bin").dataType shouldBe BinaryType
    }
  }

  test("reading events leaves the caller's nanosAsLong conf as it was") {
    val key = "spark.sql.legacy.parquet.nanosAsLong"
    val prior = spark.conf.getAll.get(key)
    spark.conf.unset(key)
    try {
      Tables.events(spark, sf).schema("ts").dataType shouldBe TimestampNTZType
      spark.conf.getAll.get(key) shouldBe None
    } finally prior.foreach(spark.conf.set(key, _))
  }

  test("a missing table fails with Spark's own path-not-found error") {
    val ex = intercept[AnalysisException](Tables.region(spark, s"$sf/no_such_dir"))
    ex.getCondition shouldBe "PATH_NOT_FOUND"
  }
}
