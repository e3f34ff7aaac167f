package graft

import java.nio.file.Files

import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

/** The driver-side footer schema of [[Tables.read]] against Spark's own
  * schema inference (`spark.read.parquet(p).schema`).
  */
class TablesSpec extends AnyFunSuite with SparkTestSession {
  // the sf0.001 tables shipped with the benchmark package
  private val sf0001 = "perfbench/data/sf0.001"

  private def assertSameSchema(path: String): Unit =
    assert(Tables.read(spark, path).schema == spark.read.parquet(path).schema, path)

  private def withConf(key: String, value: String)(body: => Unit): Unit = {
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, value)
    try body
    finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("every sf0.001 table reads with Spark's inferred schema") {
    Tables.all.foreach(t => assertSameSchema(s"$sf0001/$t.parquet"))
  }

  test("a multi-part directory written by Spark reads with its row metadata schema") {
    val dir = Files.createTempDirectory("tables-spec").resolve("t.parquet").toString
    spark.range(0, 100, 1, 3)
      .selectExpr("id", "CAST(id AS STRING) AS s", "id * 0.5 AS d",
        "array(id, NULL) AS a", "named_struct('x', id, 'y', 'k') AS st",
        "CAST(id AS DECIMAL(12, 2)) AS dec", "TIMESTAMP_SECONDS(id) AS ts")
      .write.parquet(dir)
    assert(new java.io.File(dir).listFiles().count(_.getName.startsWith("part-")) == 3)
    assertSameSchema(dir)
  }

  test("events and a TIMESTAMP(NANOS) file follow nanosAsLong on and off") {
    val nanos = Files.createTempDirectory("tables-spec").resolve("nanos.parquet")
    val schema = MessageTypeParser.parseMessageType(
      "message m { required int64 ts (TIMESTAMP(NANOS,true)); required int32 v; }")
    val writer = ExampleParquetWriter.builder(new Path(nanos.toUri))
      .withType(schema).withConf(new Configuration()).build()
    try writer.write(new SimpleGroupFactory(schema).newGroup()
      .append("ts", 1700000000123456789L).append("v", 7))
    finally writer.close()

    withConf("spark.sql.legacy.parquet.nanosAsLong", "true") {
      assertSameSchema(s"$sf0001/events.parquet")
      assertSameSchema(nanos.toString)
      assert(Tables.read(spark, nanos.toString).schema("ts").dataType == LongType)
    }
    withConf("spark.sql.legacy.parquet.nanosAsLong", "false") {
      assertSameSchema(s"$sf0001/events.parquet")
      // Spark cannot read nanos as a timestamp: both reads fail alike
      val inferred = Try(spark.read.parquet(nanos.toString).schema)
      val footer = Try(Tables.read(spark, nanos.toString).schema)
      assert(inferred.isFailure && footer.isFailure)
      assert(inferred.failed.get.getClass == footer.failed.get.getClass)
    }
  }
}
