package graft

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

/** Harness-table catalog: deterministic TPC-H-ish parquet tables under
  * `/root/testdata/sf*` (see TESTDATA.md). All engine queries read through
  * here so the scan path (parquet + pushdown + pruning) is uniform.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    read(spark, s"$sfDir/$name.parquet")

  /** `spark.read.parquet(path)` with its schema read on the driver
    * ([[schema]]), so the read starts no schema-inference job.
    */
  def read(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(schema(spark, path)).parquet(path)

  /** The schema `spark.read.parquet(path)` infers for a parquet file or a
    * flat directory of them, read from the one footer Spark's non-merging
    * inference reads: `_common_metadata`, else `_metadata`, else the first
    * data file by path. Spark's own row metadata in the footer wins; else
    * the parquet schema is converted under the session's conf (e.g.
    * `spark.sql.legacy.parquet.nanosAsLong`).
    */
  def schema(spark: SparkSession, path: String): StructType = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(hadoopConf)
    val top = fs.getFileStatus(p)
    // Spark's listing keeps no `_`/`.` names but the two summary files
    def listed(n: String) =
      !((n.startsWith("_") && !n.contains("=")) || n.startsWith(".") ||
        n.endsWith("._COPYING_")) ||
        n.startsWith("_common_metadata") || n.startsWith("_metadata")
    val files =
      if (top.isDirectory)
        fs.listStatus(p).toSeq
          .filter(f => f.isFile && listed(f.getPath.getName))
          .sortBy(_.getPath.toString)
      else Seq(top)
    val summaries = Seq("_common_metadata", "_metadata")
    val footerFile = summaries.flatMap(n => files.find(_.getPath.getName == n)).headOption
      .orElse(files.find(f => !summaries.contains(f.getPath.getName)))
      .getOrElse(throw new IllegalArgumentException(s"no parquet data file under $path"))
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(footerFile, hadoopConf))
    val footer = try reader.getFooter finally reader.close()
    ParquetFileFormat.readSchemaFromFooter(
      new Footer(footerFile.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }
}
