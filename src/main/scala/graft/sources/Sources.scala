package graft.sources

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Sources/sinks matching the reference's I/O surface (SURVEY §2.1).
  *
  * S1: CSV scan with an explicit schema — never inferSchema in the engine
  * (double scan + nondeterministic type promotion; SURVEY §1.3).
  * S2: submission sink — header, no index column
  * (house_predict.py:622-628). `coalesce(1)` mirrors the reference's
  * single-file contract; drop it for sharded big outputs.
  */
object Sources {

  /** NULL's CSV spelling on both sides, apart from the `""` of an empty text:
    * `''`, blank texts and NULL round-trip as themselves (a text `\N` does not). */
  private val CsvNull = "\\N"

  def readCsv(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.option("header", "true").option("nullValue", CsvNull)
      .schema(schema).csv(path)

  def writeSubmissionCsv(
      df: DataFrame, path: String, cols: Seq[String] = Seq("id", "label"),
      singleFile: Boolean = true): Unit = {
    val out = df.select(cols.head, cols.tail: _*)
    (if (singleFile) out.coalesce(1) else out)
      .write.mode("overwrite").option("header", "true")
      .option("nullValue", CsvNull)
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .csv(path)
  }

  /** JSONL (newline-delimited JSON) scan with an explicit schema — the
    * interchange format real document corpora ship in. Schema-on-read is
    * mandatory for the same reason as S1: inference double-scans and
    * type-promotes nondeterministically, and at corpus scale a JSON
    * inference pass over 100 TB is a full extra read.
    */
  def readJsonl(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read.schema(schema).json(path)

  /** Sharded JSONL sink (one object per line per row). */
  def writeJsonl(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").json(path)

  /** ORC scan/sink — the second columnar format Spark ships natively;
    * typed round-trip like parquet (predicate pushdown + column pruning
    * both apply, same as the parquet path).
    */
  def readOrc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  def writeOrc(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").orc(path)

  // -------------------------------------------------------------------
  // Scratch dirs for the round-trip gates.
  // -------------------------------------------------------------------
  private val scratchRoots =
    java.util.Collections.synchronizedSet(new java.util.HashSet[String]())
  private lazy val cleanupHook: Unit =
    sys.addShutdownHook(scratchRoots.forEach(deleteRecursively(_))): Unit

  /** Deletes the file or directory tree at `path`, if there is one. */
  def deleteRecursively(
      path: String, conf: Configuration = new Configuration()): Unit = {
    val p = new Path(path)
    p.getFileSystem(conf).delete(p, true): Unit
  }

  /** Per-run scratch dir for a round-trip gate: salted with the Spark
    * applicationId so concurrent runs against the same data dir (e.g.
    * bench and verify overlapping in tmux) never clobber each other's
    * shards mid-read, and deleted recursively on JVM exit so a
    * Bench+Verify cycle leaves no `graft_*_roundtrip` residue. Rooted
    * under `java.io.tmpdir`, so no query writes outside a configured dir.
    * (mode=overwrite already handles delete-on-rerun within a JVM.)
    */
  def scratchDir(spark: SparkSession, kind: String, dataDir: String): String = {
    val root = java.nio.file.Paths.get(System.getProperty("java.io.tmpdir"),
      s"graft_${kind}_roundtrip", spark.sparkContext.applicationId).toString
    cleanupHook
    scratchRoots.add(root): Unit
    s"$root/${dataDir.replaceAll("[^A-Za-z0-9]+", "_")}"
  }
}
