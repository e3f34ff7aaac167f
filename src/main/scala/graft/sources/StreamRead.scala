package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming file-source read of `sfDir/<table>.parquet` that handles
  * BOTH table layouts in play: the driver's single parquet FILE directly
  * under sfDir (the file-stream source requires a directory path, so
  * point it at sfDir and glob-filter down to the one file), and the
  * scale rungs' DIRECTORY of part files written by Spark/ScaleUp (point
  * at it directly). Using the glob form against the directory layout
  * matches nothing and silently streams an EMPTY source — a timing that
  * looks impossibly fast and a result that is wrong, not failing.
  */
object StreamRead {
  /** Layout probe via the Hadoop FileSystem API, so it answers correctly
    * for hdfs:// and object-store URIs too (a java.io.File check is
    * always false there and would silently route a directory-shaped
    * table into the empty-matching glob branch). A source that resolves
    * to nothing fails fast instead of streaming an empty table. The
    * stream's schema is the table's own footer schema.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val base = s"$sfDir/$name.parquet"
    val path = new Path(base)
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    require(fs.exists(path),
      s"stream source $base matches nothing — refusing to stream an " +
        "empty table")
    val rd = spark.readStream.schema(graft.Tables.schema(spark, base))
    if (fs.getFileStatus(path).isDirectory)
      rd.parquet(base)
    else
      rd.option("pathGlobFilter", s"$name.parquet").parquet(sfDir)
  }
}
