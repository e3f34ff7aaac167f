package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/** The one stream runner. [[drain]] runs a streaming frame to completion
  * on a memory sink and hands back the drained rows as a batch frame;
  * every Structured Streaming twin in the engine goes through it.
  *
  * State sizing: a streaming query's state-store partition count is FIXED
  * at start from `spark.sql.shuffle.partitions`, and AQE never coalesces
  * it. At the session default (one partition per core) each stateful
  * operator opens one store per core (four per partition for a
  * stream-stream join) even when the whole state is a few KB, so the
  * fixed open/commit cost per micro-batch grows with the core count while
  * the work does not: `interval_join_ordered_stream` measured 35.2 s at
  * 32 cores vs 7.4 s at 8 with identical plans. The count is therefore
  * derived from the data: ceil(source bytes / advisory partition size),
  * floored at 1. The source size bounds the state (join buffers, dedup
  * keys and window panes all hold at most the rows that flow in), so a
  * 2 MB source runs 1 state partition per operator and a 2 GB one ~32.
  * Every drained output is a per-key aggregate, dedup or projection whose
  * value does not depend on the partition count.
  */
object Streams {

  /** Total bytes under `path` (file or directory), 0 if absent. */
  def sourceBytes(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }

  /** Partition count for `bytes` of source data: one per advisory
    * partition size (the same knob AQE sizes batch shuffles with),
    * floored at 1.
    */
  def statePartitions(spark: SparkSession, bytes: Long): Int = {
    val advisory = org.apache.spark.network.util.JavaUtils
      .byteStringAsBytes(spark.conf.get(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"))
    math.max(1L, (bytes + advisory - 1) / advisory).toInt
  }

  /** Starts a stream (`start`) with its state partitions sized to the
    * bytes under `source`. The count is captured when the query starts,
    * so only the start runs inside the conf scope.
    */
  def withStatePartitions(spark: SparkSession, source: String)(
      start: => StreamingQuery): StreamingQuery =
    graft.SparkEntry.withShufflePartitions(
      spark, statePartitions(spark, sourceBytes(spark, source)))(start)

  /** Runs `stream` to completion on a memory sink in output `mode`, with
    * its state sized to `source`, and returns the drained rows. The sink's
    * temp view is dropped before returning; the frame stays valid because
    * its analyzed plan holds the sink itself.
    */
  def drain(stream: DataFrame, mode: String, source: String): DataFrame = {
    val spark = stream.sparkSession
    val name = "graft_stream_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val sq = withStatePartitions(spark, source) {
      stream.writeStream.format("memory").queryName(name)
        .outputMode(mode).start()
    }
    try {
      try sq.processAllAvailable() finally sq.stop()
      spark.table(name)
    } finally spark.catalog.dropTempView(name)
  }
}
