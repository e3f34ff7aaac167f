package graft.streaming

import graft.SparkEntry.{ShufflePartitions, withConf}
import graft.sources.Sources
import org.apache.hadoop.fs.Path
import org.apache.spark.network.util.JavaUtils
import org.apache.spark.sql.{DataFrame, GraftStateBridge, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{NamedExpression, SessionWindow}
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
import org.apache.spark.sql.streaming.{GroupStateTimeout, StreamingQuery}

/** The one stream runner. [[drain]] runs a streaming frame to completion
  * on a memory sink and hands back the drained rows as a batch frame;
  * every Structured Streaming twin in the engine goes through it.
  *
  * State partitions: a stream fixes its state-store partition count at
  * start from `spark.sql.shuffle.partitions` (AQE never coalesces it), and
  * each store costs a fixed open/commit per batch however small the state
  * (`interval_join_ordered_stream`: 35.2 s at 32 cores, 7.4 s at 8). The
  * count is ceil(source bytes / advisory partition size): the source
  * bounds the state, and no drained output depends on the count.
  *
  * Checkpoint: Spark's FileSystem checkpoint manager. The default
  * FileContext one looks up link status on every atomic rename, of each
  * file and its `.crc`, and without the Hadoop native library each lookup
  * forks `readlink`: 408 of the 621 subprocesses of a `sql_events` bench
  * pass, all from its four drains. The atomic rename only protects a
  * restart, and a drain never restarts: its checkpoint is new and deleted.
  *
  * No-data batches: after the data, Spark runs a batch that only advances
  * the watermark. [[idleBatchesEmitNothing]] skips it when no operator
  * can emit in it: an inner stream-stream join (an evicted row can match
  * nothing later), a dedup (eviction forgets keys), an aggregate in
  * complete or update mode (complete re-emits the same table, update only
  * keys that got rows) and `flatMapGroupsWithState` without a timeout (it
  * runs only for keys with rows). Anything else keeps it: append-mode
  * aggregates and session windows emit windows the watermark closes,
  * outer/semi/anti stream joins emit unmatched rows on eviction, and
  * timeouts and `transformWithState` fire on it.
  */
object Streams {
  private val CheckpointLocation = "spark.sql.streaming.checkpointLocation"

  /** Starts a stream with `settings` and state partitions sized to the
    * bytes under `source`; only the start, which captures them, is scoped.
    */
  def withStatePartitions(spark: SparkSession, source: String,
      settings: (String, String)*)(start: => StreamingQuery): StreamingQuery = {
    val p = new Path(source)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val bytes = if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
    val advisory = JavaUtils.byteStringAsBytes(spark.conf.get(
      "spark.sql.adaptive.advisoryPartitionSizeInBytes", "64MB"))
    val n = math.max(1L, (bytes + advisory - 1) / advisory)
    withConf(spark, settings :+ ShufflePartitions -> n.toString: _*)(start)
  }

  /** True when no operator in the streaming part of `plan`, drained in
    * output `mode`, can emit rows in a batch that reads no data. */
  private def idleBatchesEmitNothing(plan: LogicalPlan, mode: String) =
    !plan.exists {
      case p if !p.isStreaming => false
      case j: Join =>
        j.joinType != Inner && j.left.isStreaming && j.right.isStreaming
      case _: Deduplicate | _: DeduplicateWithinWatermark => false
      case a: Aggregate => mode.equalsIgnoreCase("append") ||
        a.groupingExpressions.exists {
          case e: NamedExpression => e.metadata.contains(SessionWindow.marker)
          case _ => false
        }
      case f: FlatMapGroupsWithState =>
        f.timeout != GroupStateTimeout.NoTimeout
      case _: LeafNode | _: Project | _: Filter | _: SubqueryAlias |
          _: EventTimeWatermark | _: Union | _: Expand | _: Generate |
          _: RepartitionOperation | _: DeserializeToObject |
          _: SerializeFromObject | _: AppendColumns => false
      case _ => true
    }

  /** Runs `stream` to completion on a memory sink in output `mode`, with
    * its state sized to `source`, and returns the drained rows. Its temp
    * view, loaded state stores and checkpoint (under the session's
    * checkpoint location, else `java.io.tmpdir`) are gone when it returns
    * or throws; the frame stays valid because its plan holds the sink.
    */
  def drain(stream: DataFrame, mode: String, source: String): DataFrame = {
    val spark = stream.sparkSession
    val name = "graft_stream_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    val checkpoint = new Path(spark.conf.getOption(CheckpointLocation)
      .getOrElse(System.getProperty("java.io.tmpdir")), name).toString
    val settings = ("spark.sql.streaming.checkpointFileManagerClass" ->
      classOf[FileSystemBasedCheckpointFileManager].getName) +:
      Option.when(idleBatchesEmitNothing(stream.queryExecution.analyzed,
        mode))("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")
        .toSeq
    try {
      val sq = withStatePartitions(spark, source, settings: _*) {
        val q = stream.writeStream.format("memory").queryName(name)
          .option("checkpointLocation", checkpoint).outputMode(mode).start()
        // the stream's thread makes the sources' logs after `start`, from
        // the reading session's conf: they must see the manager setting
        q.asInstanceOf[StreamingQueryWrapper].streamingQuery
          .awaitInitialization(Long.MaxValue)
        q
      }
      try sq.processAllAvailable()
      finally { sq.stop(); GraftStateBridge.unloadStateStores(sq) }
      spark.table(name)
    } finally {
      spark.catalog.dropTempView(name)
      Sources.deleteRecursively(checkpoint, spark.sessionState.newHadoopConf())
    }
  }
}
