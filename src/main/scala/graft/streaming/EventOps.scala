package graft.streaming

import graft.Q
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

final case class UserEvent(user_id: Long, ts_us: Long, event_id: Long)
final case class SessionSummary(user_id: Long, n_events: Long, n_sessions: Long)
final case class SessState(lastTs: Long, sessions: Long, events: Long)
final case class FunnelEvent(
    user_id: Long, ts_us: Long, event_id: Long, event_type: String)
final case class FunnelState(s1: Long, s2: Long, s3: Long)
final case class FunnelUser(user_id: Long, s1: Long, s2: Long, s3: Long)

/** Event-stream operators, written as batch-testable DataFrame transforms
  * (the same logic drives Structured Streaming via `readStream` — see
  * `streamingHourly`).
  *
  * The events table has shipped `ts` as both TIMESTAMP(NANOS) (read as
  * raw int64 nanos via `nanosAsLong`) and TIMESTAMP(MICROS) (read as
  * TIMESTAMP_NTZ); [[EventOps.events]] normalizes either to the same
  * int64 nanos/micros columns, so every temporal computation stays
  * oracle-exact against DuckDB's `epoch_us(ts)`.
  */
object EventOps {

  /** Events with `ts` normalized to int64 nanos, `ts_us` as int64 micros
    * (= DuckDB `epoch_us(ts)` in every oracle), and `event_ts` as a real
    * timestamp. Handles both physical layouts the harness has shipped for
    * `ts`: TIMESTAMP(NANOS), which Spark only reads as raw int64 nanos
    * via the `nanosAsLong` legacy flag, and TIMESTAMP(MICROS), which
    * arrives as TIMESTAMP_NTZ — the UTC session timezone makes its cast
    * to micros-since-epoch value-preserving, matching `epoch_us` exactly.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = graft.Tables(spark, sfDir, "events")
    val nanos = raw.schema("ts").dataType match {
      case LongType => col("ts")
      case _ => unix_micros(col("ts").cast(TimestampType)) * 1000L
    }
    raw.withColumn("ts", nanos)
      .withColumn("ts_us", expr("ts div 1000"))
      .withColumn("event_ts", timestamp_micros(col("ts_us")))
  }

  /** Tumbling-hour aggregation per event type. */
  def hourly(df: DataFrame): DataFrame =
    df.groupBy(
        date_format(date_trunc("hour", col("event_ts")), "yyyy-MM-dd HH")
          .as("hour"),
        col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(Q.cents("value")).as("sum_value_cents"))
      .orderBy("hour", "event_type")

  /** Sliding-window counts: 2-hour windows advancing hourly, so every
    * event lands in exactly two windows (Spark's multi-assign
    * `window(col, len, slide)` — one Expand + one shuffle, no self-join).
    */
  def sliding(df: DataFrame): DataFrame =
    df.groupBy(window(col("event_ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(Q.cents("value")).as("sum_value_cents"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH").as("win_start"),
        col("event_type"), col("n"), col("sum_value_cents"))
      .orderBy("win_start", "event_type")

  /** Gap-based sessionization: a new session starts when the gap to the
    * previous event of the same user exceeds `gapNs`. One shuffle
    * (window by user).
    */
  def sessionize(df: DataFrame, gapUs: Long): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    df.withColumn("__prev", lag("ts_us", 1).over(w))
      .withColumn(
        "__new_sess",
        when(col("__prev").isNull || col("ts_us") - col("__prev") > gapUs, 1L)
          .otherwise(0L))
      .groupBy("user_id")
      .agg(
        count(lit(1)).as("n_events"),
        sum("__new_sess").as("n_sessions"))
      .orderBy("user_id")
  }

  /** Sessionization via Spark's NATIVE `session_window` aggregation — the
    * third implementation of the same semantics (lag-window batch,
    * flatMapGroupsWithState streaming, and this), all sharing one oracle.
    * Spark merges an event into the running session when its gap to the
    * previous event is <= gapDuration (end-inclusive merge — pinned by
    * the boundary case in EventOpsSpec), exactly the lag form's
    * `diff <= gap`, so the same gap value replays identically.
    * No per-user ordered window here: session merging happens inside the
    * aggregation, which at scale avoids the full per-user sort.
    */
  def sessionizeNative(df: DataFrame, gapUs: Long): DataFrame =
    df.groupBy(
        col("user_id"),
        session_window(col("event_ts"), s"$gapUs microseconds"))
      .agg(count(lit(1)).as("__n"))
      .groupBy("user_id")
      .agg(sum("__n").as("n_events"), count(lit(1)).as("n_sessions"))
      .orderBy("user_id")

  /** Interval join: per user, count (click, error) pairs where the click
    * falls within [error - gapUs, error]. Equi-join on user_id carries the
    * shuffle; the range predicate filters inside the join — at scale this
    * partitions by user and never goes cartesian.
    */
  def clickErrorPairs(df: DataFrame, gapUs: Long): DataFrame = {
    val c = df.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us").as("click_us"))
    val e = df.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts_us").as("err_us"))
    e.join(c, Seq("user_id"))
      .filter(col("click_us") >= col("err_us") - gapUs &&
        col("click_us") <= col("err_us"))
      .groupBy("user_id").agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  /** The same interval join rewritten as a pure EQUI-join via time
    * bucketing — the standard rewrite when a range join would otherwise
    * sort-merge on a low-selectivity key (or, with no equi key at all,
    * degenerate to a nested-loop): quantize time into gap-sized buckets,
    * register each probe-side row in its own bucket AND the previous one
    * (a [t-gap, t] window spans at most two buckets), equi-join on
    * (user, bucket), and re-apply the exact range predicate. Each click
    * is duplicated at most once, every join is hash-partitionable, and
    * the (click, error) pair dedup is free because the two bucket
    * registrations of a click can match the same error only once after
    * the range filter — DISTINCT on the pair guarantees it structurally.
    */
  def clickErrorPairsBucketed(df: DataFrame, gapUs: Long): DataFrame = {
    val c = df.filter(col("event_type") === "click")
      .select(col("user_id"), col("ts_us").as("click_us"),
        col("event_id").as("click_id"))
      .withColumn("bucket", explode(array(
        expr(s"click_us div $gapUs"), expr(s"click_us div $gapUs + 1"))))
    val e = df.filter(col("event_type") === "error")
      .select(col("user_id"), col("ts_us").as("err_us"),
        col("event_id").as("err_id"))
      .withColumn("bucket", expr(s"err_us div $gapUs"))
    e.join(c, Seq("user_id", "bucket"))
      .filter(col("click_us") >= col("err_us") - gapUs &&
        col("click_us") <= col("err_us"))
      .select("user_id", "err_id", "click_id").distinct()
      .groupBy("user_id").agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  /** The same interval join as a STREAM-STREAM join: two watermarked
    * streaming reads of the events, inner-joined on user + time range
    * (Spark buffers each side's state only up to the watermark bound),
    * appended to a memory sink and aggregated batch-side — hash-checked
    * by the identical DuckDB oracle as the batch form.
    */
  def streamingClickErrorPairs(
      spark: SparkSession, sfDir: String, gapUs: Long): DataFrame =
    clickErrorPairsStreamJoin(
      streamingEvents(spark, sfDir), gapUs, s"$sfDir/events.parquet")

  /** Shared stream-stream interval-join tail: watermarked click/error
    * split, range join, append memory sink, batch-side per-user count.
    * `ev` must carry `ts` (int64 nanos), `user_id`, `event_type`.
    */
  private def clickErrorPairsStreamJoin(
      ev: DataFrame, gapUs: Long, sourcePath: String): DataFrame = {
    val tsd = ev.withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
    val clicks = tsd.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val errors = tsd.filter(col("event_type") === "error")
      .select(col("user_id").as("e_user"), col("event_ts").as("err_ts"))
      .withWatermark("err_ts", "1 hour")
    val joined = clicks.join(
      errors,
      expr(s"""c_user = e_user
        AND click_ts >= err_ts - INTERVAL ${gapUs / 1000000L} SECONDS
        AND click_ts <= err_ts"""))
    Streams.drain(joined, "append", sourcePath)
      .groupBy(col("e_user").as("user_id"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy("user_id")
  }

  /** Ordered-ingestion interval join under a bounded trigger. On the raw
    * files, unordered in event time, the watermark evicts join state that
    * later batches still need; on an event-time-ordered copy the result
    * equals the batch oracle (all 168,000 sf100 pairs). This query writes
    * such a copy (range partition on ts, sorted within: the
    * `tools/sort_events.py` layout), stamps the parts' modification times
    * in range order so the file source ingests oldest first, and runs the
    * same watermarked join with maxFilesPerTrigger=1: one batch per file,
    * state bounded by the watermark, and the batch oracle's result.
    */
  def streamingClickErrorPairsOrderedResult(
      spark: SparkSession, sfDir: String, gapUs: Long): DataFrame = {
    val scratch = new org.apache.hadoop.fs.Path(
      graft.sources.Sources.scratchDir(spark, "ordered_events", sfDir))
    events(spark, sfDir)
      .drop("ts_us", "event_ts")
      .repartitionByRange(8, col("ts"))
      .sortWithinPartitions("ts")
      .write.mode("overwrite").parquet(scratch.toString)
    // The file stream source orders unseen files by modification time;
    // one write job stamps near-identical times, so re-stamp the range
    // parts 1 s apart in part-number order (= ascending ts range) —
    // metadata-only, works on HDFS/object stores via the same FS API.
    val fs = scratch.getFileSystem(spark.sessionState.newHadoopConf())
    val parts = fs.listStatus(scratch)
      .filter(_.getPath.getName.startsWith("part-"))
      .sortBy(_.getPath.getName)
    val t0 = System.currentTimeMillis() - parts.length * 1000L
    parts.zipWithIndex.foreach { case (st, i) =>
      fs.setTimes(st.getPath, t0 + i * 1000L, -1)
    }
    try {
      val schema = spark.read.parquet(scratch.toString).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(scratch.toString)
      clickErrorPairsStreamJoin(stream, gapUs, scratch.toString)
    } finally fs.delete(scratch, true) // memory sink holds the result
  }

  /** As-of lookup: for each 'error' event, the timestamp of that user's
    * most recent 'click' at or before it (window last-ignoreNulls — the
    * composable as-of-join primitive).
    */
  def lastClickBeforeError(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn(
        "last_click_us",
        last(when(col("event_type") === "click", col("ts_us")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("last_click_us"))
      .orderBy("event_id")
  }

  /** FORWARD as-of: the first click at-or-after each error (the
    * time-to-recovery lookup — the mirror of [[lastClickBeforeError]]):
    * a first-value window over the unbounded FOLLOWING frame, same
    * single exchange + sort.
    */
  def firstClickAfterError(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
      .rowsBetween(0, Window.unboundedFollowing)
    df.withColumn(
        "next_click_us",
        first(when(col("event_type") === "click", col("ts_us")),
          ignoreNulls = true).over(w))
      .filter(col("event_type") === "error")
      .select(col("event_id"), col("user_id"), col("ts_us"),
        col("next_click_us"),
        (col("next_click_us") - col("ts_us")).as("recovery_us"))
      .orderBy("event_id")
  }

  /** Custom-state streaming sessionization via `flatMapGroupsWithState`:
    * per-user session counts maintained incrementally across micro-batches
    * (the KeyValueGroupedDataset stateful-op surface). Events inside a
    * micro-batch are sorted per user; state carries the last-seen
    * timestamp across batches.
    */
  def statefulSessionCounts(
      ds: org.apache.spark.sql.Dataset[UserEvent], gapUs: Long)
      : org.apache.spark.sql.Dataset[SessionSummary] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = ds.sparkSession
    import spark.implicits._
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[UserEvent], state: GroupState[SessState]) =>
          val evs = it.toSeq.sortBy(e => (e.ts_us, e.event_id))
          var st = state.getOption.getOrElse(SessState(Long.MinValue, 0L, 0L))
          evs.foreach { e =>
            val newSession =
              st.lastTs == Long.MinValue || e.ts_us - st.lastTs > gapUs
            st = SessState(
              e.ts_us, st.sessions + (if (newSession) 1L else 0L),
              st.events + 1L)
          }
          state.update(st)
          Iterator(SessionSummary(user, st.events, st.sessions))
      }
  }

  /** Runs `streamingHourly` to completion through a memory sink (complete
    * mode) and returns the final table — this is how the driver gate
    * hash-checks the Structured Streaming path against the exact same
    * DuckDB oracle as the batch `hourly`.
    */
  def streamingHourlyResult(spark: SparkSession, sfDir: String): DataFrame =
    Streams.drain(streamingHourly(spark, sfDir), "complete",
        s"$sfDir/events.parquet")
      .orderBy("hour", "event_type")

  /** Stateful streaming sessionization run to completion: the
    * `flatMapGroupsWithState` operator over a streaming read of the same
    * events, update-mode memory sink. Counts are cumulative per user, so
    * the final value per user is the max across emitted updates — equal to
    * the batch `sessionize` output, hence checkable by the same oracle.
    */
  def streamingSessionizeResult(
      spark: SparkSession, sfDir: String, gapUs: Long): DataFrame = {
    import spark.implicits._
    val evs = streamingEvents(spark, sfDir)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"), col("event_id"))
      .as[UserEvent]
    Streams.drain(statefulSessionCounts(evs, gapUs).toDF(), "update",
        s"$sfDir/events.parquet")
      .groupBy("user_id")
      .agg(max("n_events").as("n_events"), max("n_sessions").as("n_sessions"))
      .orderBy("user_id")
  }

  /** Streaming read of the events parquet (layout-aware, schema from the
    * table's footer; see StreamRead). `ts` is normalized to int64 nanos
    * under both physical layouts, exactly as in [[events]], so downstream
    * `ts div 1000` micros math is layout-proof.
    */
  def streamingEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val stream = graft.sources.StreamRead.table(spark, sfDir, "events")
    stream.schema("ts").dataType match {
      case LongType => stream
      case _ => stream.withColumn(
        "ts", unix_micros(col("ts").cast(TimestampType)) * 1000L)
    }
  }

  /** STREAM-STATIC enrichment: the streaming events read inner-joined to
    * the static customer dimension on the user key (re-planned per
    * micro-batch; broadcastable), aggregated per market segment in
    * complete mode — the dimension-lookup pattern for event pipelines.
    */
  def streamingEnrichedResult(spark: SparkSession, sfDir: String): DataFrame = {
    val dim = graft.Tables(spark, sfDir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val enriched = streamingEvents(spark, sfDir)
      .join(dim, col("c_custkey") === col("user_id"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"), sum(Q.cents("value")).as("sum_value_cents"))
    Streams.drain(enriched, "complete", s"$sfDir/events.parquet")
      .orderBy("c_mktsegment")
  }

  /** Event count and cent sum per `w` window of `event_ts` and event type
    * over the watermarked event stream, the window start as column `start`.
    */
  private def streamingWindows(spark: SparkSession, sfDir: String,
      w: Column, start: String): DataFrame =
    streamingEvents(spark, sfDir)
      .withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
      .withWatermark("event_ts", "1 hour")
      .groupBy(w, col("event_type"))
      .agg(count(lit(1)).as("n"), sum(Q.cents("value")).as("sum_value_cents"))
      .select(
        date_format(col("window.start"), "yyyy-MM-dd HH").as(start),
        col("event_type"), col("n"), col("sum_value_cents"))

  /** The 2h/1h sliding-window aggregation as a Structured Streaming query
    * run to completion on a memory sink: the same multi-assign
    * `window(len, slide)` operator as the batch [[sliding]], against the
    * watermarked stream. Each event updates exactly two window states, and
    * the state is bounded by the watermark horizon, not the stream length.
    * The final table equals the batch [[sliding]] output and shares its
    * oracle.
    */
  def streamingSlidingResult(spark: SparkSession, sfDir: String): DataFrame =
    Streams.drain(streamingWindows(spark, sfDir,
        window(col("event_ts"), "2 hours", "1 hour"), "win_start"),
      "complete", s"$sfDir/events.parquet")
      .orderBy("win_start", "event_type")

  /** The hourly aggregation as a Structured Streaming query over the same
    * parquet (watermark + tumbling window). Returns the streaming DF; the
    * caller starts it (tests use a memory sink + processAllAvailable).
    */
  def streamingHourly(spark: SparkSession, sfDir: String): DataFrame =
    streamingWindows(spark, sfDir, window(col("event_ts"), "1 hour"), "hour")

  /** STREAMING daily-active-users: exact distinct counting as stateful
    * dedup (`dropDuplicates` on (user, day) keeps one state row per
    * first sighting) feeding a running count per day — the
    * streaming-exact-distinct pattern; complete-mode memory sink.
    */
  def streamingDauResult(spark: SparkSession, sfDir: String): DataFrame = {
    val dau = streamingEvents(spark, sfDir)
      .selectExpr("user_id", "(ts div 1000) div 86400000000 AS day")
      .dropDuplicates("user_id", "day")
      .groupBy("day").agg(count(lit(1)).as("dau"))
    Streams.drain(dau, "complete", s"$sfDir/events.parquet").orderBy("day")
  }

  /** Per-user trailing time-series features over the ordered event
    * stream: rolling count/sum/min/max/mean of value over the last 5
    * events, delta to the previous event, and an exponentially-weighted
    * (alpha = 1/2) score over the last 4 events. One shuffle on user_id;
    * every window shares the same partitioning + sort, so the whole
    * feature block is a single exchange + sort at any scale. All rolling
    * terms are integer cents (exact under any accumulation order); the
    * EW score is built from an explicit lag chain so each term is an
    * exact binary scaling of integer cents — bit-identical across
    * engines without trusting windowed float accumulation order.
    */
  def rollingUserFeatures(df: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val w5 = w.rowsBetween(-4, 0)
    val c = Q.cents("value")
    df.select(
        col("user_id"), col("event_id"), c.as("cents"),
        lag(c, 1).over(w).as("l1"), lag(c, 2).over(w).as("l2"),
        lag(c, 3).over(w).as("l3"),
        count(lit(1)).over(w5).as("n5"),
        sum(c).over(w5).as("sum5_cents"),
        min(c).over(w5).as("min5_cents"),
        max(c).over(w5).as("max5_cents"))
      .select(
        col("user_id"), col("event_id"), col("n5"), col("sum5_cents"),
        col("min5_cents"), col("max5_cents"),
        Q.r6(col("sum5_cents") / 100.0 / col("n5")).as("mean5"),
        (col("cents") - col("l1")).as("delta_cents"),
        (col("cents") / 1.0 + coalesce(col("l1"), lit(0L)) / 2.0 +
          coalesce(col("l2"), lit(0L)) / 4.0 +
          coalesce(col("l3"), lit(0L)) / 8.0).as("ew4_cents"))
  }

  /** STREAMING funnel state machine: per-user (s1, s2, s3) first-stage
    * timestamps maintained across micro-batches. In-batch events are
    * sorted by event time, and a forward time-order pass computes the
    * chained minima exactly (when a stage-2 event at t is processed,
    * every earlier stage-1 event is already folded into s1, so the
    * `ts >= s1` check uses s1's final value whenever it matters — the
    * same argument chains to s3). Long.MaxValue marks "not reached".
    */
  def statefulFunnel(
      ds: org.apache.spark.sql.Dataset[FunnelEvent],
      st1: String, st2: String, st3: String)
      : org.apache.spark.sql.Dataset[FunnelUser] = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val spark = ds.sparkSession
    import spark.implicits._
    val unset = Long.MaxValue
    ds.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (user: Long, it: Iterator[FunnelEvent], state: GroupState[FunnelState]) =>
          var s = state.getOption.getOrElse(FunnelState(unset, unset, unset))
          it.toSeq.sortBy(e => (e.ts_us, e.event_id)).foreach { e =>
            if (e.event_type == st1 && e.ts_us < s.s1) s = s.copy(s1 = e.ts_us)
            if (e.event_type == st2 && e.ts_us >= s.s1 && e.ts_us < s.s2)
              s = s.copy(s2 = e.ts_us)
            if (e.event_type == st3 && e.ts_us >= s.s2 && e.ts_us < s.s3)
              s = s.copy(s3 = e.ts_us)
          }
          state.update(s)
          Iterator(FunnelUser(user, s.s1, s.s2, s.s3))
      }
  }

  /** Drives [[statefulFunnel]] over the streaming events read to
    * completion and reduces the update-mode sink to the batch funnel's
    * summary row (states improve monotonically, so min per user is the
    * final state).
    */
  def streamingFunnelResult(
      spark: SparkSession, sfDir: String,
      st1: String, st2: String, st3: String): DataFrame = {
    import spark.implicits._
    val evs = streamingEvents(spark, sfDir)
      .select(col("user_id"), expr("ts div 1000").as("ts_us"),
        col("event_id"), col("event_type"))
      .as[FunnelEvent]
    val unset = Long.MaxValue
    Streams.drain(statefulFunnel(evs, st1, st2, st3).toDF(), "update",
        s"$sfDir/events.parquet")
      .groupBy("user_id")
      .agg(min("s1").as("s1"), min("s2").as("s2"), min("s3").as("s3"))
      .agg(
        sum(when(col("s1") =!= unset, 1L).otherwise(0L)).as("n_stage1"),
        sum(when(col("s2") =!= unset, 1L).otherwise(0L)).as("n_stage2"),
        sum(when(col("s3") =!= unset, 1L).otherwise(0L)).as("n_stage3"),
        when(sum(when(col("s1") =!= unset, 1L).otherwise(0L)) > 0,
          Q.r6(sum(when(col("s3") =!= unset, 1L).otherwise(0L)) * 1.0 /
            sum(when(col("s1") =!= unset, 1L).otherwise(0L))))
          .as("conversion"))
  }

  /** Ordered conversion funnel: the first `stages(0)` event per user,
    * the first `stages(1)` at-or-after it, the first `stages(2)`
    * at-or-after that. Three chained min-over-user windows — one shuffle,
    * the sort is reused by every pass — then a per-user collapse and one
    * global count row. No self-joins, so the funnel holds at any event
    * volume.
    */
  def funnel(
      df: DataFrame, stages: Seq[String],
      maxLagUs: Long = Long.MaxValue): DataFrame = {
    require(stages.length == 3, "funnel expects exactly 3 stages")
    val w = Window.partitionBy("user_id")
    def within(prev: Column): Column =
      if (maxLagUs == Long.MaxValue) col("ts_us") >= prev
      else col("ts_us") >= prev && col("ts_us") <= prev + maxLagUs
    val s1 = df.withColumn(
      "s1", min(when(col("event_type") === stages(0), col("ts_us"))).over(w))
    val s2 = s1.withColumn(
      "s2", min(when(col("event_type") === stages(1) &&
        within(col("s1")), col("ts_us"))).over(w))
    val s3 = s2.withColumn(
      "s3", min(when(col("event_type") === stages(2) &&
        within(col("s2")), col("ts_us"))).over(w))
    s3.groupBy("user_id")
      .agg(max("s1").as("u1"), max("s2").as("u2"), max("s3").as("u3"))
      .agg(
        count(col("u1")).as("n_stage1"),
        count(col("u2")).as("n_stage2"),
        count(col("u3")).as("n_stage3"),
        // guard: zero stage-1 users must yield NULL, not an ANSI
        // divide-by-zero error
        when(count(col("u1")) > 0,
          Q.r6(count(col("u3")) * 1.0 / count(col("u1"))))
          .as("conversion"))
  }
}
