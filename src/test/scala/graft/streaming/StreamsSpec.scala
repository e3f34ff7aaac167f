package graft.streaming

import graft.{SparkEntry, SparkTestSession}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.graft.ListenerBusDrain
import org.apache.spark.sql.streaming.{StreamingQueryException, StreamingQueryListener}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins the one stream runner (`Streams.drain`) and the one conf scope
  * (`SparkEntry.withConf`): a drained stream leaves nothing in the
  * session catalog or its checkpoint location, runs no batch that only
  * advances the watermark unless an operator can emit in it, overlapping
  * scopes never leave a session pinned, and no query or failed drain
  * changes the session's conf. Every test runs on its own child session,
  * so the catalog, conf and streams it checks are its own.
  */
class StreamsSpec extends AnyFunSuite with SparkTestSession {
  private val sfDir = "/root/testdata/sf0.001"
  private val key = "spark.sql.shuffle.partitions"
  /** Set only inside a drain's start scope; unset on the test session. */
  private val drainKeys = Seq(
    "spark.sql.streaming.checkpointFileManagerClass",
    "spark.sql.streaming.noDataMicroBatches.enabled")

  private def run(s: SparkSession, query: String) =
    SparkEntry.queries(query)(s, sfDir)

  private def tempViews(s: SparkSession) =
    s.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSeq

  test("a drained stream leaves no temp view and its frame still reads") {
    val s = spark.newSession()
    val hourly = run(s, "events_hourly_stream")
    val cms = run(s, "cms_heavy_hitters_stream")
    val hll = run(s, "hll_users_stream")
    assert(tempViews(s).isEmpty)
    assert(hourly.collect().toSet ===
      run(s, "events_hourly").collect().toSet)
    assert(cms.collect().toSet ===
      run(s, "cms_heavy_hitters_tokens").collect().toSet)
    assert(cms.count() === 20L)
    assert(hll.count() === 1L)
  }

  test("overlapping conf scopes each see their own value and restore it") {
    val s = spark.newSession()
    val original = s.conf.get(key)
    val unset = "spark.graft.test.scoped"
    assert(s.conf.getOption(unset).isEmpty)
    val start = new CountDownLatch(1)
    val seen = new ConcurrentLinkedQueue[(Int, String, String, String)]()
    val threads = (1 to 8).map { i =>
      val n = 100 + i
      new Thread(() => {
        start.await()
        SparkEntry.withConf(s, key -> n.toString, unset -> s"v$n") {
          val before = s.conf.get(key)
          Thread.sleep(20)
          seen.add((n, before, s.conf.get(key), s.conf.get(unset)))
        }
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    assert(seen.asScala.toSeq.sortBy(_._1) ===
      (101 to 108).map(n => (n, n.toString, n.toString, s"v$n")))
    assert(s.conf.get(key) === original)
    assert(s.conf.getOption(unset).isEmpty)
    assert(!s.conf.getAll.contains(unset))
  }

  test("gates, the foreachBatch stream and failed drains keep the conf") {
    val s = spark.newSession()
    val original = s.conf.get(key)
    def unchanged(clue: String) = {
      assert(s.conf.get(key) === original, clue)
      drainKeys.foreach(k => assert(!s.conf.getAll.contains(k), s"$clue $k"))
    }
    unchanged("before")
    for (q <- Seq("house_pipeline_gate", "sol2_pipeline_gate",
        "latest_status_stream", "events_hourly_stream",
        "interval_join_stream")) {
      assert(run(s, q).count() > 0L, q)
      unchanged(q)
    }
    val docs = graft.sources.StreamRead.table(s, sfDir, "documents")
    val source = s"$sfDir/documents.parquet"
    // fails at start: an aggregate without a watermark cannot append
    intercept[AnalysisException] {
      Streams.drain(docs.groupBy("lang").count(), "append", source)
    }
    unchanged("failed at start")
    // fails in the first micro-batch
    intercept[StreamingQueryException] {
      Streams.drain(docs.select(raise_error(lit("boom"))), "append", source)
    }
    unchanged("failed in a batch")
    assert(s.streams.active.isEmpty)
    assert(tempViews(s).isEmpty)
  }

  test("a drained interval join runs one batch and equals the batch join") {
    val s = spark.newSession()
    val batches = new ConcurrentLinkedQueue[Long]()
    s.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent) = ()
      def onQueryTerminated(
          e: StreamingQueryListener.QueryTerminatedEvent) = ()
      override def onQueryProgress(
          e: StreamingQueryListener.QueryProgressEvent) =
        batches.add(e.progress.batchId): Unit
    })
    val joined = run(s, "interval_join_stream").collect()
    ListenerBusDrain(s.sparkContext)
    assert(batches.asScala.toSeq === Seq(0L))
    assert(joined.toSeq === run(s, "interval_join_click_error").collect().toSeq)
  }

  test("an append-mode window count keeps the batch that closes windows") {
    val s = spark.newSession()
    val ev = EventOps.streamingEvents(s, sfDir)
      .withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
    val counts = Streams.drain(
      ev.withWatermark("event_ts", "0 seconds")
        .groupBy(window(col("event_ts"), "1 hour")).count(),
      "append", s"$sfDir/events.parquet").collect().toSet
    val batch = EventOps.events(s, sfDir)
    val last = batch.agg(max("event_ts")).head().getTimestamp(0)
    val closed = batch.groupBy(window(col("event_ts"), "1 hour")).count()
      .filter(col("window.end") <= lit(last)).collect().toSet
    assert(closed.size > 1)
    assert(counts === closed)
  }

  test("a drain leaves nothing under the session's checkpoint location") {
    val s = spark.newSession()
    val root = java.nio.file.Files.createTempDirectory("graft_ckpt").toFile
    s.conf.set("spark.sql.streaming.checkpointLocation", root.toString)
    def left = Option(root.list()).toSeq.flatten
      .filter(_.startsWith("graft_stream_"))
    try {
      assert(run(s, "events_hourly_stream").count() > 0L)
      assert(run(s, "interval_join_stream").count() > 0L)
      val docs = graft.sources.StreamRead.table(s, sfDir, "documents")
      intercept[StreamingQueryException] {
        Streams.drain(docs.select(raise_error(lit("boom"))), "append",
          s"$sfDir/documents.parquet")
      }
      assert(left.isEmpty, left)
    } finally graft.sources.Sources.deleteRecursively(root.toString)
  }
}
