package graft.streaming

import graft.{SparkEntry, SparkTestSession}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch}
import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryException
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Pins the one stream runner (`Streams.drain`) and the one conf scope
  * (`SparkEntry.withShufflePartitions`): a drained stream leaves nothing
  * in the session catalog, overlapping scopes never leave a session
  * pinned, and no query or failed drain changes the session's shuffle
  * partitions. Every test runs on its own child session, so the catalog
  * and conf it checks are its own.
  */
class StreamsSpec extends AnyFunSuite with SparkTestSession {
  private val sfDir = "/root/testdata/sf0.001"
  private val key = "spark.sql.shuffle.partitions"

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
    val start = new CountDownLatch(1)
    val seen = new ConcurrentLinkedQueue[(Int, String, String)]()
    val threads = (1 to 8).map { i =>
      val n = 100 + i
      new Thread(() => {
        start.await()
        SparkEntry.withShufflePartitions(s, n) {
          val before = s.conf.get(key)
          Thread.sleep(20)
          seen.add((n, before, s.conf.get(key)))
        }
      })
    }
    threads.foreach(_.start())
    start.countDown()
    threads.foreach(_.join())
    assert(seen.asScala.toSeq.sortBy(_._1) ===
      (101 to 108).map(n => (n, n.toString, n.toString)))
    assert(s.conf.get(key) === original)
  }

  test("gates, the foreachBatch stream and failed drains keep the conf") {
    val s = spark.newSession()
    val original = s.conf.get(key)
    for (q <- Seq("house_pipeline_gate", "sol2_pipeline_gate",
        "latest_status_stream")) {
      assert(run(s, q).count() > 0L, q)
      assert(s.conf.get(key) === original, q)
    }
    val docs = graft.sources.StreamRead.table(s, sfDir, "documents")
    val source = s"$sfDir/documents.parquet"
    // fails at start: an aggregate without a watermark cannot append
    intercept[AnalysisException] {
      Streams.drain(docs.groupBy("lang").count(), "append", source)
    }
    assert(s.conf.get(key) === original)
    // fails in the first micro-batch
    intercept[StreamingQueryException] {
      Streams.drain(docs.select(raise_error(lit("boom"))), "append", source)
    }
    assert(s.conf.get(key) === original)
    assert(s.streams.active.isEmpty)
    assert(tempViews(s).isEmpty)
  }
}
