package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD
import scala.jdk.CollectionConverters._

/** The one registry for intermediates that several queries share: fitted
  * models, indexes, driver-local frames ([[memo]]) and checkpointed
  * chains ([[frame]]). Every entry is keyed by (session, key), so a child
  * session from `newSession()` never reads its parent's entries, and
  * [[clear]] drops one session's entries. `graft.Bench` and `graft.Verify`
  * clear before every rep, so each timed query pays its own cold cost;
  * a sweep that does not clear shares every entry across queries.
  *
  * Each key is built at most once: threads that miss together wait on one
  * build. Every entry has its own lock, so a build may call [[memo]] for
  * other keys (the dedup chains and the k-means index nest that way). A
  * build that throws leaves its entry empty for the next caller to retry.
  *
  * [[frame]] entries are localCheckpoint'd, so their lineage is TRUNCATED:
  * an `unpersist` of every persistent RDD would not make them recompute,
  * it would make every later reader fail with a lost checkpoint block.
  * Their RDD ids stay protected until [[clear]], and a between-query
  * cleanup that keeps shared chains alive skips ids for which
  * [[isProtected]] holds. The perfbench harness looks that method up by
  * reflection on `graft.ChainGuard$`, so its name and signature are a
  * contract (`ChainGuardSpec` pins the lookup).
  */
object ChainGuard {
  private final class Entry(build: () => Any) {
    @volatile var built = false
    lazy val value: Any = { val v = build(); built = true; v }
  }

  private val entries = new ConcurrentHashMap[(SparkSession, String), Entry]()
  // protected checkpoint RDD id -> the session whose frame entry owns it
  private val owners = new ConcurrentHashMap[Integer, SparkSession]()

  /** The value under (spark, key), running `build` on the first call. */
  def memo[T](spark: SparkSession, key: String)(build: => T): T = {
    val fresh = new Entry(() => build)
    val e = Option(entries.putIfAbsent((spark, key), fresh)).getOrElse(fresh)
    e.value.asInstanceOf[T]
  }

  /** The value under (spark, key) if its build has finished; never builds
    * and never waits for a build in flight. */
  def built[T](spark: SparkSession, key: String): Option[T] =
    Option(entries.get((spark, key))).filter(_.built)
      .map(_.value.asInstanceOf[T])

  /** [[memo]] for a DataFrame read by several queries: materialized once
    * with `localCheckpoint`, its RDD protected until [[clear]]. */
  def frame(spark: SparkSession, key: String)(build: => DataFrame): DataFrame =
    memo(spark, key) {
      val out = build.localCheckpoint()
      out.queryExecution.analyzed.collectFirst {
        case lr: LogicalRDD => lr.rdd.id
      }.foreach(id => owners.put(id, spark))
      out
    }

  /** Drops every entry of `spark` and blocking-unpersists the checkpoint
    * blocks of its frames. Not meant to race queries on the same session. */
  def clear(spark: SparkSession): Unit = {
    entries.keySet.removeIf(_._1 eq spark)
    owners.asScala.collect { case (id, s) if s eq spark => id }.foreach { id =>
      spark.sparkContext.getPersistentRDDs.get(id)
        .foreach(_.unpersist(blocking = true))
      owners.remove(id)
    }
  }

  def isProtected(id: Int): Boolean = owners.containsKey(id)
}
