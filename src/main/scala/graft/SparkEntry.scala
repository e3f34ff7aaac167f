package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are contributed by per-module `QueryPack`s; each pack pairs a
  * Spark implementation with a DuckDB oracle (when SQL-expressible).
  */
object SparkEntry {
  private lazy val packs: Seq[QueryPack] = Seq(
    CoreQueries, StatsQueries, TransformQueries, MetricsQueries, DocQueries,
    EventQueries, SimQueries, TreeQueries, ModelQueries, MiscQueries,
    JoinWindowQueries, ProfilingQueries, TextExtraQueries, PipelineQueries,
    CurationQueries, GraphQueries, EnsembleQueries, CvTwinQueries)

  lazy val allQueries: Seq[GraftQuery] = {
    val qs = packs.flatMap(_.queries)
    val dup = qs.groupBy(_.name).filter(_._2.size > 1).keys
    require(dup.isEmpty, s"duplicate query names: ${dup.mkString(",")}")
    qs
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.flagship.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(o => q.name -> o.trim)).toMap

  /** The one session builder, for every main and the test suites: a local
    * master on `cores` threads (SPARK_GRAFT_CPUS, else every core),
    * `shufflePartitions` (SPARK_GRAFT_SHUFFLE_PARTITIONS, else one per
    * core), UTC session time, no UI, and the warehouse pinned to
    * SPARK_GRAFT_WAREHOUSE (else `target/scale/warehouse` under the working
    * directory), so bucketed-table writes land in the build output, not
    * in a stray `spark-warehouse`.
    */
  def session(
      cores: Int = sys.env.get("SPARK_GRAFT_CPUS")
        .fold(Runtime.getRuntime.availableProcessors)(_.toInt),
      shufflePartitions: Option[Int] = None): SparkSession = {
    val partitions = shufflePartitions
      .orElse(sys.env.get("SPARK_GRAFT_SHUFFLE_PARTITIONS").map(_.toInt))
      .getOrElse(cores)
    val warehouse = sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE",
      java.nio.file.Paths.get("target", "scale", "warehouse")
        .toAbsolutePath.toString)
    SparkSession.builder()
      .master(s"local[$cores]")
      .config(ShufflePartitions, partitions.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse)
      .getOrCreate()
  }

  val ShufflePartitions = "spark.sql.shuffle.partitions"
  private val confLocks = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, AnyRef]())

  /** The session's `spark.sql.shuffle.partitions`. */
  def shufflePartitions(spark: SparkSession): Int =
    spark.conf.get(ShufflePartitions).toInt

  /** The one way to scope a conf change: runs `body` with each `key ->
    * value` set on `spark`, then restores each key, unsetting one that was
    * unset. Scopes on one session take turns on its lock; without it two
    * overlapping scopes can restore out of order (A saves 4 and sets 8, B
    * saves 8 and sets 1, A restores 4, B restores 8) and leave the session
    * pinned. A body must not wait on another thread that enters a scope on
    * the same session.
    */
  def withConf[T](spark: SparkSession, settings: (String, String)*)(
      body: => T): T =
    confLocks.computeIfAbsent(spark, _ => new Object).synchronized {
      val prev = settings.map { case (k, v) =>
        val old = spark.conf.getAll.get(k); spark.conf.set(k, v); k -> old
      }
      try body finally prev.reverseIterator.foreach { case (k, old) =>
        old.fold(spark.conf.unset(k))(spark.conf.set(k, _))
      }
    }
}
