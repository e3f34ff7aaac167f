package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{Success, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbench.Bridge
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

/** One cold pass of a benchmark workload in a fresh JVM.
  *
  * Runs the named queries serially in the order given, one call each:
  * `run(spark, dataDir)` (construct), `queryExecution.executedPlan`
  * (plan), then an order-independent digest over every column of the
  * full result (the checked action). Cleanup between queries happens
  * outside every timer. With `--trace 1` a SparkListener, a
  * StreamingQueryListener and a JMX sampler record spans and per-layer
  * counters; the untraced pass registers none of them.
  *
  * Usage: Harness --data DIR --work DIR --out FILE --trace 0|1
  *          --cores N --launch-us EPOCH_US --queries q1,q2,...
  *          [--dump DIR]   (write each result as parquet instead of timing)
  */
object Harness {
  private val SpanKey = "graftbench.span"

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val traced = a("trace") == "1"
    val cores = a("cores").toInt
    val names = a("queries").split(",").toSeq.filter(_.nonEmpty)

    val launchUs = a("launch-us").toLong
    val jvmUs = ManagementFactory.getRuntimeMXBean.getStartTime * 1000
    val spark = session(work, cores)
    val sc = spark.sparkContext
    sc.setLogLevel("ERROR")
    val sessionUs = nowUs()
    warmUp(spark, a("data"))
    val readyUs = nowUs()
    val setupS = (readyUs - launchUs) / 1e6

    a.get("dump") match {
      case Some(dir) =>
        dump(spark, a("data"), dir, names)
        write(a("out"), Json.render(Json.obj("dumped" -> names.size)))
      case None =>
        val rec = if (traced) Some(new Recorder(sc)) else None
        rec.foreach { r =>
          sc.addSparkListener(r.jobs)
          spark.streams.addListener(r.streams)
          r.sampler.start()
        }
        val runs = names.zipWithIndex.map { case (n, i) => timeOne(spark, a("data"), n, i, rec) }
        rec.foreach { r =>
          r.sampler.interrupt(); r.sampler.join()
          Bridge.drainListeners(sc)
        }
        val rddsLeft = sc.getPersistentRDDs.size
        val out = Json.obj(
          "setup_s" -> setupS,
          "live_heap_mb" -> retainedHeapMb(),
          "setup_parts" -> Json.obj("jvm_s" -> (jvmUs - launchUs) / 1e6,
            "session_s" -> (sessionUs - jvmUs) / 1e6, "warmup_s" -> (readyUs - sessionUs) / 1e6),
          "queries" -> runs.map(_.json),
          "layers" -> rec.map(r => Json.obj(r.layers(runs, cores, rddsLeft).toSeq: _*)).orNull)
        write(a("out"), Json.render(out))
        rec.foreach { r =>
          write(s"${a("out")}.records.jsonl", r.records(runs).map(Json.render).mkString("", "\n", "\n"))
          write(s"${a("out")}.trace.json", Json.render(r.trace(runs)))
        }
    }
    spark.stop()
  }

  /** The one session configuration of the benchmark: local mode on every
    * core, one shuffle partition per core, UTC, and every path Spark
    * writes under the run's work directory.
    */
  def session(work: String, cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()

  /** Set-up warm-up through Spark's generic paths only, so the first
    * timed query does not carry the JVM's first class loading and
    * compilations: the digest of the largest input table, and one join
    * with a shuffle aggregate. No engine code runs, so its caches stay
    * cold.
    */
  def warmUp(spark: SparkSession, data: String): Unit = {
    val li = spark.read.parquet(s"$data/lineitem.parquet")
    val o = spark.read.parquet(s"$data/orders.parquet")
    digest(li)
    li.join(o, li("l_orderkey") === o("o_orderkey"))
      .groupBy("o_orderpriority").agg(sum("l_quantity")).collect()
  }

  def nowUs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000L + i.getNano / 1000
  }

  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val jit = ManagementFactory.getCompilationMXBean
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  /** Process-wide counters read at the edges of every timed interval. */
  final case class Counters(cpuNs: Long, jitMs: Long, gcMs: Long, gcCount: Long) {
    def -(o: Counters) = Counters(cpuNs - o.cpuNs, jitMs - o.jitMs, gcMs - o.gcMs, gcCount - o.gcCount)
  }
  def counters(): Counters = Counters(
    os.getProcessCpuTime, jit.getTotalCompilationTime,
    gcs.map(_.getCollectionTime).sum, gcs.map(_.getCollectionCount).sum)

  /** Heap the session retains after the pass: full collections around a
    * pause, so the ContextCleaner can first drop the shuffle and broadcast
    * state of the queries' now-unreachable frames.
    */
  def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(300)
    System.gc()
    liveHeapMb()
  }

  /** Heap still occupied after the last collection, summed over pools. */
  def liveHeapMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0

  final case class Phase(name: String, startUs: Long, endUs: Long)

  final case class QueryRun(
      index: Int, name: String, pack: String, status: String, error: String,
      phases: Seq[Phase], startUs: Long, endUs: Long, delta: Counters,
      rows: Long, digest: String, schema: String, liveHeapMb: Double,
      storageMb: Double) {
    def seconds(p: String): Double =
      phases.find(_.name == p).map(x => (x.endUs - x.startUs) / 1e6).getOrElse(0.0)
    def wallS: Double = (endUs - startUs) / 1e6
    def json: Json.Obj = Json.obj(
      "name" -> name, "pack" -> pack, "status" -> status, "error" -> error,
      "wall_s" -> wallS, "construct_s" -> seconds("construct"),
      "plan_s" -> seconds("plan"), "action_s" -> seconds("action"),
      "cpu_s" -> delta.cpuNs / 1e9, "jit_s" -> delta.jitMs / 1e3,
      "gc_s" -> delta.gcMs / 1e3, "gc_count" -> delta.gcCount,
      "rows" -> rows, "digest" -> digest, "schema" -> schema,
      "live_heap_mb" -> liveHeapMb)
  }

  /** Pack of a registered query: the object its run function was defined
    * in, read from the closure's class name (`graft.queries.X$$Lambda...`).
    */
  private def packOf(run: AnyRef): String = {
    val n = run.getClass.getName.takeWhile(_ != '$')
    n.substring(n.lastIndexOf('.') + 1)
  }

  def timeOne(spark: SparkSession, data: String, name: String, index: Int,
      rec: Option[Recorder]): QueryRun = {
    val sc = spark.sparkContext
    val query = graft.SparkEntry.allQueries.find(_.name == name)
    val phases = mutable.ArrayBuffer.empty[Phase]
    var status = "ok"
    var error = ""
    var rows = -1L
    var digestStr = ""
    var schema = ""
    def phase[T](p: String)(body: => T): T = {
      sc.setLocalProperty(SpanKey, s"$index:$p")
      val s = nowUs()
      try body finally phases += Phase(p, s, nowUs())
    }
    val c0 = counters()
    val startUs = nowUs()
    try {
      val q = query.getOrElse(throw new NoSuchElementException(s"no query named $name"))
      val df = phase("construct")(q.run(spark, data))
      phase("plan")(df.queryExecution.executedPlan)
      val (n, d) = phase("action")(digest(df))
      rows = n; digestStr = d; schema = df.schema.simpleString
    } catch {
      case e: Throwable =>
        status = "error"
        error = e.getClass.getName
    } finally sc.setLocalProperty(SpanKey, null)
    val endUs = nowUs()
    val delta = counters() - c0
    val storageMb = rec.map(_.storageMb()).getOrElse(0.0)
    cleanup(spark)
    QueryRun(index, name, query.map(q => packOf(q.run)).getOrElse("unknown"),
      status, error, phases.toSeq, startUs, endUs, delta, rows, digestStr,
      schema, liveHeapMb(), storageMb)
  }

  /** Between-query cleanup, outside every timer: drop cached frames, the
    * persisted RDDs the program does not protect as shared chains, any
    * state stores a stream left loaded, then a full GC so each query
    * starts on a clean heap and the live heap can be read.
    */
  def cleanup(spark: SparkSession): Unit = {
    spark.streams.active.foreach(s => try s.stop() catch { case _: Throwable => () })
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
      if (!isProtected(id)) rdd.unpersist(blocking = true)
    }
    Bridge.unloadStateStores()
    System.gc()
  }

  /** The program's registry of shared checkpointed chains, looked up
    * reflectively so the harness still builds against an engine that
    * replaces it; without it nothing is protected.
    */
  private lazy val protectedCheck: Int => Boolean =
    try {
      val obj = Class.forName("graft.ChainGuard$").getField("MODULE$").get(null)
      val m = obj.getClass.getMethod("isProtected", classOf[Int])
      (id: Int) => m.invoke(obj, Int.box(id)).asInstanceOf[Boolean]
    } catch { case _: ReflectiveOperationException => (_: Int) => false }
  def isProtected(id: Int): Boolean = protectedCheck(id)

  private def hasMap(t: DataType): Boolean = t match {
    case _: MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case ArrayType(e, _) => hasMap(e)
    case _ => false
  }

  /** The checked action: row count plus the sum and xor of a 64-bit hash
    * of every column of every row, computed in Spark. Both folds are
    * order-independent, so partitioning cannot change the digest, and no
    * column can be pruned away. Map-typed columns hash their JSON form
    * (Spark refuses to hash maps directly).
    */
  def digest(df: DataFrame): (Long, String) = {
    val cols: Seq[Column] = df.schema.fields.toSeq.map { f =>
      val c = df.col("`" + f.name.replace("`", "``") + "`")
      if (hasMap(f.dataType)) to_json(c) else c
    }
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.select(h.as("h"))
      .agg(count(lit(1)), sum(col("h").cast(DecimalType(38, 0))), bit_xor(col("h")))
      .collect()(0)
    val n = r.getLong(0)
    val s = Option(r.getDecimal(1)).map(_.toPlainString).getOrElse("0")
    val x = if (r.isNullAt(2)) 0L else r.getLong(2)
    (n, s"$n:$s:$x")
  }

  /** Write each query's result as parquet, and the oracle SQL of every
    * query as `oracle_sql.json`, for the DuckDB cross-check.
    */
  def dump(spark: SparkSession, data: String, dir: String, names: Seq[String]): Unit = {
    names.foreach { n =>
      try graft.SparkEntry.allQueries.find(_.name == n).foreach { q =>
        q.run(spark, data).coalesce(1).write.mode("overwrite").parquet(s"$dir/$n")
      } catch { case e: Throwable => System.err.println(s"[dump] $n failed: $e") }
      cleanup(spark)
    }
    val sql = graft.SparkEntry.oracleSql.toSeq.sortBy(_._1)
    write(s"$dir/oracle_sql.json", Json.render(Json.Obj(sql)))
  }

  def write(path: String, s: String): Unit =
    Files.write(Paths.get(path), s.getBytes(StandardCharsets.UTF_8))

  // ---------------------------------------------------------------- tracing

  final case class StageRec(stageId: Int, attempt: Int, var submittedMs: Long = 0L,
      var completedMs: Long = 0L, var failed: Boolean = false, var tasks: Long = 0L,
      var failedTasks: Long = 0L, var cpuNs: Long = 0L, var runMs: Long = 0L,
      var gcMs: Long = 0L, var shuffleRead: Long = 0L, var shuffleWrite: Long = 0L,
      var spill: Long = 0L, var input: Long = 0L, var result: Long = 0L,
      var waitMs: Long = 0L)
  final case class JobRec(jobId: Int, tag: Option[String], startMs: Long,
      stageIds: Seq[Int], var endMs: Long = 0L)
  final case class Progress(timeMs: Long, triggerMs: Long, inputRows: Long,
      stateRows: Long, stateBytes: Long)

  /** Everything the traced pass observes, kept in memory until the end. */
  final class Recorder(sc: SparkContext) {
    private val jobRecs = mutable.LinkedHashMap.empty[Int, JobRec]
    private val stageRecs = mutable.LinkedHashMap.empty[(Int, Int), StageRec]
    private val stageJob = mutable.HashMap.empty[Int, Int]
    private val progress = new ConcurrentLinkedQueue[Progress]()
    private val samples = new ConcurrentLinkedQueue[Array[Double]]()

    val jobs: SparkListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
        val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        jobRecs(e.jobId) = JobRec(e.jobId, tag, e.time, e.stageIds)
        e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
        jobRecs.get(e.jobId).foreach(_.endMs = e.time)
      }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
        val i = e.stageInfo
        stage(i.stageId, i.attemptNumber()).submittedMs =
          i.submissionTime.getOrElse(System.currentTimeMillis())
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
        val i = e.stageInfo
        val s = stage(i.stageId, i.attemptNumber())
        s.completedMs = i.completionTime.getOrElse(System.currentTimeMillis())
        s.failed = i.failureReason.isDefined
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
        val s = stage(e.stageId, e.stageAttemptId)
        s.tasks += 1
        if (e.reason != Success) s.failedTasks += 1
        s.waitMs += math.max(0L, e.taskInfo.launchTime - s.submittedMs)
        Option(e.taskMetrics).foreach { m =>
          s.cpuNs += m.executorCpuTime
          s.runMs += m.executorRunTime
          s.gcMs += m.jvmGCTime
          s.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          s.input += m.inputMetrics.bytesRead
          s.result += m.resultSize
        }
      }
      private def stage(id: Int, attempt: Int) =
        stageRecs.getOrElseUpdate((id, attempt), StageRec(id, attempt))
    }

    val streams: StreamingQueryListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val ops = p.stateOperators.toSeq
        progress.add(Progress(
          java.time.Instant.parse(p.timestamp).toEpochMilli,
          Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L),
          p.numInputRows, ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))
      }
    }

    def storageMb(): Double =
      sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1048576.0

    /** JMX sampler: heap in use, storage memory, process CPU and JIT time
      * every 100 ms, for the trace and the storage peak.
      */
    val sampler: Thread = new Thread(() => {
      val mem = ManagementFactory.getMemoryMXBean
      try while (!Thread.currentThread().isInterrupted) {
        samples.add(Array(nowUs() / 1e6, mem.getHeapMemoryUsage.getUsed / 1048576.0,
          storageMb(), os.getProcessCpuTime / 1e9, jit.getTotalCompilationTime / 1e3))
        Thread.sleep(100)
      } catch { case _: InterruptedException => () }
    }, "graftbench-jmx-sampler")
    sampler.setDaemon(true)

    /** Query index and phase owning a job: its tag when the tag's query
      * was running at the job's start (pool threads can carry a stale
      * tag), otherwise the query and phase whose interval holds it.
      */
    private def owner(j: JobRec, runs: Seq[QueryRun]): Option[(Int, String)] = {
      val us = j.startMs * 1000
      def within(r: QueryRun) = us >= r.startUs - 1000 && us <= r.endUs + 1000
      j.tag.map(_.split(":")).collect {
        case Array(i, p) if runs.lift(i.toInt).exists(within) => (i.toInt, p)
      }.orElse(runs.find(within).map { r =>
        (r.index, r.phases.find(p => us >= p.startUs - 1000 && us <= p.endUs + 1000)
          .map(_.name).getOrElse("construct"))
      })
    }

    private def stagesOf(jobIds: Set[Int]): Seq[StageRec] =
      stageRecs.values.filter(s => stageJob.get(s.stageId).exists(jobIds)).toSeq

    private def progressOf(r: QueryRun): Seq[Progress] =
      progress.asScala.filter(p => p.timeMs * 1000 >= r.startUs - 1000 && p.timeMs * 1000 <= r.endUs).toSeq

    /** Wall time in [s, e] not covered by any job's [start, end]. */
    private def driverOnlyS(s: Long, e: Long, js: Seq[JobRec]): Double = {
      val iv = js.map(j => (math.max(j.startMs * 1000, s), math.min(math.max(j.endMs, j.startMs) * 1000, e)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0L
      var cur = s
      iv.foreach { case (a, b) =>
        if (b > cur) { covered += b - math.max(a, cur); cur = b }
      }
      (e - s - covered) / 1e6
    }

    private def jobsByQuery(runs: Seq[QueryRun]): Map[Int, Seq[(JobRec, String)]] =
      jobRecs.values.toSeq.flatMap(j => owner(j, runs).map { case (i, p) => (i, (j, p)) })
        .groupBy(_._1).map { case (i, v) => i -> v.map(_._2) }

    private def sums(st: Seq[StageRec]) = Json.obj(
      "stages" -> st.size, "tasks" -> st.map(_.tasks).sum,
      "task_cpu_s" -> st.map(_.cpuNs).sum / 1e9, "task_run_s" -> st.map(_.runMs).sum / 1e3,
      "task_gc_s" -> st.map(_.gcMs).sum / 1e3,
      "shuffle_read_mb" -> st.map(_.shuffleRead).sum / 1048576.0,
      "shuffle_write_mb" -> st.map(_.shuffleWrite).sum / 1048576.0,
      "spill_mb" -> st.map(_.spill).sum / 1048576.0)

    /** One machine-readable record per query. */
    def records(runs: Seq[QueryRun]): Seq[Json.Obj] = {
      val byQ = jobsByQuery(runs)
      runs.map { r =>
        val js = byQ.getOrElse(r.index, Nil)
        val st = stagesOf(js.map(_._1.jobId).toSet)
        val pr = progressOf(r)
        Json.Obj(r.json.fields ++ Seq(
          "jobs" -> js.size, "construct_jobs" -> js.count(_._2 == "construct"),
          "driver_only_s" -> driverOnlyS(r.startUs, r.endUs, js.map(_._1))) ++
          sums(st).fields ++ Seq(
          "stream_batches" -> pr.size,
          "state_rows" -> (if (pr.isEmpty) 0L else pr.map(_.stateRows).max)))
      }
    }

    /** The per-layer metrics of the whole pass, named as in BENCHMARK.json. */
    def layers(runs: Seq[QueryRun], cores: Int, rddsLeft: Int): Seq[(String, Any)] = {
      val byQ = jobsByQuery(runs)
      val owned = byQ.values.flatten.toSeq
      val st = stagesOf(owned.map(_._1.jobId).toSet)
      val wall = runs.map(_.wallS).sum
      val taskCpu = st.map(_.cpuNs).sum / 1e9
      val taskRun = st.map(_.runMs).sum / 1e3
      val cpu = runs.map(_.delta.cpuNs).sum / 1e9
      val prs = runs.map(progressOf)
      val packs = runs.groupBy(_.pack).toSeq.sortBy(_._1).flatMap { case (p, rs) =>
        val js = rs.flatMap(r => byQ.getOrElse(r.index, Nil))
        Seq(s"pack.$p.wall_s" -> rs.map(_.wallS).sum,
          s"pack.$p.task_cpu_s" -> stagesOf(js.map(_._1.jobId).toSet).map(_.cpuNs).sum / 1e9,
          s"pack.$p.jobs" -> js.size)
      }
      val sm = samples.asScala.toSeq
      Seq(
        "trace.wall_s" -> wall,
        "queries.construct_s" -> runs.map(_.seconds("construct")).sum,
        "queries.construct_jobs" -> owned.count(_._2 == "construct"),
        "catalyst.plan_s" -> runs.map(_.seconds("plan")).sum,
        "exec.action_s" -> runs.map(_.seconds("action")).sum,
        "spark.jobs" -> owned.size,
        "spark.stages" -> st.size,
        "spark.tasks" -> st.map(_.tasks).sum,
        "spark.tasks_per_stage" -> st.map(_.tasks).sum.toDouble / math.max(1, st.size),
        "spark.task_cpu_s" -> taskCpu,
        "spark.task_run_s" -> taskRun,
        "spark.task_gc_s" -> st.map(_.gcMs).sum / 1e3,
        "spark.core_util" -> taskRun / (cores * math.max(wall, 1e-9)),
        "spark.driver_only_s" -> runs.map(r =>
          driverOnlyS(r.startUs, r.endUs, byQ.getOrElse(r.index, Nil).map(_._1))).sum,
        "spark.task_wait_s" -> st.map(_.waitMs).sum / 1e3,
        "spark.shuffle_read_mb" -> st.map(_.shuffleRead).sum / 1048576.0,
        "spark.shuffle_write_mb" -> st.map(_.shuffleWrite).sum / 1048576.0,
        "spark.spill_mb" -> st.map(_.spill).sum / 1048576.0,
        "spark.input_mb" -> st.map(_.input).sum / 1048576.0,
        "spark.result_mb" -> st.map(_.result).sum / 1048576.0,
        "spark.failed_tasks" -> st.map(_.failedTasks).sum,
        "spark.stage_retries" -> st.count(s => s.attempt > 0 || s.failed),
        "jvm.jit_s" -> runs.map(_.delta.jitMs).sum / 1e3,
        "jvm.gc_s" -> runs.map(_.delta.gcMs).sum / 1e3,
        "jvm.gc_count" -> runs.map(_.delta.gcCount).sum,
        "jvm.non_task_cpu_s" -> (cpu - taskCpu),
        "storage.cached_mb_peak" -> (sm.map(_(2)) ++ runs.map(_.storageMb)).maxOption.getOrElse(0.0),
        "storage.rdds_left" -> rddsLeft,
        "streaming.batches" -> prs.map(_.size).sum,
        "streaming.trigger_s" -> prs.flatten.map(_.triggerMs).sum / 1e3,
        "streaming.input_rows" -> prs.flatten.map(_.inputRows).sum,
        "streaming.state_rows" -> prs.map(p => p.map(_.stateRows).maxOption.getOrElse(0L)).sum,
        "streaming.state_mb" -> prs.map(p => p.map(_.stateBytes).maxOption.getOrElse(0L)).sum / 1048576.0
      ) ++ packs
    }

    /** Spans: workload -> query -> phase -> Spark job -> stage. */
    def trace(runs: Seq[QueryRun]): Json.Obj = {
      val spans = mutable.ArrayBuffer.empty[Json.Obj]
      def span(id: String, parent: String, kind: String, name: String, s: Long, e: Long) =
        spans += Json.obj("id" -> id, "parent" -> parent, "kind" -> kind,
          "name" -> name, "start_us" -> s, "end_us" -> e)
      val w0 = runs.headOption.map(_.startUs).getOrElse(0L)
      val w1 = runs.lastOption.map(_.endUs).getOrElse(0L)
      span("w", null, "workload", "workload", w0, w1)
      runs.foreach { r =>
        span(s"q${r.index}", "w", "query", r.name, r.startUs, r.endUs)
        r.phases.foreach(p => span(s"q${r.index}.${p.name}", s"q${r.index}", "phase", p.name, p.startUs, p.endUs))
      }
      jobsByQuery(runs).foreach { case (i, js) =>
        js.foreach { case (j, p) =>
          span(s"j${j.jobId}", s"q$i.$p", "job", s"job ${j.jobId}", j.startMs * 1000,
            math.max(j.endMs, j.startMs) * 1000)
          stagesOf(Set(j.jobId)).foreach { s =>
            span(s"s${s.stageId}.${s.attempt}", s"j${j.jobId}", "stage",
              s"stage ${s.stageId}.${s.attempt}", s.submittedMs * 1000, s.completedMs * 1000)
          }
        }
      }
      Json.obj("spans" -> spans.toSeq,
        "jmx_samples" -> samples.asScala.toSeq.map(a => Json.obj(
          "t_s" -> a(0), "heap_mb" -> a(1), "storage_mb" -> a(2),
          "cpu_s" -> a(3), "jit_s" -> a(4))))
    }
  }
}

/** Minimal JSON writer (objects keep insertion order). */
object Json {
  final case class Obj(fields: Seq[(String, Any)])
  def obj(fields: (String, Any)*): Obj = Obj(fields)

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case Obj(fs) => fs.map { case (k, x) => str(k) + ":" + render(x) }.mkString("{", ",", "}")
    case s: Seq[_] => s.map(render).mkString("[", ",", "]")
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case x => str(x.toString)
  }

  private def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")
}
