package graft
import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR and
  * emits ONE JSON line. The line is (a) printed to stdout and flushed the
  * instant results exist, (b) mirrored to stderr, and (c) written to
  * bench_result.json — so a log-truncating harness can still parse it.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // Shuffle partitioning is a per-deployment knob, not a constant: at
    // sf<=0.1 one partition per core is right, but a 600M-row shuffle in
    // 32 partitions is ~19M rows each — past executor memory, so the
    // sort spills and the plan goes superlinear (measured at sf100:
    // q18 93.8 s at 32 partitions). Real cluster jobs size this so each
    // shuffle partition lands ~100-200MB; SPARK_GRAFT_SHUFFLE_PARTITIONS
    // exposes the same knob to the scale rungs. AQE coalesces small
    // partitions back down, so oversizing is cheap.
    val shufflePartitions =
      sys.env.getOrElse("SPARK_GRAFT_SHUFFLE_PARTITIONS", cpus)
    // Input-split sizing, same reasoning: the scale rungs ship some
    // tables as ONE parquet file (the nanos events table), so the
    // default 128MB split gives a 1.2GB file only ~10 scan tasks on a
    // 32-core box. Smaller splits restore scan parallelism; on a real
    // cluster the input is many files and the default is fine.
    val maxPartitionBytes =
      sys.env.getOrElse("SPARK_GRAFT_MAX_PARTITION_BYTES", "134217728")
    // AQE coalescing mode: parallelismFirst=true (Spark's default) keeps
    // post-shuffle partition count at defaultParallelism even when the
    // data is tiny; false makes AQE size partitions to
    // advisoryPartitionSizeInBytes — the setting Spark's own docs
    // recommend for production, and the scale-adaptive choice (partition
    // count derives from DATA SIZE at any scale factor, not from the
    // local core count). Both knobs are env-overridable for the scale
    // rungs; defaults chosen by the r16 A/B sweep (see
    // OPTIMIZATION_r16.md).
    val parallelismFirst =
      sys.env.getOrElse("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "true")
    val advisoryBytes =
      sys.env.getOrElse("SPARK_GRAFT_ADVISORY_PARTITION_BYTES", "67108864")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.files.maxPartitionBytes", maxPartitionBytes)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        parallelismFirst)
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes",
        advisoryBytes)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // bucketed-table queries write real table data: pin the warehouse
      // to a controlled location instead of ./spark-warehouse under
      // whatever cwd spark-submit ran from (multi-GB at sf100)
      .config("spark.sql.warehouse.dir",
        sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE",
          "/root/repo/target/scale/warehouse"))
      .getOrCreate()
    // ERROR, not WARN: every saved log line is budget for the JSON tail
    spark.sparkContext.setLogLevel("ERROR")
    // warm-up: JVM/codegen/parquet-reader paths, so the first timed query
    // isn't charged session startup cost
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    // SPARK_GRAFT_ONLY=q1,q2 restricts the run (dev iteration aid)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // Per-query repeat-and-take-min (default 2): this box's wall clock
    // swings ±2x and heavy MLlib fits shadow the next query with GC debt —
    // min-of-2 makes cross-round regressions attributable to plans, not
    // JVM state.
    val repeat = sys.env.getOrElse("SPARK_GRAFT_REPEAT", "2").toInt.max(1)
    // Driver-orchestrated MLlib gates are shape checks, not plan timings:
    // repeating them doubles multi-fit pipelines (10+ fits each) for no
    // attribution value, so they run once regardless of SPARK_GRAFT_REPEAT.
    val gateOnce = Set(
      "house_pipeline_gate", "sol2_pipeline_gate", "cv_random_search",
      "model_comparison", "rf_train_eval", "l1_feature_selection")
    // Persist-heavy featurizer queries leave gram-frame GC debt that
    // shadows their alphabetical neighbors (r16 two-order sweep:
    // quality_gate_sources read 1.66 s after them in alpha order vs
    // 0.29 s shuffled) — give them the same post-query GC fence as the
    // MLlib gates, outside every timer.
    val gcAfter = Set(
      "quality_classifier_select", "quality_classifier_slice")
    // SPARK_GRAFT_DEBUG_REPS=1 prints every rep's time to stderr (dev
    // attribution aid: cold-vs-warm rep split, adjacency effects)
    val debugReps = sys.env.get("SPARK_GRAFT_DEBUG_REPS").contains("1")
    // SPARK_GRAFT_SHUFFLE_ORDER=<seed> runs the sweep in a seeded-random
    // order instead of alphabetical. Rounds 7 and 8 both chased per-query
    // regressions that turned out to be sweep-adjacency artifacts (GC
    // debt / state-store shadow from whatever ran just before); rerunning
    // with a different seed moves every neighbor, so a timing that
    // survives two seeds is a plan property and one that doesn't is a
    // neighbor effect. The output JSON stays name-keyed, so downstream
    // comparison is order-blind.
    val shuffleSeed = sys.env.get("SPARK_GRAFT_SHUFFLE_ORDER").map(_.toLong)
    val alpha = SparkEntry.queries.toSeq.sortBy(_._1)
    val ordered = shuffleSeed.fold(alpha) { seed =>
      new scala.util.Random(seed).shuffle(alpha)
    }
    val outcomes = ordered
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        val reps = if (gateOnce(name)) 1 else repeat
        // MLlib gates are the sweep's GC amplifiers: they allocate GBs of
        // fit state on a heap already carrying ~170 queries of debt, and
        // their garbage then shadows whatever runs next (r8: the sweep
        // charged sol2_pipeline_gate 46.6 s vs 26-28 s isolated on a
        // box-adjusted basis, and span_dedup_coverage — two slots after
        // it alphabetically — 11.3 s vs 1.9 s isolated). Collect BEFORE
        // the gate so its fits start on a clean heap; the matching
        // collect AFTER runs below, also outside every timer.
        if (gateOnce(name)) System.gc()
        // a query that throws in any rep is reported under "failed" with
        // its error class, never timed as if it had succeeded
        var failure: Option[String] = None
        val dt = (1 to reps).map { _ =>
          val t0 = System.nanoTime()
          // SPARK_GRAFT_RETHROW=1 aborts the sweep on the first failure
          // with its stack trace (dev aid).
          // SPARK_GRAFT_FORCE_FULL=1 executes the FULL physical plan
          // (toRdd) instead of count(): for pure-projection queries
          // Catalyst collapses count() to a parquet metadata count and
          // the default timing measures the scan stats, not the
          // projection work (any SQL engine's count pushdown does the
          // same). The default stays count() for cross-round
          // comparability; use the flag when the projection cost itself
          // is the measurement target.
          try {
            val df = fn(spark, sfDir)
            if (sys.env.get("SPARK_GRAFT_FORCE_FULL").contains("1"))
              df.queryExecution.toRdd.count()
            else df.count()
          } catch {
            case e: Throwable =>
              if (sys.env.get("SPARK_GRAFT_RETHROW").contains("1")) throw e
              failure = Some(e.getClass.getName)
          }
          val t = (System.nanoTime() - t0) / 1e9
          if (debugReps) System.err.println(f"[reps] $name $t%.3f")
          // Isolate runs: leftover cached / localCheckpoint blocks must
          // not shrink execution memory for what follows (observed
          // 7s -> 200s on RF training from exactly this). BLOCKING
          // unpersist so the free lands before the next timer starts;
          // ChainGuard-protected ids are the memoized shared chains
          // whose checkpoint blocks must survive the whole sweep.
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.foreach { case (id, rdd) =>
            if (!ChainGuard.isProtected(id)) rdd.unpersist(blocking = true)
          }
          t
        }.min
        // Streaming twins leave loaded state-store maps + GC debt that
        // shadowed the queries sorted right after them (r6: flagship
        // 9.2 s in-sweep vs 2.3 s isolated). Unload the providers and
        // take the GC hit here, outside anyone's timer — and OUTSIDE
        // the repeat loop: r7 unloaded after every rep, so rep 2 of a
        // stream query re-created its state store cold and min-of-2
        // measured the cold path (cms_heavy_hitters_stream 2.1 -> 7.1 s
        // was exactly this, not a plan change).
        if (name.endsWith("_stream")) {
          try org.apache.spark.sql.GraftStateBridge.unloadStateStores()
          catch { case _: Throwable => () }
          System.gc()
        }
        // ... and clear the gate's own fit garbage (or a featurizer's
        // persisted-frame debt) before the next timer
        if (gateOnce(name) || gcAfter(name)) System.gc()
        name -> failure.toLeft(dt)
      }
    val results = outcomes.collect { case (k, Right(v)) => k -> v }
    val failed = outcomes.collect { case (k, Left(e)) => s"\"$k\":\"$e\"" }
      .mkString(""","failed":{""", ",", "}")
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // load canary surfaced top-level: divide any cross-round query diff by
    // the calibration ratio before calling it a plan regression
    val cal = results.collectFirst { case ("calibration_cpu", v) => v }
    // Calibration-NORMALIZED total (VERDICT r13 task 7): the canary
    // drifted 0.057 -> 0.142 across five rounds, so raw cross-round
    // totals mostly measure the box. total_adjusted rescales to a fixed
    // reference canary cost (0.064 s — the r8 box the round-over-round
    // table was anchored on), making round totals directly comparable;
    // the constant is recorded in the line so a re-anchor is explicit.
    val calRef = 0.064
    def calStr(fmt: Double => String) =
      cal.map(v =>
        s""","calibration":${fmt(v)},"calibration_ref":$calRef""" +
          s""","total_adjusted":${fmt(total * calRef / v)}""").getOrElse("")
    val fullLine =
      s"""{"metric":"total","value":$total,"unit":"sec"${calStr(_.toString)},"queries":$qs$failed,"sf":"$sfDir"}"""
    // The harness keeps only the last ~2000 chars of stdout and sbt's
    // epilogue spends ~100 of them; a full-precision 80-query line is
    // ~2600 chars, so its head (the {"metric":... prefix) gets truncated
    // and never parses. stdout gets a line that FITS: per-query seconds
    // rounded to ms, most-expensive first, truncated to a 1600-char
    // detail budget. The complete line lives in bench_result.json.
    def ms(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val budget = 1600
    val entries = results.sortBy(-_._2)
      .map { case (k, v) => s"\"" + k + "\":" + ms(v) }
    val kept = entries.scanLeft(0)(_ + _.length + 1).tail
      .zip(entries).takeWhile(_._1 <= budget).map(_._2)
    val qsShort = kept.mkString("{", ",", "}")
    val shortLine =
      s"""{"metric":"total","value":${ms(total)},"unit":"sec"${calStr(ms)},"queries":$qsShort$failed,"sf":"$sfDir"}"""
    // Order matters: the harness keeps only a merged-stream tail, so the
    // short parseable line must be the LAST thing we emit — r3's tail
    // shows the stderr full-line mirror displacing the stdout short line.
    try {
      val w = new java.io.PrintWriter("bench_result.json")
      try w.println(fullLine) finally w.close()
    } catch { case _: Throwable => () }
    System.err.println(fullLine)
    System.err.flush()
    // stop() must not be able to suppress the one parseable result line
    try spark.stop() catch { case _: Throwable => () }
    println(shortLine)
    System.out.flush()
  }
}
