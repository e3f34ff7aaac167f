package graft

/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR and
  * emits ONE JSON line. The line is (a) printed to stdout and flushed the
  * instant results exist, (b) mirrored to stderr, and (c) written to
  * bench_result.json — so a log-truncating harness can still parse it.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Shuffle partitioning is a per-deployment knob, not a constant: at
    // sf<=0.1 one partition per core is right, but a 600M-row shuffle in
    // 32 partitions is ~19M rows each — past executor memory, so the
    // sort spills and the plan goes superlinear (measured at sf100:
    // q18 93.8 s at 32 partitions). Real cluster jobs size this so each
    // shuffle partition lands ~100-200MB; SPARK_GRAFT_SHUFFLE_PARTITIONS
    // (read by SparkEntry.session) exposes the same knob to the scale
    // rungs. AQE coalesces small partitions back down, so oversizing is
    // cheap. Input splits need no knob: the scale rungs write the events
    // table as many ~25 MB part files (tools/scale_events.py), so the
    // default 128MB split already gives one scan task per file.
    val spark = SparkEntry.session()
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
    // JVM state. Every rep is cold: the shared-intermediate registry is
    // cleared before it, so a query pays its model fits and checkpointed
    // chains each time.
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
          ChainGuard.clear(spark)
          val t0 = System.nanoTime()
          try fn(spark, sfDir).count()
          catch { case e: Throwable => failure = Some(e.getClass.getName) }
          val t = (System.nanoTime() - t0) / 1e9
          // Isolate runs: leftover cached / localCheckpoint blocks must
          // not shrink execution memory for what follows (observed
          // 7s -> 200s on RF training from exactly this). BLOCKING
          // unpersist so the free lands before the next timer starts.
          spark.catalog.clearCache()
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
          t
        }.min
        // ... and clear the gate's own fit garbage (or a featurizer's or
        // a stream's debt; each stream unloads its own state stores)
        // before the next timer
        if (gateOnce(name) || gcAfter(name) || name.endsWith("_stream"))
          System.gc()
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
