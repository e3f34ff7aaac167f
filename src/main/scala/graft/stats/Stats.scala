package graft.stats

import graft.Q
import graft.transform.ColumnGrid
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Profiling aggregations (SURVEY.md §2.4 A1–A10, A15; reference:
  * sol_2/data_analysis.ipynb cells 1-7).
  *
  * Scale design: every operator is a single wide hash-aggregation (partial
  * map-side combine, one shuffle) or a groupBy+window; nothing collects raw
  * rows to the driver.
  *
  * Determinism design: columns carry a fixed decimal scale (the harness
  * tables are exact to 2 decimals), so sums run on exact scaled integers
  * and are independent of partitioning/accumulation order — required for
  * the DuckDB differential oracle.
  */
object Stats {

  /** round(x*10^d) as long — exact scaled integer from a fixed-decimal col. */
  def scaled(c: Column, decimals: Int): Column =
    round(c * math.pow(10, decimals)).cast("long")

  /** Per-column profile matching pandas `describe()` (column, n_rows,
    * n_nulls, n_distinct, mean, std, min, p25, p50, p75, max). `decimals`
    * gives each column's fixed decimal scale (for exact means). Every
    * statistic is read off ONE [[ColumnGrid]] read, one Spark job: its
    * moments and its quartiles, value-identical to the exact
    * `percentile` aggregate (and to pandas / DuckDB `quantile_cont`) but
    * distributed: the percentile aggregate merges every partition's
    * value→count map in ONE reducer, the single-task bottleneck
    * QuantileBinner.fitMany measured at 147 s for exactly this
    * 4-lineitem-column shape at sf10 (r16: guide §5). An all-null column
    * reports n_rows 0 and null statistics.
    */
  def profileNumeric(df: DataFrame, cols: Seq[(String, Int)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val quartiles = Seq(0.25, 0.5, 0.75)
    val got = ColumnGrid(df, cols.map(_._1))
      .read(cols.toMap, cols.map(_._1 -> quartiles).toMap)
    cols.map { case (c, d) =>
      val m = got(c).moments
      def ifRows(x: => Double): Option[Double] = if (m.n > 0) Some(x) else None
      val q = if (m.n > 0) Some(quartiles.map(p => Q.r6Double(got(c).quantiles(p))))
        else None
      // sample central moment about the true mean — the value
      // stddev_samp converges to; r4 keeps the last-ulp band of the
      // different accumulation orders (Spark Welford / DuckDB / this)
      // collapsed, exactly as it already had to across engines
      (c, m.n, m.nulls, m.nd,
        ifRows(Q.r6Double(m.ssum.toDouble / math.pow(10, d) / m.n)),
        ifRows(Q.r4Double(math.sqrt(m.m2 / (m.n - 1)))),
        ifRows(m.min), q.map(_(0)), q.map(_(1)), q.map(_(2)), ifRows(m.max))
    }.toDF("column", "n_rows", "n_nulls", "n_distinct", "mean", "std", "min",
      "p25", "p50", "p75", "max").orderBy("column")
  }

  /** value_counts(normalize=True): counts + share-of-total per value.
    * The total joins in as a broadcast 1-row aggregate (Catalyst reuses
    * the groupBy exchange) — an unpartitioned window here would funnel
    * every distinct value through ONE task at high cardinality.
    */
  def valueCounts(df: DataFrame, c: String): DataFrame = {
    val counts = df.groupBy(c).agg(count(lit(1)).as("n"))
    counts
      .crossJoin(broadcast(counts.agg(sum("n").as("__total"))))
      .withColumn("share", Q.r6(col("n") * 1.0 / col("__total")))
      .drop("__total")
      .orderBy(desc("n"), col(c))
  }

  /** df.isnull().sum() — null count per column, one row per column. */
  def nullCounts(df: DataFrame, cols: Seq[String]): DataFrame = {
    val row = df.agg(
      sum(when(col(cols.head).isNull, 1L).otherwise(0L)).as(cols.head),
      cols.tail.map(c =>
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(c)): _*)
    cols.map(c => row.select(lit(c).as("column"), col(c).as("n_nulls")))
      .reduce(_.unionByName(_)).orderBy("column")
  }

  /** Pearson correlation for the given column pairs, one row per pair,
    * all pairs in ONE aggregation pass.
    */
  def corrPairs(df: DataFrame, pairs: Seq[(String, String)]): DataFrame = {
    val aggs = pairs.map { case (a, b) =>
      Q.r6(corr(col(a), col(b))).as(s"${a}__${b}")
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    pairs.map { case (a, b) =>
      row.select(
        lit(a).as("col_a"), lit(b).as("col_b"),
        col(s"${a}__${b}").as("corr"))
    }.reduce(_.unionByName(_)).orderBy("col_a", "col_b")
  }

  /** Contingency counts + row-normalized shares (pd.crosstab + div):
    * one row per `rowCol` value, count and share per `colCol` value.
    * `colValues` pins the pivot columns (deterministic schema at scale —
    * never let pivot discover values with an extra job).
    */
  def crosstabShares(
      df: DataFrame, rowCol: String, colCol: String,
      colValues: Seq[String]): DataFrame = {
    val counts = colValues.map(v =>
      sum(when(col(colCol) === v, 1L).otherwise(0L)).as(s"n_$v"))
    val shares = colValues.map(v =>
      Q.r6(
        sum(when(col(colCol) === v, 1L).otherwise(0L)) * 1.0 / count(lit(1))).as(s"share_$v"))
    df.groupBy(rowCol)
      .agg((counts ++ shares :+ count(lit(1)).as("n_total")).head,
        (counts ++ shares :+ count(lit(1)).as("n_total")).tail: _*)
      .orderBy(rowCol)
  }

  /** Shannon entropy (log2) and Gini impurity of a label column's
    * distribution — reference house_predict.py:228-245. Two-level agg:
    * groupBy label then one reduction; stays fully distributed.
    */
  def entropyGini(df: DataFrame, labelCol: String): DataFrame = {
    val counts = df.groupBy(labelCol).agg(count(lit(1)).as("n"))
    val tot = sum("n").over(Window.partitionBy())
    counts
      .select((col("n") * 1.0 / tot).as("p"))
      .agg(
        Q.r6(-sum(col("p") * log2(col("p")))).as("entropy"),
        Q.r6(lit(1.0) - sum(pow(col("p"), 2))).as("gini"))
  }

  /** Bias-corrected sample skewness G1 and excess kurtosis G2 (pandas
    * semantics, SURVEY §7.4.5) from exact central moments: the
    * [[ColumnGrid]] moments of Profiling.columnStats, one Spark job for
    * every column. Only for small-magnitude fixed-decimal columns
    * (moments must stay in exact double range). An all-null column is an
    * IllegalArgumentException naming it.
    */
  def skewKurtosis(df: DataFrame, cols: Seq[(String, Int)]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val got = ColumnGrid(df, cols.map(_._1)).read(cols.toMap)
    cols.map { case (c, _) =>
      val m = got(c).moments
      require(m.n > 0, s"no non-null rows to profile column $c")
      val (sk, ku) = m.skewKurtosis
      (c, Q.r6Double(sk), Q.r6Double(ku))
    }.toDF("column", "skewness", "kurtosis").orderBy("column")
  }

  /** Pearson chi-square test of independence between two categorical
    * columns, plus Cramér's V effect size — the categorical-drift /
    * feature-association check run before committing an encoded feature.
    * One shuffle builds the R×C contingency cells; marginals come from
    * windows over that (tiny) cell frame, never a second pass over the
    * data. All counts are exact integers; each cell contributes one
    * division on identical doubles in both engines.
    */
  def chiSquare(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(aCol, bCol).agg(count(lit(1)).as("o"))
    val e = sum("o").over(Window.partitionBy(aCol)) *
      sum("o").over(Window.partitionBy(bCol)) * 1.0 /
      sum("o").over(Window.partitionBy())
    cells
      .select(col(aCol), col(bCol), col("o"),
        e.as("e"), sum("o").over(Window.partitionBy()).as("n"))
      .agg(
        max("n").as("n"),
        ((countDistinct(aCol) - 1) * (countDistinct(bCol) - 1)).as("dof"),
        Q.r6(sum(pow(col("o") - col("e"), 2) / col("e"))).as("chi2"),
        Q.r6(sqrt(
          sum(pow(col("o") - col("e"), 2) / col("e")) / max("n") /
            least(countDistinct(aCol) - 1, countDistinct(bCol) - 1)))
          .as("cramers_v"))
      .select("n", "dof", "chi2", "cramers_v")
  }

  /** Exact two-sample Kolmogorov–Smirnov statistic between the value
    * distributions of two row groups: D = max over the value grid of
    * |F_a(v) - F_b(v)| — the numeric-drift check between corpus shards
    * or train/serve splits. `valueCol` must be an exact integer grid
    * (scale fixed-decimal inputs with [[Q.cents]] first) and `isA` marks
    * the first sample. One shuffle aggregates per-value counts; the
    * cumulative window then runs over the DISTINCT-VALUE frame (not data
    * rows), so its single-task sort is bounded by grid cardinality — at
    * 100 TB quantize the grid (bin the values) and the same plan holds.
    * Every intermediate is an integer sum or a single division, so D is
    * bit-identical across engines and partitionings.
    */
  def ksStatistic(df: DataFrame, valueCol: Column, isA: Column): DataFrame = {
    val per = df
      .select(valueCol.as("v"), when(isA, 1L).otherwise(0L).as("a"))
      .groupBy("v")
      .agg(sum("a").as("na"), (count(lit(1)) - sum("a")).as("nb"))
    val cum = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val all = Window.partitionBy()
    per
      .select(
        sum("na").over(cum).as("ca"), sum("nb").over(cum).as("cb"),
        sum("na").over(all).as("ta"), sum("nb").over(all).as("tb"))
      .groupBy("ta", "tb")
      .agg(
        count(lit(1)).as("n_values"),
        Q.r6(max(abs(col("ca") * 1.0 / col("ta") -
          col("cb") * 1.0 / col("tb")))).as("ks"))
      .select(col("ta").as("n_a"), col("tb").as("n_b"),
        col("n_values"), col("ks"))
  }

  /** Population Stability Index between a reference split (`isRef`) and
    * the rest, binned on the REFERENCE's own deciles — the standard
    * model-monitoring drift score (PSI < 0.1 stable, > 0.25 shifted).
    *
    * Decile edges are exact lower quantiles on the integer value grid
    * (edge_i = smallest v whose reference cumulative count reaches
    * ceil(i*n/10)) — no interpolation, so the whole computation is
    * integer-exact until one final ln per bin. Proportions are
    * Laplace-smoothed ((n+1)/(N+10)) so empty bins stay finite, and PSI
    * terms are emitted in integer micro-units so the cross-bin total is
    * order-independent. Same per-distinct-value grid + single ordered
    * window as [[ksStatistic]]: exact-parity mode; at 100 TB the
    * bounded-state path is the same PSI over `histQuantile`'s fixed-m
    * histogram edges.
    *
    * @return 10 rows: (bin, n_ref, n_cur, psi_term_micro, psi_micro)
    */
  def psiDeciles(df: DataFrame, valueCol: Column, isRef: Column): DataFrame = {
    val spark = df.sparkSession
    val per = df
      .select(valueCol.as("v"), when(isRef, 1L).otherwise(0L).as("a"))
      .groupBy("v")
      .agg(sum("a").as("na"), (count(lit(1)) - sum("a")).as("nb"))
    val cum = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cumd = per.select(col("v"), col("na"), col("nb"),
      sum("na").over(cum).as("ca"),
      sum("na").over(Window.partitionBy()).as("ta"))
    val targets = spark.range(1, 10).select(col("id").as("i"))
    val edges = cumd.crossJoin(broadcast(targets))
      .where(expr("(i * ta + 9) div 10 <= ca") &&
        expr("(i * ta + 9) div 10 > ca - na"))
      .select(col("v").as("edge"))
    val binned = cumd.crossJoin(broadcast(edges))
      .groupBy("v", "na", "nb")
      .agg(sum(when(col("edge") <= col("v"), 1L).otherwise(0L)).as("bin"))
    val tot = per.agg(sum("na").as("ta"), sum("nb").as("tb"))
    val perBin = binned.groupBy("bin")
      .agg(sum("na").as("n_ref"), sum("nb").as("n_cur"))
    val full = spark.range(0, 10).select(col("id").as("bin"))
      .crossJoin(broadcast(tot))
      .join(perBin, Seq("bin"), "left")
      .na.fill(0L, Seq("n_ref", "n_cur"))
    val pa = (col("n_ref") + 1) * lit(1.0) / (col("ta") + 10)
    val pb = (col("n_cur") + 1) * lit(1.0) / (col("tb") + 10)
    val term = (pa - pb) * log(pa / pb)
    full
      .withColumn("psi_term_micro",
        (floor(abs(term) * 1e6 + 0.5) * signum(term)).cast("long"))
      .withColumn("psi_micro",
        sum("psi_term_micro").over(Window.partitionBy()))
      .select("bin", "n_ref", "n_cur", "psi_term_micro", "psi_micro")
      .orderBy("bin")
  }

  /** Approximate functional-dependency check X -> Y (the data-profiling
    * primitive behind key discovery / denormalization checks): for each
    * determinant value x, every row outside x's majority y-class is a
    * violation; rate = violations / rows. One shuffle builds (x, y)
    * counts; per-x majorities come from a window over that cell frame.
    * All counts exact integers, one final division.
    */
  def fdViolation(df: DataFrame, xCol: String, yCol: String): DataFrame = {
    val cells = df.groupBy(xCol, yCol).agg(count(lit(1)).as("o"))
    val perX = cells
      .withColumn("tx", sum("o").over(Window.partitionBy(xCol)))
      .withColumn("mx", max("o").over(Window.partitionBy(xCol)))
      .filter(col("o") === col("mx"))
      // one row per x: ties on the majority class collapse via distinct
      .select(col(xCol), col("tx"), col("mx")).distinct()
    perX.agg(
      count(lit(1)).as("n_groups"),
      sum("tx").as("n_rows"),
      (sum("tx") - sum("mx")).as("n_violations"),
      Q.r6((sum("tx") - sum("mx")) * 1.0 / sum("tx")).as("violation_rate"))
  }

  /** Mutual information I(A;B) in nats between two categorical columns,
    * with the marginal entropies H(A), H(B) and the normalized variant
    * NMI = I / min(H(A), H(B)) — the feature-redundancy / label-leakage
    * screen complementing [[chiSquare]]. Same plan shape: ONE shuffle
    * builds the R x C contingency cells; marginals are windows over that
    * tiny cell frame; every per-cell term is arithmetic on exact integer
    * counts, reduced once.
    */
  def mutualInfo(df: DataFrame, aCol: String, bCol: String): DataFrame = {
    val cells = df.groupBy(aCol, bCol).agg(count(lit(1)).as("o"))
    val n = sum("o").over(Window.partitionBy())
    val na = sum("o").over(Window.partitionBy(aCol))
    val nb = sum("o").over(Window.partitionBy(bCol))
    val t = cells.select(
      col("o"), n.as("n"), na.as("na"), nb.as("nb"),
      // rank-1 marker per distinct a (resp. b) so marginal entropies sum
      // each marginal term exactly once without a second aggregation
      (row_number().over(Window.partitionBy(aCol).orderBy(bCol)) === 1)
        .as("fa"),
      (row_number().over(Window.partitionBy(bCol).orderBy(aCol)) === 1)
        .as("fb"))
    val pmiTerm = (col("o") * 1.0 / col("n")) *
      log((col("o") * 1.0 / col("n")) /
        (col("na") * 1.0 / col("n")) / (col("nb") * 1.0 / col("n")))
    val haTerm = when(col("fa"),
      -(col("na") * 1.0 / col("n")) * log(col("na") * 1.0 / col("n")))
      .otherwise(0.0)
    val hbTerm = when(col("fb"),
      -(col("nb") * 1.0 / col("n")) * log(col("nb") * 1.0 / col("n")))
      .otherwise(0.0)
    t.agg(
        max("n").as("n"),
        sum(pmiTerm).as("mi_raw"),
        sum(haTerm).as("ha_raw"),
        sum(hbTerm).as("hb_raw"))
      .select(
        col("n"), Q.r6(col("mi_raw")).as("mi"),
        Q.r6(col("ha_raw")).as("h_a"), Q.r6(col("hb_raw")).as("h_b"),
        // a constant column has zero entropy: NMI is undefined -> NULL
        // (not an ANSI divide-by-zero error)
        when(least(col("ha_raw"), col("hb_raw")) > 0,
          Q.r6(col("mi_raw") / least(col("ha_raw"), col("hb_raw"))))
          .as("nmi"))
  }

  /** Benford first-digit audit of a positive exact-integer column
    * (scale money with [[Q.cents]] first — the leading digit of cents
    * equals the leading digit of the amount): observed share per digit
    * 1-9 against the Benford expectation ln(1+1/d)/ln(10), with the
    * per-digit deviation and total variation distance in integer
    * micro-units — the fraud/synthetic-data screen for amount columns.
    *
    * The digit comes from the INTEGER's decimal string (substring of a
    * cast — identical in both engines; no float log10 edge cases at
    * powers of ten), so counts are exact and one fixed double expression
    * per digit does the rest.
    */
  def benfordDigits(df: DataFrame, valueCents: Column): DataFrame = {
    val all = Window.partitionBy()
    val counts = df
      .select(valueCents.cast("long").as("v"))
      .filter(col("v") > 0)
      .select(substring(col("v").cast("string"), 1, 1).cast("int")
        .as("digit"))
      .groupBy("digit")
      .agg(count(lit(1)).as("n"))
    // 1-9 spine: an absent digit must report n = 0 (its expected mass
    // still counts toward the TV distance), not vanish from the audit
    val per = df.sparkSession.range(1, 10)
      .select(col("id").cast("int").as("digit"))
      .join(counts, Seq("digit"), "left")
      .select(col("digit"), coalesce(col("n"), lit(0L)).as("n"))
    val share = col("n") * 1.0 / col("t")
    val expected = log(lit(1.0) + lit(1.0) / col("digit")) / log(lit(10.0))
    val dev = share - expected
    per
      .select(col("digit"), col("n"), sum("n").over(all).as("t"))
      .select(col("digit"), col("n"),
        Q.r6(share).as("share"),
        Q.r6(expected).as("expected"),
        (floor(abs(dev) * 1e6 + 0.5).cast("long") *
          when(dev > 0, 1L).when(dev < 0, -1L).otherwise(0L))
          .as("dev_micro"))
      .withColumn("tv_micro",
        (sum(abs(col("dev_micro"))).over(all) / 2).cast("long"))
      .orderBy("digit")
  }

  /** Robust outlier report: median and MAD (median absolute deviation,
    * scaled by the 1.4826 normal-consistency constant) over an exact
    * integer grid, plus the count beyond the standard 3-sigma-equivalent
    * fence — the heavy-tail-safe alternative to z-score fences.
    *
    * Exactness: medians run on the DOUBLED integer grid (2v, |2v − 2·med|
    * stay integers; an even-count midpoint is then exact in double), so
    * both percentiles and the fence comparison are bit-identical across
    * engines. Both medians come from the distinct-value grid
    * ([[graft.transform.GridQuantiles]], r16) — value-identical to the
    * exact `percentile` aggregate but without its one-reducer
    * value-map merge (guide §5); each median streams one grid, bounded
    * by the value DOMAIN. The fixed-memory estimate path stays
    * `histQuantile`'s fixed-m histogram.
    */
  def madOutliers(df: DataFrame, valueCents: Column): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val medProbs = Seq(("m", 0, 0.5)).toDF("g", "i", "p")
    def gridMedian(counts: DataFrame, c: Column): Double =
      graft.transform.GridQuantiles.quantilesFromCounts(
        counts.select(lit("m").as("g"), c.cast("double").as("v"),
          col("cnt")),
        medProbs).head().getDouble(3)
    // ONE corpus pass (r17, guide §6): the doubled-cents distinct-value
    // grid with counts. Both medians, the row count AND the fence count
    // derive from this grid — the r16 shape re-scanned the corpus for
    // each (4 passes); |2v − 2·med| of a distinct value is itself a
    // grid-sized regroup, never a row-level pass.
    val grid = df.select((valueCents.cast("long") * 2L).as("v2"))
      .groupBy("v2").agg(count(lit(1)).as("cnt"))
      .localCheckpoint()
    if (grid.isEmpty) // empty input: the old groupBy produced no rows
      return spark.range(0).select(
        lit(0L).as("n"), lit(0.0).as("median"),
        lit(0.0).as("mad_scaled"), lit(0L).as("n_outliers"))
    val med2 = gridMedian(grid, col("v2"))
    val med2L = med2.toLong // the old med2.cast("long"), same truncation
    val d2grid = grid
      .select(abs(col("v2") - med2L).as("d2"), col("cnt"))
      .groupBy("d2").agg(sum("cnt").as("cnt"))
    val mad2 = gridMedian(d2grid, col("d2"))
    val fence = 3.0 * 1.4826 * mad2 // same op order as the folded lits
    val counts = grid.agg(
      sum(col("cnt")).as("n"),
      sum(when(abs(col("v2") - med2L).cast("double") > fence,
        col("cnt")).otherwise(0L)).as("n_outliers")).head()
    spark.range(1).select(
      lit(counts.getLong(0)).as("n"),
      lit(Q.r6Double(med2 / 200.0)).as("median"),
      lit(Q.r6Double(mad2 * 1.4826 / 200.0)).as("mad_scaled"),
      lit(counts.getLong(1)).as("n_outliers"))
  }

  /** Welch's unequal-variance t-test between two row groups on an exact
    * integer value grid (scale fixed-decimal inputs with [[Q.cents]]
    * first; `isA` marks the first sample) — the A/B significance check
    * between corpus shards or train/serve splits, companion to
    * [[ksStatistic]]'s distribution-shape test.
    *
    * One shuffle-free global aggregation produces the six sufficient
    * statistics; Σv² runs in decimal(38,0) (v² alone can exceed Long for
    * cents-scaled money columns) and everything downstream is a fixed
    * closed-form double expression over those exact integers, so t and
    * the Welch–Satterthwaite dof are bit-identical across engines and
    * partitionings. Means are reported in original units (cents / 100).
    * NULL values are dropped at entry (matching SQL aggregate NULL
    * semantics on both engines), so group counts and sums always cover
    * the same rows.
    */
  def welchTTest(df: DataFrame, valueCol: Column, isA: Column): DataFrame = {
    val zero38 = lit(0).cast("decimal(38,0)")
    val agg = df
      .filter(valueCol.isNotNull)
      .select(valueCol.cast("long").as("v"),
        when(isA, 1L).otherwise(0L).as("a"))
      .agg(
        sum("a").as("na"),
        (count(lit(1)) - sum("a")).as("nb"),
        sum(col("a") * col("v")).as("sa"),
        sum((lit(1L) - col("a")) * col("v")).as("sb"),
        sum(when(col("a") === 1L,
          col("v").cast("decimal(38,0)") * col("v")).otherwise(zero38))
          .cast("double").as("dqa"),
        sum(when(col("a") === 0L,
          col("v").cast("decimal(38,0)") * col("v")).otherwise(zero38))
          .cast("double").as("dqb"))
    val dna = col("na").cast("double")
    val dnb = col("nb").cast("double")
    val dsa = col("sa").cast("double")
    val dsb = col("sb").cast("double")
    val va = (dna * col("dqa") - dsa * dsa) / (dna * (dna - 1.0))
    val vb = (dnb * col("dqb") - dsb * dsb) / (dnb * (dnb - 1.0))
    val se2 = va / dna + vb / dnb
    agg.select(
      col("na").as("n_a"), col("nb").as("n_b"),
      Q.r6(col("sa") / 100.0 / col("na")).as("mean_a"),
      Q.r6(col("sb") / 100.0 / col("nb")).as("mean_b"),
      Q.r6((dsa / dna - dsb / dnb) / sqrt(se2)).as("t_stat"),
      Q.r6(se2 * se2 /
        ((va / dna) * (va / dna) / (dna - 1.0) +
          (vb / dnb) * (vb / dnb) / (dnb - 1.0))).as("dof"))
  }

  /** Mann–Whitney U rank-sum test between two row groups on an exact
    * integer value grid — the nonparametric companion to
    * [[welchTTest]] (no normality assumption; robust to the heavy-tailed
    * score distributions quality filters produce).
    *
    * Ranks come from the per-DISTINCT-VALUE frame ([[ksStatistic]]'s
    * motion): one hash aggregation counts each value's group sizes, and
    * the cumulative window runs over the value grid (not data rows), so
    * the single-task sort is bounded by grid cardinality. Midranks are
    * carried in doubled integer units (2·midrank = 2·cum_before + cnt + 1)
    * so the rank-sum, U, the tie-correction Σ(t³−t), and the z numerator
    * 2U−n_a·n_b all stay exact Longs; only the final z and the
    * common-language effect size touch doubles (one fixed expression on
    * identical operands in both engines). NULL values are dropped at
    * entry — Spark's NULLS FIRST vs DuckDB's NULLS LAST window ordering
    * would otherwise rank them differently.
    */
  def mannWhitneyU(df: DataFrame, valueCol: Column, isA: Column): DataFrame = {
    val per = df
      .filter(valueCol.isNotNull)
      .select(valueCol.cast("long").as("v"),
        when(isA, 1L).otherwise(0L).as("a"))
      .groupBy("v")
      .agg(sum("a").as("na_v"), (count(lit(1)) - sum("a")).as("nb_v"))
    val before = Window.orderBy("v")
      .rowsBetween(Window.unboundedPreceding, -1)
    val agg = per
      .select(
        col("na_v"), col("nb_v"),
        (col("na_v") + col("nb_v")).as("cnt"),
        coalesce(sum(col("na_v") + col("nb_v")).over(before), lit(0L))
          .as("cum_before"))
      .agg(
        sum("na_v").as("na"),
        sum("nb_v").as("nb"),
        count(lit(1)).as("n_values"),
        sum(col("na_v") * (lit(2L) * col("cum_before") + col("cnt") + 1L))
          .as("r2a"),
        sum(col("cnt") * col("cnt") * col("cnt") - col("cnt")).as("ties3"))
    val u2a = col("r2a") - col("na") * (col("na") + 1L)
    val dn = (col("na") + col("nb")).cast("double")
    val dna = col("na").cast("double")
    val dnb = col("nb").cast("double")
    val varU = dna * dnb / 12.0 *
      (dn + 1.0 - col("ties3").cast("double") / (dn * (dn - 1.0)))
    agg.select(
      col("na").as("n_a"), col("nb").as("n_b"), col("n_values"),
      (u2a.cast("double") / 2.0).as("u_a"),
      ((col("na") * col("nb")).cast("double") / 2.0).as("mu_u"),
      Q.r6((u2a - col("na") * col("nb")).cast("double") /
        (lit(2.0) * sqrt(varU))).as("z"),
      Q.r6(u2a.cast("double") / (lit(2.0) * dna * dnb)).as("cles"))
  }

  /** CUSUM changepoint scan over a per-bucket total series: the bucket
    * (e.g. day) where the cumulative deviation from the global mean
    * peaks — the standard level-shift detector for revenue / volume
    * monitoring. Integer-exact end to end: with prefix_i and total as
    * exact sums and n buckets, n·CUSUM_i = n·prefix_i − i·total is an
    * integer, so the argmax (ties to the earliest bucket) is
    * order-independent and hash-replayable; the reported magnitude is
    * one final division. dev2 is carried in decimal(38,0) — a
    * cents-scaled total times a multi-year bucket count squares past
    * Long well below the 100 TB target, and Spark would wrap silently
    * where DuckDB raises. The window runs over the BUCKET domain
    * (days), not rows — bounded, like [[ksStatistic]]'s grid.
    */
  def cusumChangepoint(
      df: DataFrame, bucket: Column, valueCents: Column): DataFrame = {
    val per = df
      .select(bucket.cast("long").as("bucket"),
        valueCents.cast("long").as("v"))
      .groupBy("bucket")
      .agg(sum("v").as("rev"))
    val ord = Window.orderBy("bucket")
    val all = Window.partitionBy()
    val scored = per.select(
      col("bucket"),
      row_number().over(ord).cast("long").as("i"),
      sum("rev").over(
        ord.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .as("prefix"),
      sum("rev").over(all).as("total"),
      count(lit(1)).over(all).as("nd"))
      .withColumn("dev2",
        col("nd").cast("decimal(38,0)") * col("prefix") -
          col("i").cast("decimal(38,0)") * col("total"))
    scored
      .withColumn("rk", row_number().over(
        Window.orderBy(abs(col("dev2")).desc, col("bucket"))))
      .filter(col("rk") === 1)
      .select(
        col("nd").as("n_buckets"),
        col("bucket").as("cp_bucket"),
        Q.r6(abs(col("dev2")).cast("double") / col("nd") / 100.0)
          .as("cusum_max"),
        when(col("dev2") > 0, 1).when(col("dev2") < 0, -1).otherwise(0)
          .as("direction"))
  }

  /** CUPED-adjusted A/B comparison (Deng et al., WSDM 2013): the
    * variance-reduced treatment-effect read. θ = cov(x,y)/var(x) is fit
    * on the POOLED data from exact integer sufficient statistics
    * (squares/cross-products in decimal(38,0)); each group's adjusted
    * mean is ȳ_g − θ(x̄_g − x̄), and the expected variance reduction is
    * the pooled r². One aggregation, closed-form doubles on identical
    * operands — bit-identical cross-engine. Means in original units
    * (cents / 100).
    */
  def cupedAdjusted(
      df: DataFrame, xCents: Column, yCents: Column, isA: Column)
      : DataFrame = {
    val zero38 = lit(0).cast("decimal(38,0)")
    val agg = df
      .select(xCents.cast("long").as("x"), yCents.cast("long").as("y"),
        when(isA, 1L).otherwise(0L).as("a"))
      .agg(
        sum("a").as("na"),
        (count(lit(1)) - sum("a")).as("nb"),
        sum(col("a") * col("x")).as("sxa"),
        sum((lit(1L) - col("a")) * col("x")).as("sxb"),
        sum(col("a") * col("y")).as("sya"),
        sum((lit(1L) - col("a")) * col("y")).as("syb"),
        sum(col("x").cast("decimal(38,0)") * col("x"))
          .cast("double").as("dsxx"),
        sum(col("x").cast("decimal(38,0)") * col("y"))
          .cast("double").as("dsxy"),
        sum(col("y").cast("decimal(38,0)") * col("y"))
          .cast("double").as("dsyy"))
    val dn = (col("na") + col("nb")).cast("double")
    val dsx = (col("sxa") + col("sxb")).cast("double")
    val dsy = (col("sya") + col("syb")).cast("double")
    val covN = dn * col("dsxy") - dsx * dsy
    val varXN = dn * col("dsxx") - dsx * dsx
    val varYN = dn * col("dsyy") - dsy * dsy
    val theta = covN / varXN
    val dna = col("na").cast("double")
    val dnb = col("nb").cast("double")
    val adjA = col("sya") / dna -
      theta * (col("sxa") / dna - dsx / dn)
    val adjB = col("syb") / dnb -
      theta * (col("sxb") / dnb - dsx / dn)
    agg.select(
      col("na").as("n_a"), col("nb").as("n_b"),
      Q.r6(theta).as("theta"),
      Q.r6(adjA / 100.0).as("mean_a_adj"),
      Q.r6(adjB / 100.0).as("mean_b_adj"),
      Q.r6((adjA - adjB) / 100.0).as("diff_adj"),
      Q.r6(covN * covN / (varXN * varYN)).as("var_reduction"))
  }

  /** Per-group closed-form simple linear regression (OLS) of an exact
    * integer y grid on an exact integer x — the grouped trend screen
    * (e.g. price-per-unit drift by return flag) a feature audit runs
    * before trusting a column.
    *
    * One grouped aggregation emits the six sufficient statistics
    * (n, Σx, Σy, Σx², Σxy, Σy²); Σx², Σxy and Σy² all run in
    * decimal(38,0) because a cents-scaled column squares past Long —
    * x is as likely to be cents-scaled as y given every sibling API
    * takes [[Q.cents]]. slope/intercept/r² are fixed
    * closed-form double expressions over those exact integers —
    * bit-identical across engines — and are reported in original y units
    * (cents / 100).
    */
  def groupedOls(
      df: DataFrame, groupCol: String, xCol: Column, yCol: Column)
      : DataFrame = {
    val agg = df
      .select(col(groupCol), xCol.cast("long").as("x"),
        yCol.cast("long").as("y"))
      .groupBy(groupCol)
      .agg(
        count(lit(1)).as("n"),
        sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x").cast("decimal(38,0)") * col("x"))
          .cast("double").as("dsxx"),
        sum(col("x").cast("decimal(38,0)") * col("y"))
          .cast("double").as("dsxy"),
        sum(col("y").cast("decimal(38,0)") * col("y"))
          .cast("double").as("dsyy"))
    val dn = col("n").cast("double")
    val dsx = col("sx").cast("double")
    val dsy = col("sy").cast("double")
    val dsxx = col("dsxx")
    val dsxy = col("dsxy")
    val covN = dn * dsxy - dsx * dsy
    val varXN = dn * dsxx - dsx * dsx
    val varYN = dn * col("dsyy") - dsy * dsy
    val slope = covN / varXN
    agg.select(
      col(groupCol), col("n"),
      Q.r6(slope / 100.0).as("slope"),
      Q.r6((dsy - slope * dsx) / dn / 100.0).as("intercept"),
      Q.r6(covN * covN / (varXN * varYN)).as("r2"))
      .orderBy(groupCol)
  }
}
