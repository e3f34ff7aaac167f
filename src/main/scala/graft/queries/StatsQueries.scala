package graft.queries

import graft.dedup.Dedup
import graft.{GraftQuery, Q, QueryPack, Tables}
import graft.stats.Stats
import org.apache.spark.sql.functions.{col, lit}

/** Oracle-checked queries for the profiling module (SURVEY §2.4). */
object StatsQueries extends QueryPack {

  val profile: GraftQuery = GraftQuery(
    "profile_lineitem",
    (s, dir) => Stats.profileNumeric(
      Tables(s, dir, "lineitem"),
      Seq("l_quantity" -> 0, "l_extendedprice" -> 2,
        "l_discount" -> 2, "l_tax" -> 2)),
    Some {
      def one(c: String, scale: Long) =
        s"""SELECT '$c' AS "column", COUNT($c) AS n_rows,
           CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls,
           COUNT(DISTINCT $c) AS n_distinct,
           round(SUM(CAST(round($c * $scale) AS BIGINT)) / $scale.0 / COUNT($c), 6) AS mean,
           round(stddev_samp($c), 4) AS std,
           CAST(MIN($c) AS DOUBLE) AS "min",
           round(quantile_cont($c, 0.25), 6) AS p25,
           round(quantile_cont($c, 0.50), 6) AS p50,
           round(quantile_cont($c, 0.75), 6) AS p75,
           CAST(MAX($c) AS DOUBLE) AS "max"
           FROM lineitem"""
      Seq("l_quantity" -> 1L, "l_extendedprice" -> 100L,
        "l_discount" -> 100L, "l_tax" -> 100L)
        .map { case (c, sc) => one(c, sc) }
        .mkString("", " UNION ALL ", " ORDER BY \"column\"")
    })

  val valueCounts: GraftQuery = GraftQuery(
    "value_counts_priority",
    (s, dir) => Stats.valueCounts(Tables(s, dir, "orders"), "o_orderpriority"),
    Some("""
      WITH c AS (SELECT o_orderpriority, COUNT(*) AS n
                 FROM orders GROUP BY o_orderpriority)
      SELECT o_orderpriority, n,
             round(n * 1.0 / (SELECT SUM(n) FROM c), 6) AS share
      FROM c ORDER BY n DESC, o_orderpriority"""))

  val nullCounts: GraftQuery = GraftQuery(
    "null_counts_orders",
    (s, dir) => Stats.nullCounts(
      Tables(s, dir, "orders"),
      Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")),
    Some(Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
        "o_orderdate", "o_orderpriority")
      .map(c =>
        s"""SELECT '$c' AS "column",
           CAST(SUM(CASE WHEN $c IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_nulls
           FROM orders""")
      .mkString("", " UNION ALL ", " ORDER BY \"column\"")))

  val corrMatrix: GraftQuery = GraftQuery(
    "corr_pairs_lineitem",
    (s, dir) => Stats.corrPairs(
      Tables(s, dir, "lineitem"),
      Seq("l_quantity" -> "l_extendedprice", "l_quantity" -> "l_discount",
        "l_extendedprice" -> "l_discount", "l_extendedprice" -> "l_tax")),
    Some(Seq(
        "l_quantity" -> "l_extendedprice", "l_quantity" -> "l_discount",
        "l_extendedprice" -> "l_discount", "l_extendedprice" -> "l_tax")
      .map { case (a, b) =>
        s"""SELECT '$a' AS col_a, '$b' AS col_b,
           round(corr($a, $b), 6) AS corr FROM lineitem"""
      }
      .mkString("", " UNION ALL ", " ORDER BY col_a, col_b")))

  val crosstab: GraftQuery = GraftQuery(
    "crosstab_flag_status",
    (s, dir) => Stats.crosstabShares(
      Tables(s, dir, "lineitem"), "l_returnflag", "l_linestatus",
      Seq("F", "O")),
    Some("""
      SELECT l_returnflag,
             CAST(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) AS BIGINT) AS n_F,
             CAST(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) AS BIGINT) AS n_O,
             round(SUM(CASE WHEN l_linestatus = 'F' THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS share_F,
             round(SUM(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS share_O,
             COUNT(*) AS n_total
      FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag"""))

  val entropyGini: GraftQuery = GraftQuery(
    "entropy_gini_returnflag",
    (s, dir) => Stats.entropyGini(Tables(s, dir, "lineitem"), "l_returnflag"),
    Some("""
      WITH c AS (SELECT l_returnflag, COUNT(*) AS n
                 FROM lineitem GROUP BY l_returnflag),
      p AS (SELECT n * 1.0 / (SELECT SUM(n) FROM c) AS p FROM c)
      SELECT round(-SUM(p * log2(p)), 6) AS entropy,
             round(1.0 - SUM(pow(p, 2)), 6) AS gini
      FROM p"""))

  val skewKurt: GraftQuery = GraftQuery(
    "skew_kurtosis_discount",
    (s, dir) => Stats.skewKurtosis(
      Tables(s, dir, "lineitem"), Seq("l_discount" -> 2, "l_tax" -> 2)),
    Some {
      // pandas bias-corrected G1 / G2 from exact scaled-integer moments,
      // replicating Stats.skewKurtosis arithmetic step by step.
      def one(c: String) =
        s"""SELECT '$c' AS "column",
           round((s3 / n) / pow(s2 / n, 1.5) * sqrt(n * (n - 1)) / (n - 2), 6) AS skewness,
           round(((n + 1) * ((s4 / n) / ((s2 / n) * (s2 / n)) - 3.0) + 6) * (n - 1) / ((n - 2) * (n - 3)), 6) AS kurtosis
           FROM (
             SELECT SUM(pow(x - m, 2)) AS s2, SUM(pow(x - m, 3)) AS s3,
                    SUM(pow(x - m, 4)) AS s4, CAST(COUNT(*) AS DOUBLE) AS n
             FROM (SELECT CAST(round($c * 100) AS BIGINT) AS xi,
                          CAST(CAST(round($c * 100) AS BIGINT) AS DOUBLE) AS x
                   FROM lineitem),
                  (SELECT SUM(CAST(round($c * 100) AS BIGINT)) * 1.0 / COUNT($c) AS m
                   FROM lineitem))"""
      Seq("l_discount", "l_tax").map(one)
        .mkString("", " UNION ALL ", " ORDER BY \"column\"")
    })

  /** Per-feature correlation against the label, ranked by |corr|
    * (Sol_2.ipynb cell 5 feature ranking).
    */
  val corrVsLabel: GraftQuery = GraftQuery(
    "corr_vs_label_ranked",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val d = Tables(s, dir, "lineitem").select(
        col("l_quantity"), col("l_discount"), col("l_tax"),
        col("l_extendedprice"),
        when(col("l_returnflag") === "R", 1.0).otherwise(0.0).as("label"))
      Stats.corrPairs(d, Seq(
          "l_quantity" -> "label", "l_discount" -> "label",
          "l_tax" -> "label", "l_extendedprice" -> "label"))
        .withColumnRenamed("col_a", "feature").drop("col_b")
        .orderBy(abs(col("corr")).desc, col("feature"))
    },
    Some {
      def one(c: String) =
        s"""SELECT '$c' AS feature,
           round(corr($c, CASE WHEN l_returnflag = 'R' THEN 1.0 ELSE 0.0 END), 6) AS corr
           FROM lineitem"""
      Seq("l_quantity", "l_discount", "l_tax", "l_extendedprice").map(one)
        .mkString("SELECT feature, corr FROM (",
          " UNION ALL ", ") ORDER BY abs(corr) DESC, feature")
    })

  /** A6-at-scale: fixed-grid histogram quantiles (graft.sketch
    * .HistQuantile) next to the exact percentile — the bounded-memory
    * path SURVEY §4.2 calls for where exact per-group percentiles don't
    * fit. Integer-cents bucket math is engine-independent; the estimate
    * (bucket lower edge) must land within one bucket width BELOW OR AT
    * the exact quantile, which the output exposes as err_cents.
    */
  private val hqBins = 1024
  val histQuantile: GraftQuery = GraftQuery(
    "hist_quantile_totalprice",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val spark = s
      import spark.implicits._
      val o = Tables(s, dir, "orders")
      val est = graft.sketch.HistQuantile.estimate(
        o, col("o_totalprice"), nBins = hqBins, probs = Seq(0.25, 0.5, 0.75))
      // exact side from the distinct-value grid (r16) — value-identical
      // to the percentile aggregate without its one-reducer merge
      val exact = graft.transform.GridQuantiles.quantiles(
        o.select(lit("q").as("g"), col("o_totalprice").cast("double").as("v")),
        broadcast(Seq(("q", 1, 0.25), ("q", 2, 0.5), ("q", 3, 0.75))
          .toDF("g", "i", "p")))
        .select((lit(0.25) * col("i")).as("prob"), col("q").as("exact"))
      est.join(exact, Seq("prob"))
        .select(col("prob"), Q.r6(col("est")).as("est"),
          Q.r6(col("exact")).as("exact"),
          (Q.cents(col("exact")) - Q.cents(col("est"))).as("err_cents"))
        .orderBy("prob")
    },
    Some(s"""
      WITH c AS MATERIALIZED (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders),
      mm AS MATERIALIZED (
        SELECT MIN(v) AS lo, MAX(v) AS hi, COUNT(*) AS n FROM c),
      h AS MATERIALIZED (
        SELECT (v - lo) // (((hi - lo) // $hqBins) + 1) AS b,
               COUNT(*) AS cnt
        FROM c, mm GROUP BY 1),
      cm AS MATERIALIZED (
        SELECT b, SUM(cnt) OVER (ORDER BY b
          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        FROM h),
      p(prob) AS (VALUES (CAST(0.25 AS DOUBLE)), (CAST(0.5 AS DOUBLE)),
                         (CAST(0.75 AS DOUBLE))),
      sel AS MATERIALIZED (
        SELECT prob, MIN(b) AS b
        FROM p CROSS JOIN cm CROSS JOIN mm
        WHERE cum >= prob * n GROUP BY prob),
      ex AS MATERIALIZED (
        SELECT CAST(0.25 * (i + 1) AS DOUBLE) AS prob,
               q[CAST(i AS INTEGER) + 1] AS exact
        FROM (SELECT quantile_cont(o_totalprice, [0.25, 0.5, 0.75]) AS q
              FROM orders), range(0, 3) t(i))
      SELECT sel.prob AS prob,
             round((sel.b * (((mm.hi - mm.lo) // $hqBins) + 1) + mm.lo)
                   / 100.0, 6) AS est,
             round(ex.exact, 6) AS exact,
             CAST(round(ex.exact * 100) AS BIGINT)
               - CAST(round((sel.b * (((mm.hi - mm.lo) // $hqBins) + 1)
                             + mm.lo) / 100.0 * 100) AS BIGINT) AS err_cents
      FROM sel JOIN ex ON sel.prob = ex.prob CROSS JOIN mm
      ORDER BY prob"""))

  /** Shard-merge equality for the fixed-grid histogram sketch — the
    * [[graft.sketch.HistQuantile]] analogue of `cms_shard_merge_check`:
    * per-shard histograms built on the SHARED global grid (lo/width
    * from the one-row bounds pass — itself a mergeable min/max), merged
    * cell-wise, must equal the single-pass global histogram cell for
    * cell; digest equality implies every quantile read off the merged
    * grid equals the global one. One row per shard (cell count, mass,
    * md5 grid digest) plus the merged and global digests. At 100 TB the
    * shards are executors or daily partitions and only b-row grids move
    * — the same pre-aggregation shape the CMS check pins.
    */
  private val hqmBins = 256
  val histMergeCheck: GraftQuery = GraftQuery(
    "hist_quantile_merge_check",
    (s, dir) => {
      import org.apache.spark.sql.functions._
      val o = Tables(s, dir, "orders").select(
        (col("o_orderkey") % 8).as("shard"),
        Q.cents(col("o_totalprice")).as("v"))
      val mm = o.agg(min("v").as("lo"), max("v").as("hi")).head()
      val (lo, hi) = (mm.getLong(0), mm.getLong(1))
      val w = ((hi - lo) / hqmBins) + 1
      def bCol = expr(s"(v - ${lo}L) DIV ${w}L")
      val perShard = o.groupBy(col("shard"), bCol.as("b"))
        .agg(count(lit(1)).as("cnt"))
      val merged = perShard.groupBy("b").agg(sum("cnt").as("cnt"))
      val global = o.groupBy(bCol.as("b")).agg(count(lit(1)).as("cnt"))
      def digest(part: String, cells: org.apache.spark.sql.DataFrame) =
        cells
          .select(concat_ws(",", col("b"), col("cnt")).as("s"), col("cnt"))
          .agg(count(lit(1)).as("n_cells"), sum("cnt").as("mass"),
            md5(concat_ws("|", sort_array(collect_list(col("s")))))
              .as("grid_md5"))
          .select(lit(part).as("part"), col("n_cells"), col("mass"),
            col("grid_md5"))
      val shardRows = perShard
        .select(col("shard"),
          concat_ws(",", col("b"), col("cnt")).as("s"), col("cnt"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_cells"), sum("cnt").as("mass"),
          md5(concat_ws("|", sort_array(collect_list(col("s")))))
            .as("grid_md5"))
        .select(concat(lit("shard_"), col("shard").cast("string")).as("part"),
          col("n_cells"), col("mass"), col("grid_md5"))
      shardRows
        .unionByName(digest("zz_merged", merged))
        .unionByName(digest("zz_global", global))
        .orderBy("part")
    },
    Some(s"""
      WITH v AS MATERIALIZED (
        SELECT o_orderkey % 8 AS shard,
               CAST(round(o_totalprice * 100) AS BIGINT) AS v
        FROM orders),
      mm AS MATERIALIZED (SELECT MIN(v) AS lo, MAX(v) AS hi FROM v),
      pw AS MATERIALIZED (
        SELECT lo, ((hi - lo) // $hqmBins) + 1 AS w FROM mm),
      ps AS MATERIALIZED (
        SELECT shard, (v - lo) // w AS b, COUNT(*) AS cnt
        FROM v, pw GROUP BY 1, 2),
      mg AS MATERIALIZED (
        SELECT b, CAST(SUM(cnt) AS BIGINT) AS cnt FROM ps GROUP BY 1),
      gl AS MATERIALIZED (
        SELECT (v - lo) // w AS b, COUNT(*) AS cnt FROM v, pw GROUP BY 1),
      srows AS (
        SELECT 'shard_' || CAST(shard AS VARCHAR) AS part,
               COUNT(*) AS n_cells, CAST(SUM(cnt) AS BIGINT) AS mass,
               md5(string_agg(
                 CAST(b AS VARCHAR) || ',' || CAST(cnt AS VARCHAR), '|'
                 ORDER BY CAST(b AS VARCHAR) || ',' || CAST(cnt AS VARCHAR)))
                 AS grid_md5
        FROM ps GROUP BY shard),
      mrow AS (
        SELECT 'zz_merged' AS part, COUNT(*) AS n_cells,
               CAST(SUM(cnt) AS BIGINT) AS mass,
               md5(string_agg(
                 CAST(b AS VARCHAR) || ',' || CAST(cnt AS VARCHAR), '|'
                 ORDER BY CAST(b AS VARCHAR) || ',' || CAST(cnt AS VARCHAR)))
                 AS grid_md5
        FROM mg),
      grow AS (
        SELECT 'zz_global' AS part, COUNT(*) AS n_cells,
               CAST(SUM(cnt) AS BIGINT) AS mass,
               md5(string_agg(
                 CAST(b AS VARCHAR) || ',' || CAST(cnt AS VARCHAR), '|'
                 ORDER BY CAST(b AS VARCHAR) || ',' || CAST(cnt AS VARCHAR)))
                 AS grid_md5
        FROM gl)
      SELECT * FROM srows
      UNION ALL SELECT * FROM mrow
      UNION ALL SELECT * FROM grow
      ORDER BY part"""))

  /** Chi-square independence + Cramér's V over the returnflag ×
    * linestatus contingency table — the categorical-association /
    * drift primitive ([[Stats.chiSquare]]).
    */
  val chi2: GraftQuery = GraftQuery(
    "chi2_flag_status",
    (s, dir) => Stats.chiSquare(
      Tables(s, dir, "lineitem"), "l_returnflag", "l_linestatus"),
    Some("""
      WITH cells AS (
        SELECT l_returnflag AS a, l_linestatus AS b, COUNT(*) AS o
        FROM lineitem GROUP BY 1, 2),
      m AS (
        SELECT a, b, o,
               SUM(o) OVER (PARTITION BY a) * SUM(o) OVER (PARTITION BY b)
                 * 1.0 / SUM(o) OVER () AS e,
               SUM(o) OVER () AS n
        FROM cells)
      SELECT CAST(MAX(n) AS BIGINT) AS n,
             CAST((COUNT(DISTINCT a) - 1) * (COUNT(DISTINCT b) - 1)
               AS BIGINT) AS dof,
             round(SUM(pow(o - e, 2) / e), 6) AS chi2,
             round(sqrt(SUM(pow(o - e, 2) / e) / MAX(n)
               / least(COUNT(DISTINCT a) - 1, COUNT(DISTINCT b) - 1)), 6)
               AS cramers_v
      FROM m"""))

  /** Exact two-sample KS drift statistic between two deterministic
    * hash-halves of orders on the o_totalprice cents grid
    * ([[Stats.ksStatistic]]) — a self-split, so D measures pure
    * sampling noise; the same query pointed at two corpus snapshots is
    * the drift gate.
    */
  val ksDrift: GraftQuery = GraftQuery(
    "ks_drift_totalprice",
    (s, dir) => Stats.ksStatistic(
      Tables(s, dir, "orders"),
      Q.cents("o_totalprice"),
      graft.dedup.Dedup.md5Hash60(col("o_orderkey").cast("string"), 7)
        % 2 === 0),
    Some(s"""
      WITH s AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
               CASE WHEN ${Dedup.oracleMd5Hash60("CAST(o_orderkey AS VARCHAR)", 7)} % 2 = 0
                    THEN 1 ELSE 0 END AS a
        FROM orders),
      p AS (
        SELECT v, CAST(SUM(a) AS BIGINT) AS na,
               CAST(COUNT(*) - SUM(a) AS BIGINT) AS nb
        FROM s GROUP BY v),
      c AS (
        SELECT SUM(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS ca,
               SUM(nb) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS cb,
               SUM(na) OVER () AS ta, SUM(nb) OVER () AS tb
        FROM p)
      SELECT CAST(ta AS BIGINT) AS n_a, CAST(tb AS BIGINT) AS n_b,
             COUNT(*) AS n_values,
             round(MAX(ABS(ca * 1.0 / ta - cb * 1.0 / tb)), 6) AS ks
      FROM c GROUP BY ta, tb"""))

  /** Population Stability Index between the two deterministic
    * hash-halves of orders on o_totalprice, binned on half A's own
    * deciles ([[Stats.psiDeciles]]) — the standard model-monitoring
    * drift score beside [[ksDrift]]'s KS statistic. A self-split, so
    * PSI measures pure sampling noise; pointed at two corpus snapshots
    * it is the production drift gate. Integer micro-unit terms make the
    * bin table and the total hash-replayable.
    */
  val psiDrift: GraftQuery = GraftQuery(
    "psi_drift_totalprice",
    (s, dir) => Stats.psiDeciles(
      Tables(s, dir, "orders"),
      Q.cents("o_totalprice"),
      graft.dedup.Dedup.md5Hash60(col("o_orderkey").cast("string"), 7)
        % 2 === 0),
    Some(s"""
      WITH s AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
               CASE WHEN ${Dedup.oracleMd5Hash60("CAST(o_orderkey AS VARCHAR)", 7)} % 2 = 0
                    THEN 1 ELSE 0 END AS a
        FROM orders),
      per AS (
        SELECT v, CAST(SUM(a) AS BIGINT) AS na,
               CAST(COUNT(*) - SUM(a) AS BIGINT) AS nb
        FROM s GROUP BY v),
      c AS (
        SELECT v, na, nb,
               SUM(na) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING
                 AND CURRENT ROW) AS ca,
               SUM(na) OVER () AS ta
        FROM per),
      tg AS (SELECT unnest(generate_series(1, 9)) AS i),
      ed AS (
        SELECT c.v AS edge FROM c, tg
        WHERE (tg.i * c.ta + 9) // 10 <= c.ca
          AND (tg.i * c.ta + 9) // 10 > c.ca - c.na),
      bn AS (
        SELECT c.v, c.na, c.nb,
               CAST(SUM(CASE WHEN ed.edge <= c.v THEN 1 ELSE 0 END)
                 AS BIGINT) AS bin
        FROM c CROSS JOIN ed GROUP BY c.v, c.na, c.nb),
      pb AS (
        SELECT bin, CAST(SUM(na) AS BIGINT) AS n_ref,
               CAST(SUM(nb) AS BIGINT) AS n_cur
        FROM bn GROUP BY bin),
      tt AS (SELECT CAST(SUM(na) AS BIGINT) AS ta,
                    CAST(SUM(nb) AS BIGINT) AS tb FROM per),
      bins AS (SELECT CAST(unnest(generate_series(0, 9)) AS BIGINT) AS bin),
      f AS (
        SELECT bins.bin, COALESCE(pb.n_ref, 0) AS n_ref,
               COALESCE(pb.n_cur, 0) AS n_cur, tt.ta, tt.tb
        FROM bins CROSS JOIN tt LEFT JOIN pb ON pb.bin = bins.bin),
      t AS (
        SELECT bin, n_ref, n_cur,
               ((n_ref + 1) * 1.0 / (ta + 10) - (n_cur + 1) * 1.0 / (tb + 10))
                 * ln(((n_ref + 1) * 1.0 / (ta + 10))
                      / ((n_cur + 1) * 1.0 / (tb + 10))) AS term
        FROM f),
      m AS (
        SELECT bin, n_ref, n_cur,
               CAST(floor(abs(term) * 1000000 + 0.5)
                 * (CASE WHEN term > 0 THEN 1 WHEN term < 0 THEN -1
                    ELSE 0 END) AS BIGINT) AS psi_term_micro
        FROM t)
      SELECT bin, n_ref, n_cur, psi_term_micro,
             CAST(SUM(psi_term_micro) OVER () AS BIGINT) AS psi_micro
      FROM m ORDER BY bin"""))

  /** Mutual information / entropies / NMI over the orderpriority ×
    * orderstatus table ([[Stats.mutualInfo]]) — the feature-redundancy
    * screen beside [[chi2]]'s significance test.
    */
  val mutualInfo: GraftQuery = GraftQuery(
    "mutual_info_priority_status",
    (s, dir) => Stats.mutualInfo(
      Tables(s, dir, "orders"), "o_orderpriority", "o_orderstatus"),
    Some("""
      WITH cells AS (
        SELECT o_orderpriority AS a, o_orderstatus AS b, COUNT(*) AS o
        FROM orders GROUP BY 1, 2),
      m AS (
        SELECT o, SUM(o) OVER () AS n,
               SUM(o) OVER (PARTITION BY a) AS na,
               SUM(o) OVER (PARTITION BY b) AS nb,
               row_number() OVER (PARTITION BY a ORDER BY b) = 1 AS fa,
               row_number() OVER (PARTITION BY b ORDER BY a) = 1 AS fb
        FROM cells),
      agg AS (
        SELECT MAX(n) AS n,
               SUM((o * 1.0 / n) * ln((o * 1.0 / n) / (na * 1.0 / n)
                 / (nb * 1.0 / n))) AS mi_raw,
               SUM(CASE WHEN fa THEN -(na * 1.0 / n) * ln(na * 1.0 / n)
                   ELSE 0.0 END) AS ha_raw,
               SUM(CASE WHEN fb THEN -(nb * 1.0 / n) * ln(nb * 1.0 / n)
                   ELSE 0.0 END) AS hb_raw
        FROM m)
      SELECT CAST(n AS BIGINT) AS n, round(mi_raw, 6) AS mi,
             round(ha_raw, 6) AS h_a, round(hb_raw, 6) AS h_b,
             round(mi_raw / least(ha_raw, hb_raw), 6) AS nmi
      FROM agg"""))

  /** Functional-dependency profiling ([[Stats.fdViolation]]): one FD
    * that holds exactly (nationkey -> regionkey, violation 0) and one
    * that shouldn't (custkey -> orderpriority), unioned into a tiny
    * report — the key-discovery / denormalization-safety check.
    */
  val fdChecks: GraftQuery = GraftQuery(
    "fd_violation_checks",
    (s, dir) => {
      val a = Stats
        .fdViolation(Tables(s, dir, "nation"), "n_nationkey", "n_regionkey")
        .select(lit("nationkey->regionkey").as("fd"), col("n_groups"),
          col("n_rows"), col("n_violations"), col("violation_rate"))
      val b = Stats
        .fdViolation(Tables(s, dir, "orders"), "o_custkey", "o_orderpriority")
        .select(lit("custkey->priority").as("fd"), col("n_groups"),
          col("n_rows"), col("n_violations"), col("violation_rate"))
      a.unionByName(b).orderBy("fd")
    },
    Some("""
      WITH c1 AS (SELECT n_nationkey AS x, n_regionkey AS y, COUNT(*) AS o
                  FROM nation GROUP BY 1, 2),
      w1 AS (SELECT x, o, SUM(o) OVER (PARTITION BY x) AS tx,
                    MAX(o) OVER (PARTITION BY x) AS mx FROM c1),
      p1 AS (SELECT DISTINCT x, tx, mx FROM w1 WHERE o = mx),
      c2 AS (SELECT o_custkey AS x, o_orderpriority AS y, COUNT(*) AS o
             FROM orders GROUP BY 1, 2),
      w2 AS (SELECT x, o, SUM(o) OVER (PARTITION BY x) AS tx,
                    MAX(o) OVER (PARTITION BY x) AS mx FROM c2),
      p2 AS (SELECT DISTINCT x, tx, mx FROM w2 WHERE o = mx),
      u AS (
        SELECT 'nationkey->regionkey' AS fd, COUNT(*) AS n_groups,
               CAST(SUM(tx) AS BIGINT) AS n_rows,
               CAST(SUM(tx) - SUM(mx) AS BIGINT) AS n_violations,
               round((SUM(tx) - SUM(mx)) * 1.0 / SUM(tx), 6)
                 AS violation_rate
        FROM p1
        UNION ALL
        SELECT 'custkey->priority' AS fd, COUNT(*) AS n_groups,
               CAST(SUM(tx) AS BIGINT) AS n_rows,
               CAST(SUM(tx) - SUM(mx) AS BIGINT) AS n_violations,
               round((SUM(tx) - SUM(mx)) * 1.0 / SUM(tx), 6)
                 AS violation_rate
        FROM p2)
      SELECT * FROM u ORDER BY fd"""))

  /** Welch's unequal-variance t-test between the two deterministic
    * hash-halves of orders on o_totalprice cents ([[Stats.welchTTest]])
    * — the A/B mean-difference significance check beside [[ksDrift]]'s
    * shape test and [[psiDrift]]'s binned drift score. A self-split, so
    * t measures pure sampling noise; pointed at two corpus snapshots it
    * is the mean-shift gate. Exact integer sufficient statistics
    * (Σv² in decimal/HUGEINT) feed one fixed closed-form double
    * expression, mirrored verbatim in the oracle.
    */
  val welchT: GraftQuery = GraftQuery(
    "welch_ttest_totalprice",
    (s, dir) => Stats.welchTTest(
      Tables(s, dir, "orders"),
      Q.cents("o_totalprice"),
      graft.dedup.Dedup.md5Hash60(col("o_orderkey").cast("string"), 7)
        % 2 === 0),
    Some(s"""
      WITH s AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
               CASE WHEN ${Dedup.oracleMd5Hash60("CAST(o_orderkey AS VARCHAR)", 7)} % 2 = 0
                    THEN 1 ELSE 0 END AS a
        FROM orders),
      agg AS (
        SELECT CAST(SUM(a) AS BIGINT) AS na,
               CAST(COUNT(*) - SUM(a) AS BIGINT) AS nb,
               CAST(SUM(a * v) AS BIGINT) AS sa,
               CAST(SUM((1 - a) * v) AS BIGINT) AS sb,
               CAST(SUM(CASE WHEN a = 1 THEN CAST(v AS HUGEINT) * v
                             ELSE CAST(0 AS HUGEINT) END) AS DOUBLE) AS dqa,
               CAST(SUM(CASE WHEN a = 0 THEN CAST(v AS HUGEINT) * v
                             ELSE CAST(0 AS HUGEINT) END) AS DOUBLE) AS dqb
        FROM s),
      d AS (
        SELECT na, nb, sa, sb, dqa, dqb,
               CAST(na AS DOUBLE) AS dna, CAST(nb AS DOUBLE) AS dnb,
               CAST(sa AS DOUBLE) AS dsa, CAST(sb AS DOUBLE) AS dsb
        FROM agg),
      vv AS (
        SELECT *,
               (dna * dqa - dsa * dsa) / (dna * (dna - 1)) AS va,
               (dnb * dqb - dsb * dsb) / (dnb * (dnb - 1)) AS vb
        FROM d),
      se AS (SELECT *, va / dna + vb / dnb AS se2 FROM vv)
      SELECT na AS n_a, nb AS n_b,
             round(sa / 100.0 / na, 6) AS mean_a,
             round(sb / 100.0 / nb, 6) AS mean_b,
             round((dsa / dna - dsb / dnb) / sqrt(se2), 6) AS t_stat,
             round(se2 * se2 / ((va / dna) * (va / dna) / (dna - 1)
                   + (vb / dnb) * (vb / dnb) / (dnb - 1)), 6) AS dof
      FROM se"""))

  /** Mann–Whitney U rank-sum test between the same two hash-halves on
    * the o_totalprice cents grid ([[Stats.mannWhitneyU]]) — the
    * nonparametric mean-shift companion to [[welchT]] (rank-based, so
    * robust to the heavy tails quality scores and prices have). Midranks
    * are carried in doubled integer units over the distinct-value frame;
    * U, the tie correction, and the z numerator stay exact Longs.
    */
  val mannWhitney: GraftQuery = GraftQuery(
    "mann_whitney_totalprice",
    (s, dir) => Stats.mannWhitneyU(
      Tables(s, dir, "orders"),
      Q.cents("o_totalprice"),
      graft.dedup.Dedup.md5Hash60(col("o_orderkey").cast("string"), 7)
        % 2 === 0),
    Some(s"""
      WITH s AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v,
               CASE WHEN ${Dedup.oracleMd5Hash60("CAST(o_orderkey AS VARCHAR)", 7)} % 2 = 0
                    THEN 1 ELSE 0 END AS a
        FROM orders),
      per AS (
        SELECT v, CAST(SUM(a) AS BIGINT) AS na_v,
               CAST(COUNT(*) - SUM(a) AS BIGINT) AS nb_v
        FROM s GROUP BY v),
      w AS (
        SELECT na_v, nb_v, na_v + nb_v AS cnt,
               COALESCE(SUM(na_v + nb_v) OVER (ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS cum_before
        FROM per),
      agg AS (
        SELECT CAST(SUM(na_v) AS BIGINT) AS na,
               CAST(SUM(nb_v) AS BIGINT) AS nb,
               COUNT(*) AS n_values,
               CAST(SUM(na_v * (2 * cum_before + cnt + 1)) AS BIGINT) AS r2a,
               CAST(SUM(cnt * cnt * cnt - cnt) AS BIGINT) AS ties3
        FROM w),
      d AS (
        SELECT na, nb, n_values, ties3,
               r2a - na * (na + 1) AS u2a,
               CAST(na AS DOUBLE) AS dna, CAST(nb AS DOUBLE) AS dnb,
               CAST(na + nb AS DOUBLE) AS dn
        FROM agg),
      vv AS (
        SELECT *, dna * dnb / 12.0 *
                 (dn + 1.0 - CAST(ties3 AS DOUBLE) / (dn * (dn - 1.0)))
                 AS var_u
        FROM d)
      SELECT na AS n_a, nb AS n_b, n_values,
             CAST(u2a AS DOUBLE) / 2.0 AS u_a,
             CAST(na * nb AS DOUBLE) / 2.0 AS mu_u,
             round(CAST(u2a - na * nb AS DOUBLE) / (2.0 * sqrt(var_u)), 6)
               AS z,
             round(CAST(u2a AS DOUBLE) / (2.0 * dna * dnb), 6) AS cles
      FROM vv"""))

  /** Per-return-flag OLS of l_extendedprice cents on l_quantity
    * ([[Stats.groupedOls]]) — the grouped price-per-unit trend screen; a
    * near-1 r² with distinct slopes per flag is the expected structure
    * check on the harness data. Exact integer sufficient statistics per
    * group, closed-form slope/intercept/r² mirrored verbatim.
    */
  val olsByFlag: GraftQuery = GraftQuery(
    "ols_price_on_quantity",
    (s, dir) => Stats.groupedOls(
      Tables(s, dir, "lineitem"), "l_returnflag",
      col("l_quantity"), Q.cents("l_extendedprice")),
    Some("""
      WITH s AS (
        SELECT l_returnflag,
               CAST(l_quantity AS BIGINT) AS x,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS y
        FROM lineitem),
      agg AS (
        SELECT l_returnflag, COUNT(*) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               CAST(SUM(x * x) AS BIGINT) AS sxx,
               CAST(SUM(x * y) AS BIGINT) AS sxy,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS dsyy
        FROM s GROUP BY l_returnflag),
      d AS (
        SELECT l_returnflag, n, dsyy,
               CAST(n AS DOUBLE) AS dn, CAST(sx AS DOUBLE) AS dsx,
               CAST(sy AS DOUBLE) AS dsy, CAST(sxx AS DOUBLE) AS dsxx,
               CAST(sxy AS DOUBLE) AS dsxy
        FROM agg),
      k AS (
        SELECT l_returnflag, n, dn, dsx, dsy,
               dn * dsxy - dsx * dsy AS cov_n,
               dn * dsxx - dsx * dsx AS var_xn,
               dn * dsyy - dsy * dsy AS var_yn
        FROM d),
      sl AS (SELECT *, cov_n / var_xn AS slope FROM k)
      SELECT l_returnflag, n,
             round(slope / 100.0, 6) AS slope,
             round((dsy - slope * dsx) / dn / 100.0, 6) AS intercept,
             round(cov_n * cov_n / (var_xn * var_yn), 6) AS r2
      FROM sl ORDER BY l_returnflag"""))

  /** Benford first-digit audit of o_totalprice ([[Stats.benfordDigits]])
    * — observed digit shares vs the ln(1+1/d)/ln(10) expectation with
    * micro-unit deviations and the TV distance; the fraud / synthetic-
    * data screen for amount columns (the harness's uniform-ish prices
    * are EXPECTED to deviate — the query reports, it doesn't assert).
    */
  val benford: GraftQuery = GraftQuery(
    "benford_digit_audit",
    (s, dir) => Stats.benfordDigits(
      Tables(s, dir, "orders"), Q.cents("o_totalprice")),
    Some("""
      WITH v AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS v FROM orders
        WHERE CAST(round(o_totalprice * 100) AS BIGINT) > 0),
      counts AS (
        SELECT CAST(substring(CAST(v AS VARCHAR), 1, 1) AS INTEGER)
                 AS digit,
               COUNT(*) AS n
        FROM v GROUP BY 1),
      digits AS (
        SELECT CAST(unnest(generate_series(1, 9)) AS INTEGER) AS digit),
      per AS (
        SELECT digits.digit, CAST(COALESCE(counts.n, 0) AS BIGINT) AS n
        FROM digits LEFT JOIN counts ON counts.digit = digits.digit),
      t AS (SELECT digit, n, SUM(n) OVER () AS t FROM per),
      m AS (
        SELECT digit, n,
               round(n * 1.0 / t, 6) AS share,
               round(ln(1.0 + 1.0 / digit) / ln(10.0), 6) AS expected,
               (n * 1.0 / t) - (ln(1.0 + 1.0 / digit) / ln(10.0)) AS dev
        FROM t),
      mm AS (
        SELECT digit, n, share, expected,
               CAST(floor(abs(dev) * 1000000 + 0.5)
                 * (CASE WHEN dev > 0 THEN 1 WHEN dev < 0 THEN -1
                    ELSE 0 END) AS BIGINT) AS dev_micro
        FROM m)
      SELECT digit, n, share, expected, dev_micro,
             CAST(floor(SUM(abs(dev_micro)) OVER () / 2) AS BIGINT)
               AS tv_micro
      FROM mm ORDER BY digit"""))

  /** Robust outlier report on o_totalprice cents ([[Stats.madOutliers]])
    * — median, scaled MAD, and the count beyond the 3-sigma-equivalent
    * MAD fence, all on the doubled integer grid for exact cross-engine
    * medians.
    */
  val madOutliersQ: GraftQuery = GraftQuery(
    "mad_outliers_totalprice",
    (s, dir) => Stats.madOutliers(
      Tables(s, dir, "orders"), Q.cents("o_totalprice")),
    Some("""
      WITH v AS (
        SELECT CAST(round(o_totalprice * 100) AS BIGINT) * 2 AS v2
        FROM orders),
      med AS (SELECT quantile_cont(v2, 0.5) AS med2 FROM v),
      dev AS (
        SELECT v2, med2, abs(v2 - CAST(med2 AS BIGINT)) AS d2
        FROM v, med),
      mad AS (
        SELECT med2, quantile_cont(d2, 0.5) AS mad2, COUNT(*) AS n
        FROM dev GROUP BY med2),
      f AS (
        SELECT d.v2, m.med2, m.mad2, m.n,
               (CAST(abs(d.v2 - CAST(m.med2 AS BIGINT)) AS DOUBLE)
                 > 3.0 * 1.4826 * m.mad2) AS out
        FROM (SELECT v2 FROM dev) d, mad m)
      SELECT n, round(med2 / 200.0, 6) AS median,
             round(mad2 * 1.4826 / 200.0, 6) AS mad_scaled,
             CAST(SUM(CASE WHEN out THEN 1 ELSE 0 END) AS BIGINT)
               AS n_outliers
      FROM f GROUP BY med2, mad2, n"""))

  /** CUPED-adjusted A/B read on the same hash-half split as [[welchT]],
    * with the order's customer account balance as the pre-experiment
    * covariate ([[Stats.cupedAdjusted]]): variance-reduced adjusted
    * means, their difference, and the pooled r² (the expected variance
    * reduction). A self-split, so diff_adj measures pure noise; pointed
    * at a real assignment column it is the experiment readout. One
    * broadcastable dimension join + one aggregation.
    */
  val cuped: GraftQuery = GraftQuery(
    "cuped_adjusted_ab",
    (s, dir) => Stats.cupedAdjusted(
      Tables(s, dir, "orders").join(
        Tables(s, dir, "customer"),
        col("o_custkey") === col("c_custkey")),
      Q.cents("c_acctbal"),
      Q.cents("o_totalprice"),
      graft.dedup.Dedup.md5Hash60(col("o_orderkey").cast("string"), 7)
        % 2 === 0),
    Some(s"""
      WITH s AS (
        SELECT CAST(round(c_acctbal * 100) AS BIGINT) AS x,
               CAST(round(o_totalprice * 100) AS BIGINT) AS y,
               CASE WHEN ${Dedup.oracleMd5Hash60("CAST(o_orderkey AS VARCHAR)", 7)} % 2 = 0
                    THEN 1 ELSE 0 END AS a
        FROM orders JOIN customer ON o_custkey = c_custkey),
      agg AS (
        SELECT CAST(SUM(a) AS BIGINT) AS na,
               CAST(COUNT(*) - SUM(a) AS BIGINT) AS nb,
               CAST(SUM(a * x) AS BIGINT) AS sxa,
               CAST(SUM((1 - a) * x) AS BIGINT) AS sxb,
               CAST(SUM(a * y) AS BIGINT) AS sya,
               CAST(SUM((1 - a) * y) AS BIGINT) AS syb,
               CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS dsxx,
               CAST(SUM(CAST(x AS HUGEINT) * y) AS DOUBLE) AS dsxy,
               CAST(SUM(CAST(y AS HUGEINT) * y) AS DOUBLE) AS dsyy
        FROM s),
      d AS (
        SELECT na, nb, sxa, sxb, sya, syb, dsxx, dsxy, dsyy,
               CAST(na + nb AS DOUBLE) AS dn,
               CAST(sxa + sxb AS DOUBLE) AS dsx,
               CAST(sya + syb AS DOUBLE) AS dsy,
               CAST(na AS DOUBLE) AS dna, CAST(nb AS DOUBLE) AS dnb
        FROM agg),
      k AS (
        SELECT *,
               dn * dsxy - dsx * dsy AS cov_n,
               dn * dsxx - dsx * dsx AS var_xn,
               dn * dsyy - dsy * dsy AS var_yn
        FROM d),
      t AS (SELECT *, cov_n / var_xn AS theta FROM k),
      m AS (
        SELECT *,
               sya / dna - theta * (sxa / dna - dsx / dn) AS adj_a,
               syb / dnb - theta * (sxb / dnb - dsx / dn) AS adj_b
        FROM t)
      SELECT na AS n_a, nb AS n_b,
             round(theta, 6) AS theta,
             round(adj_a / 100.0, 6) AS mean_a_adj,
             round(adj_b / 100.0, 6) AS mean_b_adj,
             round((adj_a - adj_b) / 100.0, 6) AS diff_adj,
             round(cov_n * cov_n / (var_xn * var_yn), 6) AS var_reduction
      FROM m"""))

  /** Grouped EXACT quantiles in one distributed pass
    * ([[graft.transform.GridQuantiles]]): per-group p25/p50/p75 of the
    * price column over the distinct-value grid — the describe-by-group
    * a profiling pass wants, in the shape that survives 100 TB (hash
    * agg with map-side combine; the only single-task step sorts each
    * group's value DOMAIN, not its rows — Spark's own exact
    * `percentile` merges every partition's value map in one reducer).
    * The oracle replays the grid arithmetic itself (integer cumulative
    * ranks, one fixed interpolation expression on identical operands),
    * so the comparison never depends on a built-in's interpolation
    * order.
    */
  val groupedQuantiles: GraftQuery = GraftQuery(
    "grouped_quantiles_returnflag",
    (s, dir) => {
      val kv = Tables(s, dir, "lineitem").select(
        col("l_returnflag").as("g"),
        col("l_extendedprice").cast("double").as("v"))
      val probs = kv.select("g").distinct()
        .select(col("g"),
          org.apache.spark.sql.functions.posexplode(
            org.apache.spark.sql.functions.array(
              lit(0.25), lit(0.5), lit(0.75))).as(Seq("i", "p")))
      graft.transform.GridQuantiles.quantiles(kv, probs)
        .select(col("g").as("l_returnflag"), col("p"), Q.r6(col("q")).as("q"))
        .orderBy("l_returnflag", "p")
    },
    Some("""
      WITH kv AS (SELECT l_returnflag AS g,
                         CAST(l_extendedprice AS DOUBLE) AS v
                  FROM lineitem),
      grid AS (SELECT g, v, COUNT(*) AS cnt FROM kv GROUP BY g, v),
      cg AS (SELECT g, v, cnt,
               SUM(cnt) OVER (PARTITION BY g ORDER BY v
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - cnt
                 AS cb,
               SUM(cnt) OVER (PARTITION BY g) AS n
             FROM grid),
      pr AS (SELECT g, i, p
             FROM (SELECT DISTINCT g FROM kv),
                  (VALUES (0, CAST(0.25 AS DOUBLE)),
                          (1, CAST(0.5 AS DOUBLE)),
                          (2, CAST(0.75 AS DOUBLE))) t(i, p)),
      j AS (SELECT pr.g, pr.i, pr.p, pr.p * (cg.n - 1) AS k,
                   FLOOR(pr.p * (cg.n - 1)) AS lo,
                   CEIL(pr.p * (cg.n - 1)) AS hi,
                   cg.v, cg.cb, cg.cnt
            FROM pr JOIN cg ON pr.g = cg.g
            WHERE FLOOR(pr.p * (cg.n - 1))
                    BETWEEN cg.cb AND cg.cb + cg.cnt - 1
               OR CEIL(pr.p * (cg.n - 1))
                    BETWEEN cg.cb AND cg.cb + cg.cnt - 1),
      a AS (SELECT g, i, p, k,
              MAX(CASE WHEN lo BETWEEN cb AND cb + cnt - 1 THEN v END)
                AS vlo,
              MAX(CASE WHEN hi BETWEEN cb AND cb + cnt - 1 THEN v END)
                AS vhi
            FROM j GROUP BY g, i, p, k)
      SELECT g AS l_returnflag, p,
             round(CASE WHEN FLOOR(k) = CEIL(k) THEN vlo
                        WHEN vlo = vhi THEN vlo
                        ELSE (CEIL(k) - k) * vlo + (k - FLOOR(k)) * vhi
                   END, 6) AS q
      FROM a ORDER BY l_returnflag, p"""))

  override def queries: Seq[GraftQuery] = Seq(
    profile, valueCounts, nullCounts, corrMatrix, crosstab, entropyGini,
    skewKurt, corrVsLabel, histQuantile, histMergeCheck, chi2, ksDrift,
    psiDrift, mutualInfo,
    fdChecks, welchT, mannWhitney, olsByFlag, benford, madOutliersQ, cuped,
    groupedQuantiles)
}
