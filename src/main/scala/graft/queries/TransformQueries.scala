package graft.queries

import graft.{GraftQuery, Q, QueryPack, Tables}
import graft.transform._
import org.apache.spark.sql.GraftStateBridge
import org.apache.spark.sql.functions._

/** Oracle-checked queries for the fit/transform module (SURVEY §2.8
  * M1-M5, §2.7 F10-F12).
  */
object TransformQueries extends QueryPack {

  /** M1: alphabetical label encoding of nation names (vocab join). */
  val labelEncode: GraftQuery = GraftQuery(
    "label_encode_nation",
    (s, dir) => {
      val n = Tables(s, dir, "nation")
      LabelEncoder.fit(n, "n_name")
        .transform(n, "code")
        .select("n_nationkey", "n_name", "code")
        .orderBy("n_nationkey")
    },
    Some("""
      SELECT n_nationkey, n_name,
             CAST(dense_rank() OVER (ORDER BY n_name) - 1 AS INTEGER) AS code
      FROM nation ORDER BY n_nationkey"""))

  /** M1 unseen-category path: vocab fit on a subset, unseen -> -1
    * (Sol_2.ipynb cell 4 fit=False branch).
    */
  val labelEncodeUnseen: GraftQuery = GraftQuery(
    "label_encode_unseen",
    (s, dir) => {
      val n = Tables(s, dir, "nation")
      LabelEncoder.fit(n.filter(col("n_regionkey") < 2), "n_name")
        .transform(n, "code")
        .select("n_nationkey", "n_name", "code")
        .orderBy("n_nationkey")
    },
    Some("""
      WITH vocab AS (
        SELECT n_name AS v,
               CAST(dense_rank() OVER (ORDER BY n_name) - 1 AS INTEGER) AS code
        FROM nation WHERE n_regionkey < 2)
      SELECT n_nationkey, n_name,
             COALESCE(vocab.code, -1) AS code
      FROM nation LEFT JOIN vocab ON n_name = vocab.v
      ORDER BY n_nationkey"""))

  /** M2: equal-width binning of c_acctbal (negative-to-positive range);
    * per-bucket count + exact cent bounds. The oracle recomputes the
    * linspace edges with identical double arithmetic.
    */
  val equalWidthBin: GraftQuery = GraftQuery(
    "equal_width_bin_acctbal",
    (s, dir) => {
      val c = Tables(s, dir, "customer")
      EqualWidthBinner.fit(c, "c_acctbal", 8)
        .transform(c, "bucket")
        .groupBy("bucket")
        .agg(
          count(lit(1)).as("n"),
          min(Q.cents("c_acctbal")).as("lo_cents"),
          max(Q.cents("c_acctbal")).as("hi_cents"))
        .orderBy("bucket")
    },
    Some("""
      WITH mm AS (
        SELECT CAST(MIN(c_acctbal) AS DOUBLE) AS mn,
               CAST(MAX(c_acctbal) AS DOUBLE) AS mx
        FROM customer),
      b AS (
        SELECT CASE
                 WHEN c_acctbal IS NULL OR c_acctbal < mn OR c_acctbal > mx THEN -1
                 WHEN c_acctbal <= mn + (1 * (mx - mn)) / 8 THEN 0
                 WHEN c_acctbal <= mn + (2 * (mx - mn)) / 8 THEN 1
                 WHEN c_acctbal <= mn + (3 * (mx - mn)) / 8 THEN 2
                 WHEN c_acctbal <= mn + (4 * (mx - mn)) / 8 THEN 3
                 WHEN c_acctbal <= mn + (5 * (mx - mn)) / 8 THEN 4
                 WHEN c_acctbal <= mn + (6 * (mx - mn)) / 8 THEN 5
                 WHEN c_acctbal <= mn + (7 * (mx - mn)) / 8 THEN 6
                 ELSE 7 END AS bucket,
               c_acctbal
        FROM customer, mm)
      SELECT bucket, COUNT(*) AS n,
             CAST(MIN(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS lo_cents,
             CAST(MAX(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS hi_cents
      FROM b GROUP BY bucket ORDER BY bucket"""))

  /** M3: quantile binning of o_totalprice, per-bucket stats. */
  val quantileBin: GraftQuery = GraftQuery(
    "quantile_bin_totalprice",
    (s, dir) => {
      val o = Tables(s, dir, "orders")
      QuantileBinner.fit(o, "o_totalprice", 6)
        .transform(o, "bucket")
        .groupBy("bucket")
        .agg(
          count(lit(1)).as("n"),
          min(Q.cents("o_totalprice")).as("lo_cents"),
          max(Q.cents("o_totalprice")).as("hi_cents"))
        .orderBy("bucket")
    },
    Some {
      val probs = (1 to 5).map(i => i / 6.0)
      val es = probs.zipWithIndex
        .map { case (p, i) => s"quantile_cont(o_totalprice, $p) AS e${i + 1}" }
        .mkString(", ")
      s"""
      WITH e AS (SELECT $es FROM orders),
      b AS (
        SELECT CASE WHEN o_totalprice <= e.e1 THEN 0
                    WHEN o_totalprice <= e.e2 THEN 1
                    WHEN o_totalprice <= e.e3 THEN 2
                    WHEN o_totalprice <= e.e4 THEN 3
                    WHEN o_totalprice <= e.e5 THEN 4
                    ELSE 5 END AS bucket,
               o_totalprice
        FROM orders, e)
      SELECT bucket, COUNT(*) AS n,
             CAST(MIN(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS lo_cents,
             CAST(MAX(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS hi_cents
      FROM b GROUP BY bucket ORDER BY bucket"""
    })

  /** M4/F1-F4: derived-feature projection (guarded ratios, scalar-minus,
    * weighted linear combination) over a bounded lineitem slice.
    */
  val derivedFeatures: GraftQuery = GraftQuery(
    "derived_features_lineitem",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem").filter(col("l_orderkey") < 300)
      Features.derive(li, Seq(
          "disc_price_e4" ->
            (Q.cents("l_extendedprice") * (lit(100L) - Q.cents("l_discount"))),
          "qty_per_dollar" ->
            Q.r6(Features.ratio1(col("l_quantity"), col("l_extendedprice"))),
          "tax_minus_disc_cents" ->
            (Q.cents("l_tax") - Q.cents("l_discount")),
          "weighted_score" -> Q.r6(col("l_quantity") * 0.3 +
            col("l_extendedprice") / 1000 * 0.5 + col("l_discount") * 100 * 0.2)))
        .select("l_orderkey", "l_linenumber", "disc_price_e4",
          "qty_per_dollar", "tax_minus_disc_cents", "weighted_score")
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""
      SELECT l_orderkey, l_linenumber,
             CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS disc_price_e4,
             round(l_quantity / (l_extendedprice + 1), 6) AS qty_per_dollar,
             CAST(round(l_tax * 100) AS BIGINT) - CAST(round(l_discount * 100) AS BIGINT) AS tax_minus_disc_cents,
             round(l_quantity * 0.3 + l_extendedprice / 1000 * 0.5 + l_discount * 100 * 0.2, 6) AS weighted_score
      FROM lineitem WHERE l_orderkey < 300
      ORDER BY l_orderkey, l_linenumber"""))

  /** M5: standardization (sklearn ddof=0) of l_quantity, bounded slice. */
  val standardize: GraftQuery = GraftQuery(
    "standardize_quantity",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem")
      Standardizer.fit(li, "l_quantity", decimals = 0)
        .transform(li.filter(col("l_orderkey") < 300), "z")
        .select("l_orderkey", "l_linenumber", "z")
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""
      WITH m AS (
        SELECT SUM(CAST(round(l_quantity * 1) AS BIGINT)) * 1.0 / COUNT(l_quantity) AS mean,
               SUM(pow(CAST(CAST(round(l_quantity * 1) AS BIGINT) AS DOUBLE), 2)) AS s2,
               COUNT(l_quantity) AS n
        FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             round((l_quantity - mean / 1.0) / (sqrt((s2 / n - mean * mean) * n / (n - 0)) / 1.0), 6) AS z
      FROM lineitem, m WHERE l_orderkey < 300
      ORDER BY l_orderkey, l_linenumber"""))

  /** Min-max, robust (median/IQR), and winsorized views of
    * l_extendedprice ([[Scaling]]): one wide fit aggregation over the
    * full table, zero-shuffle projection transform on a bounded slice.
    */
  val scaling: GraftQuery = GraftQuery(
    "scale_robust_extendedprice",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem")
      val st = Scaling.fit(li, "l_extendedprice")
      val c = col("l_extendedprice")
      li.filter(col("l_orderkey") < 300)
        .select(
          col("l_orderkey"), col("l_linenumber"),
          st.minMax(c).as("minmax"),
          st.robustZ(c).as("robust_z"),
          st.winsorize(c).as("winsor"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""
      WITH q AS (
        SELECT quantile_cont(l_extendedprice, 0.01) AS p01,
               quantile_cont(l_extendedprice, 0.25) AS p25,
               quantile_cont(l_extendedprice, 0.50) AS p50,
               quantile_cont(l_extendedprice, 0.75) AS p75,
               quantile_cont(l_extendedprice, 0.99) AS p99,
               CAST(MIN(l_extendedprice) AS DOUBLE) AS mn,
               CAST(MAX(l_extendedprice) AS DOUBLE) AS mx
        FROM lineitem)
      SELECT l_orderkey, l_linenumber,
             round((l_extendedprice - mn) / (mx - mn), 6) AS minmax,
             round((l_extendedprice - p50) / (p75 - p25), 6) AS robust_z,
             round(least(greatest(l_extendedprice, p01), p99), 6) AS winsor
      FROM lineitem, q WHERE l_orderkey < 300
      ORDER BY l_orderkey, l_linenumber"""))

  /** Group-wise standardization: z-score of l_quantity WITHIN each
    * l_returnflag group. Group moments come from a tiny groupBy
    * aggregate broadcast-joined back (3 rows) — NOT a window partitioned
    * by a 3-value key, which would funnel the whole table through 3
    * sort partitions at scale. All moment terms are exact integer-cents
    * sums; one division chain per row.
    */
  val groupwiseZ: GraftQuery = GraftQuery(
    "groupwise_z_quantity",
    (s, dir) => {
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          Q.cents("l_quantity").as("c"))
      val stats = li.groupBy("l_returnflag")
        .agg(sum("c").as("s1"), sum(col("c") * col("c")).as("s2"),
          count(lit(1)).as("n"))
      val mean = col("s1") * 1.0 / col("n")
      li.join(broadcast(stats), Seq("l_returnflag"))
        .filter(col("l_orderkey") < 300)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          Q.r6((col("c") - mean) /
            sqrt(col("s2") * 1.0 / col("n") - mean * mean)).as("z"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some("""
      WITH x AS (
        SELECT l_orderkey, l_linenumber, l_returnflag,
               CAST(round(l_quantity * 100) AS BIGINT) AS c
        FROM lineitem),
      g AS (
        SELECT l_returnflag, SUM(c) AS s1, SUM(c * c) AS s2,
               COUNT(*) AS n
        FROM x GROUP BY 1)
      SELECT l_orderkey, l_linenumber, x.l_returnflag,
             round((c - s1 * 1.0 / n) /
               sqrt(s2 * 1.0 / n - (s1 * 1.0 / n) * (s1 * 1.0 / n)), 6) AS z
      FROM x JOIN g ON g.l_returnflag = x.l_returnflag
      WHERE l_orderkey < 300
      ORDER BY l_orderkey, l_linenumber"""))

  /** Group-mean null imputation gate: the test data carries no nulls,
    * so the query first NULLs a deterministic doc-hash-selected ~10% of
    * l_quantity (same expression both engines — the piiRedact pattern),
    * then imputes each null with its l_returnflag group's non-null mean
    * (exact integer-cents sum/count, one division). Group stats
    * broadcast back; zero extra passes over the data.
    */
  val imputeGroupMean: GraftQuery = GraftQuery(
    "impute_group_mean_quantity",
    (s, dir) => {
      val key = graft.dedup.Dedup.md5Hash60(
        concat_ws("|", col("l_orderkey"), col("l_linenumber")), 3) % 10
      val li = Tables(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          when(key === 0, lit(null)).otherwise(Q.cents("l_quantity"))
            .as("c"))
      val stats = li.groupBy("l_returnflag")
        .agg(sum("c").as("s1"), count("c").as("nn"))
      li.join(broadcast(stats), Seq("l_returnflag"))
        .filter(col("l_orderkey") < 300)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"),
          col("c").isNull.as("was_null"),
          Q.r6(coalesce(col("c") * 1.0, col("s1") * 1.0 / col("nn")) / 100.0)
            .as("quantity_imputed"))
        .orderBy("l_orderkey", "l_linenumber")
    },
    Some(s"""
      WITH x AS (
        SELECT l_orderkey, l_linenumber, l_returnflag,
               CASE WHEN ${graft.dedup.Dedup.oracleMd5Hash60("concat_ws('|', l_orderkey, l_linenumber)", 3)} % 10 = 0
                    THEN NULL
                    ELSE CAST(round(l_quantity * 100) AS BIGINT) END AS c
        FROM lineitem),
      g AS (SELECT l_returnflag, SUM(c) AS s1, COUNT(c) AS nn
            FROM x GROUP BY 1)
      SELECT l_orderkey, l_linenumber, x.l_returnflag,
             c IS NULL AS was_null,
             round(coalesce(c * 1.0, s1 * 1.0 / nn) / 100.0, 6)
               AS quantity_imputed
      FROM x JOIN g ON g.l_returnflag = x.l_returnflag
      WHERE l_orderkey < 300
      ORDER BY l_orderkey, l_linenumber"""))

  /** SCD2 history compaction over each customer's order-status stream:
    * consecutive equal statuses (ordered by date, orderkey as tiebreak)
    * collapse into validity ranges with an open current version — the
    * warehouse dimension-history shape. Shuffles on custkey only.
    */
  val scd2History: GraftQuery = GraftQuery(
    "scd2_customer_status_history",
    (s, dir) => {
      val o = Tables(s, dir, "orders")
        .select("o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey")
      Scd.scd2Compact(o, "o_custkey", "o_orderstatus",
          Seq("o_orderdate", "o_orderkey"))
        .select(col("o_custkey").as("custkey"), col("version"),
          col("o_orderstatus").as("status"), col("valid_from"),
          col("valid_to"), col("n_rows").as("n_orders"), col("is_current"))
        .orderBy("custkey", "version")
    },
    Some("""
      WITH s AS (
        SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
               CASE WHEN lag(o_orderstatus) OVER w IS NOT DISTINCT FROM
                         o_orderstatus THEN 0 ELSE 1 END AS chg
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)),
      v AS (
        SELECT *, CAST(SUM(chg) OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
        FROM s),
      g AS (
        SELECT o_custkey AS custkey, version,
               MIN(o_orderstatus) AS status,
               MIN(o_orderdate) AS valid_from,
               COUNT(*) AS n_orders
        FROM v GROUP BY o_custkey, version)
      SELECT custkey, version, status, valid_from,
             lead(valid_from) OVER wv AS valid_to,
             n_orders,
             lead(valid_from) OVER wv IS NULL AS is_current
      FROM g
      WINDOW wv AS (PARTITION BY custkey ORDER BY version)
      ORDER BY custkey, version"""))

  /** Temporal (point-in-time) join against the SCD2 history: every
    * order looks up the status version active at its own order date —
    * the AS OF dimension lookup every warehouse fact load performs.
    * Orders on a multi-change day resolve to that day's LAST version
    * (highest version with valid_from <= date), so self-mismatches
    * count exactly the intra-day change stacks.
    */
  val scd2PointInTime: GraftQuery = GraftQuery(
    "scd2_point_in_time_join",
    (s, dir) => {
      val o = Tables(s, dir, "orders")
        .select("o_custkey", "o_orderstatus", "o_orderdate", "o_orderkey")
      val hist = Scd.scd2Compact(o, "o_custkey", "o_orderstatus",
        Seq("o_orderdate", "o_orderkey"))
      Scd.pointInTime(hist, o, "o_custkey", "o_orderdate", "o_orderkey",
          "o_orderstatus")
        .select(col("o_orderstatus_at_ts").as("status_at_ts"),
          col("o_orderstatus"))
        .groupBy("status_at_ts")
        .agg(count(lit(1)).as("n_orders"),
          sum(when(col("status_at_ts") === col("o_orderstatus"), 1L)
            .otherwise(0L)).as("n_self_match"))
        .orderBy("status_at_ts")
    },
    Some("""
      WITH s AS (
        SELECT o_custkey, o_orderstatus, o_orderdate, o_orderkey,
               CASE WHEN lag(o_orderstatus) OVER w IS NOT DISTINCT FROM
                         o_orderstatus THEN 0 ELSE 1 END AS chg
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey
                     ORDER BY o_orderdate, o_orderkey)),
      v AS (
        SELECT *, CAST(SUM(chg) OVER (PARTITION BY o_custkey
                       ORDER BY o_orderdate, o_orderkey
                       ROWS UNBOUNDED PRECEDING) AS BIGINT) AS version
        FROM s),
      g AS MATERIALIZED (
        SELECT o_custkey AS custkey, version,
               MIN(o_orderstatus) AS status,
               MIN(o_orderdate) AS valid_from
        FROM v GROUP BY o_custkey, version),
      j AS (
        SELECT o.o_orderkey, o.o_orderstatus, g.status AS sat,
               row_number() OVER (PARTITION BY o.o_orderkey
                                  ORDER BY g.version DESC) AS rk
        FROM orders o
        JOIN g ON g.custkey = o.o_custkey
              AND g.valid_from <= o.o_orderdate)
      SELECT sat AS status_at_ts, COUNT(*) AS n_orders,
             CAST(SUM(CASE WHEN sat = o_orderstatus THEN 1 ELSE 0 END)
               AS BIGINT) AS n_self_match
      FROM j WHERE rk = 1
      GROUP BY sat ORDER BY sat"""))

  /** Streaming latest-wins upsert view — the CDC current-state pattern:
    * a complete-mode `max(struct(ts, tiebreak, value))` keeps exactly
    * one state row per key while change rows stream in; the drained
    * table is each customer's current order status and must equal the
    * batch window argmax. State is one struct per key, the upsert twin
    * of the SCD2 history (which keeps every version).
    */
  val latestStatusStream: GraftQuery = GraftQuery(
    "latest_status_stream",
    (s, dir) => {
      import org.apache.spark.sql.types._
      // The result is KEY-CARDINALITY sized (one row per customer —
      // 15M at sf100, billions at 100 TB), so a complete-mode memory
      // sink is the wrong shape: it re-collects the whole aggregate to
      // the driver every trigger (measured: >1 GiB driver result at
      // sf100). foreachBatch + distributed parquet overwrite is the
      // upsert-to-store pattern — each trigger's complete snapshot
      // replaces the last, executors write in parallel, the driver
      // never holds the table, and the final snapshot is what a keyed
      // store would contain. Trigger-invariant by construction (the
      // last complete snapshot is the full aggregate either way).
      val out = graft.sources.Sources.scratchDir(s, "lateststatus", dir)
      // state sized to the source like every drained stream (see Streams)
      val sq = graft.streaming.Streams
        .withStatePartitions(s, s"$dir/orders.parquet") {
          graft.sources.StreamRead.table(s, dir, "orders")
            .groupBy(col("o_custkey").as("custkey"))
            .agg(max(struct(col("o_orderdate"), col("o_orderkey"),
              col("o_orderstatus"))).as("m"))
            .writeStream.outputMode("complete")
            .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
              df.write.mode("overwrite").parquet(out)
            }
            .start()
        }
      try sq.processAllAvailable()
      finally { sq.stop(); GraftStateBridge.unloadStateStores(sq) }
      // Zero micro-batches (empty/missing source) never invokes
      // foreachBatch, so the snapshot dir may not exist — return the
      // empty aggregate with the query's schema instead of letting the
      // read throw path-not-found (ADVICE r12: the old complete-mode
      // memory sink returned an empty table in that case; keep that
      // contract under the foreachBatch sink too).
      val fs = org.apache.hadoop.fs.FileSystem.get(
        s.sparkContext.hadoopConfiguration)
      if (!fs.exists(new org.apache.hadoop.fs.Path(out)))
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("custkey", LongType),
            StructField("status", StringType))))
      else
        s.read.parquet(out)
          .select(col("custkey"), col("m.o_orderstatus").as("status"))
          .orderBy("custkey")
    },
    Some("""
      SELECT o_custkey AS custkey, o_orderstatus AS status
      FROM (SELECT o_custkey, o_orderstatus,
                   row_number() OVER (PARTITION BY o_custkey
                     ORDER BY o_orderdate DESC, o_orderkey DESC) AS rk
            FROM orders)
      WHERE rk = 1 ORDER BY custkey"""))

  /** Weight-of-evidence / information-value of order priority against
    * the finished-status target ([[SupervisedEncoding.woeIv]]) — the
    * scorecard-style categorical screen: per-category WoE with the
    * half-event adjustment plus the micro-unit IV decomposition and its
    * order-independent total.
    */
  val woeIvPriority: GraftQuery = GraftQuery(
    "woe_iv_priority",
    (s, dir) => SupervisedEncoding.woeIv(
      Tables(s, dir, "orders"),
      col("o_orderpriority"), col("o_orderstatus") === "F"),
    Some("""
      WITH per AS (
        SELECT o_orderpriority AS category, COUNT(*) AS n,
               CAST(SUM(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_pos,
               CAST(COUNT(*) - SUM(CASE WHEN o_orderstatus = 'F'
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg
        FROM orders GROUP BY o_orderpriority),
      t AS (
        SELECT *, SUM(n_pos) OVER () AS t_pos, SUM(n_neg) OVER () AS t_neg
        FROM per),
      w AS (
        SELECT category, n, n_pos, n_neg,
               ln(((n_pos + 0.5) / t_pos) / ((n_neg + 0.5) / t_neg))
                 AS woe_raw,
               (n_pos * 1.0 / t_pos - n_neg * 1.0 / t_neg)
                 * ln(((n_pos + 0.5) / t_pos) / ((n_neg + 0.5) / t_neg))
                 AS term
        FROM t),
      m AS (
        SELECT category, n, n_pos, n_neg,
               round(woe_raw, 6) AS woe,
               CAST(floor(abs(term) * 1000000 + 0.5)
                 * (CASE WHEN term > 0 THEN 1 WHEN term < 0 THEN -1
                    ELSE 0 END) AS BIGINT) AS iv_term_micro
        FROM w)
      SELECT category, n, n_pos, n_neg, woe, iv_term_micro,
             CAST(SUM(iv_term_micro) OVER () AS BIGINT) AS iv_micro
      FROM m ORDER BY category"""))

  /** Leak-free out-of-fold target encoding of order priority against
    * o_totalprice over 5 deterministic hash folds
    * ([[SupervisedEncoding.targetEncodeOof]], prior weight 20) — the
    * CV-safe mean encoding emitted as its complete (category, fold)
    * lookup table.
    */
  val targetEncodeOof: GraftQuery = GraftQuery(
    "target_encode_oof_priority",
    (s, dir) => SupervisedEncoding.targetEncodeOof(
      Tables(s, dir, "orders"),
      col("o_orderpriority"), Q.cents("o_totalprice"),
      graft.dedup.Dedup.md5Hash60(col("o_orderkey").cast("string"), 11)
        % 5,
      priorWeight = 20),
    Some(s"""
      WITH s AS (
        SELECT o_orderpriority AS category,
               ${graft.dedup.Dedup.oracleMd5Hash60("CAST(o_orderkey AS VARCHAR)", 11)} % 5 AS fold,
               CAST(round(o_totalprice * 100) AS BIGINT) AS v
        FROM orders),
      per AS (
        SELECT category, fold, COUNT(*) AS n, CAST(SUM(v) AS BIGINT) AS s
        FROM s GROUP BY category, fold),
      w AS (
        SELECT category, fold, n, s,
               CAST(SUM(s) OVER (PARTITION BY category) AS BIGINT) AS cs,
               CAST(SUM(n) OVER (PARTITION BY category) AS BIGINT) AS cn,
               CAST(SUM(s) OVER () AS BIGINT) AS ts,
               CAST(SUM(n) OVER () AS BIGINT) AS tn
        FROM per)
      SELECT category, fold, n,
             round((cs - s + 20 * (ts * 1.0 / tn)) / (cn - n + 20) / 100.0, 6)
               AS enc
      FROM w ORDER BY category, fold"""))

  override def queries: Seq[GraftQuery] = Seq(
    labelEncode, labelEncodeUnseen, equalWidthBin, quantileBin,
    derivedFeatures, standardize, scaling, groupwiseZ, imputeGroupMean,
    scd2History, scd2PointInTime, latestStatusStream, woeIvPriority,
    targetEncodeOof)
}
