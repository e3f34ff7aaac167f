package graft.queries

import graft.dedup.Dedup
import graft.{GraftQuery, Q, QueryPack, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Remaining SURVEY §2 surface: vertical concat (S4/O4), per-group top-k
  * window (W1), sort-by-abs ranking (W2), distinct values (O5), the
  * S1/S2 CSV round-trip gate, and the fixed-work bench calibration query.
  */
object MiscQueries extends QueryPack {

  /** S1+S2 driver gate: documents round-trips through the CSV sink
    * (sharded write — the single-file contract is the submission special
    * case) and the explicit-schema CSV scan, then content-derived
    * aggregates are hash-compared against the parquet original: any row,
    * column, or byte the round-trip dropped or mangled breaks the md5
    * checksum. Reference: house_predict.py:565-566 (read_csv),
    * 622-628 (to_csv).
    */
  val csvRoundtrip: GraftQuery = GraftQuery(
    "csv_roundtrip_docs",
    (s, dir) => {
      import org.apache.spark.sql.types._
      val docs = Tables(s, dir, "documents")
      val path = graft.sources.Sources.scratchDir(s, "csv", dir)
      graft.sources.Sources.writeSubmissionCsv(
        docs, path,
        cols = Seq("doc_id", "text", "lang", "source", "n_chars"),
        singleFile = false)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      graft.sources.Sources.readCsv(s, path, schema)
        .groupBy("lang").agg(
          count(lit(1)).as("n"),
          sum("n_chars").as("sum_chars"),
          sum(graft.dedup.Dedup.md5Base(col("text"))).as("text_checksum"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("lang")
    },
    Some(s"""
      SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             CAST(SUM(${Dedup.oracleMd5Base("text")}) AS BIGINT) AS text_checksum,
             MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      FROM documents GROUP BY lang ORDER BY lang"""))

  /** JSONL round-trip gate: documents out through the sharded
    * newline-delimited-JSON sink and back through the explicit-schema
    * JSON scan — the interchange format document corpora actually ship
    * in (one object per line; a 100-TB crawl arrives as millions of
    * .jsonl shards, each line-splittable so the scan parallelizes
    * without a format-aware splitter). The md5 content checksum makes
    * any escaping/encoding mangling in either direction break the hash
    * vs the parquet original.
    */
  val jsonlRoundtrip: GraftQuery = GraftQuery(
    "jsonl_roundtrip_docs",
    (s, dir) => {
      import org.apache.spark.sql.types._
      val docs = Tables(s, dir, "documents")
      val path = graft.sources.Sources.scratchDir(s, "jsonl", dir)
      graft.sources.Sources.writeJsonl(
        docs.select("doc_id", "text", "lang", "source", "n_chars"), path)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType),
        StructField("lang", StringType), StructField("source", StringType),
        StructField("n_chars", LongType)))
      graft.sources.Sources.readJsonl(s, path, schema)
        .groupBy("source").agg(
          count(lit(1)).as("n"),
          sum("n_chars").as("sum_chars"),
          sum(graft.dedup.Dedup.md5Base(col("text"))).as("text_checksum"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("source")
    },
    Some(s"""
      SELECT source, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             CAST(SUM(${Dedup.oracleMd5Base("text")}) AS BIGINT) AS text_checksum,
             MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      FROM documents GROUP BY source ORDER BY source"""))

  /** ORC round-trip gate: the second native columnar format (typed
    * pages, pushdown + pruning like parquet). Same checksum contract as
    * the CSV/JSONL gates; exercises the orc writer/reader pair so a
    * deployment standardized on ORC (common in Hive-lineage lakes) has
    * the same verified fidelity as the parquet path.
    */
  val orcRoundtrip: GraftQuery = GraftQuery(
    "orc_roundtrip_docs",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val path = graft.sources.Sources.scratchDir(s, "orc", dir)
      graft.sources.Sources.writeOrc(
        docs.select("doc_id", "text", "lang", "source", "n_chars"), path)
      graft.sources.Sources.readOrc(s, path)
        .groupBy("lang").agg(
          count(lit(1)).as("n"),
          sum("n_chars").as("sum_chars"),
          sum(graft.dedup.Dedup.md5Base(col("text"))).as("text_checksum"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("lang")
    },
    Some(s"""
      SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             CAST(SUM(${Dedup.oracleMd5Base("text")}) AS BIGINT) AS text_checksum,
             MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      FROM documents GROUP BY lang ORDER BY lang"""))

  /** Fixed-work load canary (no table input): a pure-CPU 20M-row modular
    * sum whose cost is independent of the scale factor, so cross-round
    * bench diffs can separate box load from plan regressions — in r4
    * every trivial fixed-plan query inflated ~2.5-3x uniformly under
    * load with zero code change.
    */
  val calibration: GraftQuery = GraftQuery(
    "calibration_cpu",
    (s, _) => s.range(20000000L).agg(
      sum(col("id") % 97).as("cal_sum"), count(lit(1)).as("n")),
    Some("""
      SELECT CAST(SUM(i % 97) AS BIGINT) AS cal_sum, COUNT(*) AS n
      FROM range(20000000) t(i)"""))

  /** S4/O4: union of customer and supplier account balances (the
    * reference concatenates train∪test to fit encoders).
    */
  val unionConcat: GraftQuery = GraftQuery(
    "union_concat_acctbal",
    (s, dir) => {
      val c = Tables(s, dir, "customer")
        .select(lit("customer").as("side"), col("c_acctbal").as("acctbal"))
      val sup = Tables(s, dir, "supplier")
        .select(lit("supplier").as("side"), col("s_acctbal").as("acctbal"))
      c.unionByName(sup)
        .groupBy("side")
        .agg(count(lit(1)).as("n"), sum(Q.cents(col("acctbal"))).as("sum_cents"))
        .orderBy("side")
    },
    Some("""
      WITH u AS (
        SELECT 'customer' AS side, c_acctbal AS acctbal FROM customer
        UNION ALL
        SELECT 'supplier' AS side, s_acctbal AS acctbal FROM supplier)
      SELECT side, COUNT(*) AS n,
             CAST(SUM(CAST(round(acctbal * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      FROM u GROUP BY side ORDER BY side"""))

  /** W1: top-2 parts per brand by retail price (row_number window). */
  val topkPerBrand: GraftQuery = GraftQuery(
    "topk_parts_per_brand",
    (s, dir) => {
      val w = Window.partitionBy("p_brand")
        .orderBy(desc("p_retailprice"), col("p_partkey"))
      Tables(s, dir, "part")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 2)
        .select(col("p_brand"), col("rk"), col("p_partkey"),
          Q.cents(col("p_retailprice")).as("price_cents"))
        .orderBy("p_brand", "rk")
    },
    Some("""
      SELECT p_brand, rk, p_partkey, price_cents
      FROM (SELECT p_brand, p_partkey,
                   CAST(round(p_retailprice * 100) AS BIGINT) AS price_cents,
                   row_number() OVER (PARTITION BY p_brand
                     ORDER BY p_retailprice DESC, p_partkey) AS rk
            FROM part)
      WHERE rk <= 2 ORDER BY p_brand, rk"""))

  /** W2/O5: distinct order priorities ranked by |share - 0.2| (sort by an
    * absolute-value expression, reference Sol_2 cell 5).
    */
  val absRank: GraftQuery = GraftQuery(
    "priority_abs_deviation",
    (s, dir) => {
      val counts = Tables(s, dir, "orders")
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      counts
        .withColumn(
          "dev",
          Q.r6(abs(col("n") * 1.0 / sum("n").over(Window.partitionBy()) - 0.2)))
        .select("o_orderpriority", "n", "dev")
        .orderBy(desc("dev"), col("o_orderpriority"))
    },
    Some("""
      WITH c AS (SELECT o_orderpriority, COUNT(*) AS n
                 FROM orders GROUP BY o_orderpriority)
      SELECT o_orderpriority, n,
             round(abs(n * 1.0 / (SELECT SUM(n) FROM c) - 0.2), 6) AS dev
      FROM c ORDER BY dev DESC, o_orderpriority"""))

  /** O6: intersect/except — nations with high-balance customers vs
    * nations with suppliers, tagged by membership. Both ops shuffle on
    * already-distinct keys (tiny after dedup — scales).
    */
  val setOps: GraftQuery = GraftQuery(
    "nation_set_ops",
    (s, dir) => {
      val cust = Tables(s, dir, "customer")
        .filter(col("c_acctbal") > 9000)
        .select(col("c_nationkey").as("nationkey")).distinct()
      val supp = Tables(s, dir, "supplier")
        .select(col("s_nationkey").as("nationkey")).distinct()
      cust.intersect(supp).select(lit("both").as("side"), col("nationkey"))
        .unionByName(cust.except(supp)
          .select(lit("customer_only").as("side"), col("nationkey")))
        .unionByName(supp.except(cust)
          .select(lit("supplier_only").as("side"), col("nationkey")))
        .orderBy("side", "nationkey")
    },
    Some("""
      WITH c AS (SELECT DISTINCT c_nationkey AS nationkey
                 FROM customer WHERE c_acctbal > 9000),
           s AS (SELECT DISTINCT s_nationkey AS nationkey FROM supplier)
      SELECT 'both' AS side, nationkey
      FROM (SELECT nationkey FROM c INTERSECT SELECT nationkey FROM s)
      UNION ALL
      SELECT 'customer_only' AS side, nationkey
      FROM (SELECT nationkey FROM c EXCEPT SELECT nationkey FROM s)
      UNION ALL
      SELECT 'supplier_only' AS side, nationkey
      FROM (SELECT nationkey FROM s EXCEPT SELECT nationkey FROM c)
      ORDER BY side, nationkey"""))

  /** Z-order (Morton) layout report over orders on the
    * (customer, order-day) plane ([[graft.sources.Layout.zValue]]):
    * rows are assigned to 16 "files" in Z-value order and each file
    * reports its min/max rectangle in BOTH dimensions — narrow ranges
    * on both axes are what make parquet row-group stats prune scans for
    * either predicate at 100 TB. The file assignment is the exact
    * SQL-standard ntile(16) over (z, orderkey) — computed DISTRIBUTED:
    * [[graft.transform.DistRank]] gives the global row number from
    * z-bucketed parallel local sorts + exact prefix offsets, and ntile's
    * first-(n mod k)-buckets-get-one-extra rule is replayed
    * arithmetically from (rn, n). The production write is
    * `repartitionByRange(n, z).sortWithinPartitions(z).write`, which
    * needs no rank at all; this query keeps the rank so the oracle can
    * replay the identical assignment.
    */
  val zorderLayout: GraftQuery = GraftQuery(
    "zorder_layout_orders",
    (s, dir) => {
      val day = datediff(col("o_orderdate"), to_date(lit("1995-01-01")))
        .cast("long")
      val z = graft.sources.Layout.zValue(col("o_custkey"), day, 16)
      val base = Tables(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), day.as("day_idx"),
          z.as("z"))
      graft.transform.DistRank.withRowNumber(
          base, col("z"), Seq(col("z"), col("o_orderkey")),
          totalCountCol = Some("n"))
        // ntile(16): q = n div 16 rows per file, the first r = n mod 16
        // files take one extra row (for n < 16: q = 0, every row falls in
        // the first branch and file_id = rn — same as ntile)
        .withColumn("file_id", expr(
          """CASE WHEN rn <= (n % 16) * (n div 16 + 1)
                  THEN (rn - 1) div (n div 16 + 1)
                  ELSE n % 16 + (rn - 1 - (n % 16) * (n div 16 + 1))
                       div (n div 16)
             END + 1""").cast("long"))
        .groupBy("file_id")
        .agg(count(lit(1)).as("n_rows"),
          min("o_custkey").as("min_cust"), max("o_custkey").as("max_cust"),
          min("day_idx").as("min_day"), max("day_idx").as("max_day"))
        .orderBy("file_id")
    },
    Some(s"""
      WITH d AS (
        SELECT o_orderkey, o_custkey,
               date_diff('day', TIMESTAMP '1995-01-01', o_orderdate)
                 AS day_idx
        FROM orders),
      b AS (
        SELECT o_orderkey, o_custkey, day_idx,
               ${graft.sources.Layout.zValueSql("o_custkey", "day_idx", 16)}
                 AS z
        FROM d),
      f AS (
        SELECT o_custkey, day_idx,
               ntile(16) OVER (ORDER BY z, o_orderkey) AS file_id
        FROM b)
      SELECT CAST(file_id AS BIGINT) AS file_id, COUNT(*) AS n_rows,
             MIN(o_custkey) AS min_cust, MAX(o_custkey) AS max_cust,
             CAST(MIN(day_idx) AS BIGINT) AS min_day,
             CAST(MAX(day_idx) AS BIGINT) AS max_day
      FROM f GROUP BY file_id ORDER BY file_id"""))

  /** Month-over-month revenue growth: lag window over the (bounded)
    * monthly aggregate frame; growth is a single division of exact
    * integer cents, r6-rounded.
    */
  val revenueGrowth: GraftQuery = GraftQuery(
    "revenue_growth_monthly",
    (s, dir) => {
      val monthly = Tables(s, dir, "orders")
        .groupBy(
          year(col("o_orderdate")).as("y"),
          month(col("o_orderdate")).as("m"))
        .agg(sum(Q.cents("o_totalprice")).as("rev_cents"))
      val w = Window.orderBy("y", "m")
      monthly
        .withColumn("prev", lag("rev_cents", 1).over(w))
        .select(col("y"), col("m"), col("rev_cents"),
          Q.r6((col("rev_cents") - col("prev")) * 1.0 / col("prev"))
            .as("growth"))
        .orderBy("y", "m")
    },
    Some("""
      WITH m AS (
        SELECT CAST(date_part('year', o_orderdate) AS INTEGER) AS y,
               CAST(date_part('month', o_orderdate) AS INTEGER) AS m,
               SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev_cents
        FROM orders GROUP BY 1, 2),
      l AS (SELECT y, m, rev_cents,
                   lag(rev_cents, 1) OVER (ORDER BY y, m) AS prev
            FROM m)
      SELECT y, m, CAST(rev_cents AS BIGINT) AS rev_cents,
             round((rev_cents - prev) * 1.0 / prev, 6) AS growth
      FROM l ORDER BY y, m"""))

  /** Hive-style partitioned write + partition-PRUNED read gate — the
    * core 100-TB layout primitive: `partitionBy(lang)` on write, and a
    * lang-filtered read that must touch only that partition's files
    * (PartitionPruneSpec asserts the PartitionFilters plan property;
    * this query hash-checks the surviving content against the source
    * table). The partition column round-trips through directory names.
    */
  val partitionedRoundtrip: GraftQuery = GraftQuery(
    "partitioned_roundtrip_docs",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val path = graft.sources.Sources.scratchDir(s, "part", dir)
      docs.write.mode("overwrite").partitionBy("lang").parquet(path)
      s.read.parquet(path)
        .filter(col("lang") === "en")
        .groupBy("lang").agg(
          count(lit(1)).as("n"),
          sum("n_chars").as("sum_chars"),
          sum(graft.dedup.Dedup.md5Base(col("text"))).as("text_checksum"),
          min("doc_id").as("min_id"), max("doc_id").as("max_id"))
        .orderBy("lang")
    },
    Some(s"""
      SELECT lang, COUNT(*) AS n, CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             CAST(SUM(${Dedup.oracleMd5Base("text")}) AS BIGINT) AS text_checksum,
             MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      FROM documents WHERE lang = 'en' GROUP BY lang ORDER BY lang"""))

  /** Lag-1 autocorrelation of daily order revenue — the time-series
    * seasonality probe. The moment arithmetic is SCALE-PROOF by
    * construction, not by picking a grid with headroom: daily revenues
    * reduce to exact integer k$ (cents div 100000), the six Pearson
    * moments and the covariance/variance DIFFERENCES all run in
    * decimal(38,0) — exact 128-bit integers (x² ~ 1e20 at the sf100
    * rung, n·sxx ~ 1e27; a pure-BIGINT version of both engines
    * overflowed there, caught by the r12 sf100 sweep) — and only the
    * final ratio drops to double (the variance PRODUCT under the sqrt
    * is ~1e48 and must be floating; cov/vx/vy are exact integers that
    * both engines round to the same nearest double, so the %.6f hash
    * stays bit-stable). The oracle mirrors with HUGEINT.
    */
  val revenueAutocorr: GraftQuery = GraftQuery(
    "revenue_autocorr_daily",
    (s, dir) => {
      val daily = Tables(s, dir, "orders")
        .groupBy(expr("CAST(o_orderdate AS DATE)").as("d"))
        .agg(expr("CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT))"
          + " div 100000 AS LONG)").as("x"))
      val w = Window.orderBy("d")
      val dec = "decimal(38,0)"
      val pairs = daily
        .withColumn("y", lag("x", 1).over(w))
        .filter(col("y").isNotNull)
        .select(col("x").cast(dec).as("x"), col("y").cast(dec).as("y"))
      val cov = col("n").cast(dec) * col("sxy") - col("sx") * col("sy")
      val vx = col("n").cast(dec) * col("sxx") - col("sx") * col("sx")
      val vy = col("n").cast(dec) * col("syy") - col("sy") * col("sy")
      pairs.agg(
          count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .select(col("n"),
          Q.r6(cov.cast("double") /
              sqrt(vx.cast("double") * vy.cast("double")))
            .as("autocorr"))
    },
    Some("""
      WITH daily AS (
        SELECT CAST(o_orderdate AS DATE) AS d,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) // 100000
                 AS BIGINT) AS x
        FROM orders GROUP BY 1),
      p AS (SELECT CAST(x AS HUGEINT) AS x,
                   CAST(lag(x, 1) OVER (ORDER BY d) AS HUGEINT) AS y
            FROM daily),
      f AS (SELECT * FROM p WHERE y IS NOT NULL),
      s AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
                   SUM(x) AS sx, SUM(y) AS sy,
                   SUM(x * x) AS sxx, SUM(y * y) AS syy, SUM(x * y) AS sxy
            FROM f),
      v AS (SELECT n,
                   CAST(n * sxy - sx * sy AS DOUBLE) AS cov,
                   CAST(n * sxx - sx * sx AS DOUBLE) AS vx,
                   CAST(n * syy - sy * sy AS DOUBLE) AS vy
            FROM s)
      SELECT CAST(n AS BIGINT) AS n,
             round(cov / sqrt(vx * vy), 6) AS autocorr
      FROM v"""))

  /** Salted-join gate ([[graft.joins.SkewJoin.saltedJoin]]): lineitem's
    * 3-value returnflag key is the hot-key regime — a plain shuffle join
    * funnels a third of the table through one reducer; salting spreads
    * each hot key over 8. The salt values are seeded-random but the
    * join MULTISET is provably the plain join's, so the aggregated
    * output is deterministic and the oracle is the unsalted SQL join.
    */
  val skewSalted: GraftQuery = GraftQuery(
    "skew_salted_join",
    (s, dir) => {
      import s.implicits._
      val dim = Seq(("R", "returned"), ("A", "accepted"), ("N", "none"))
        .toDF("l_returnflag", "flag_label")
      graft.joins.SkewJoin.saltedJoin(
          Tables(s, dir, "lineitem").select(col("l_returnflag"),
            Q.cents("l_extendedprice").as("c")),
          dim, "l_returnflag", salt = 8)
        .groupBy("flag_label")
        .agg(count(lit(1)).as("n"), sum("c").as("sum_cents"))
        .orderBy("flag_label")
    },
    Some("""
      SELECT CASE l_returnflag WHEN 'R' THEN 'returned'
                               WHEN 'A' THEN 'accepted'
                               ELSE 'none' END AS flag_label,
             COUNT(*) AS n,
             CAST(SUM(CAST(round(l_extendedprice * 100) AS BIGINT))
               AS BIGINT) AS sum_cents
      FROM lineitem GROUP BY 1 ORDER BY flag_label"""))

  /** Month-of-year seasonality index: each calendar month's revenue
    * against the uniform 1/12 expectation, as exact integer micro-index
    * (1e6 = exactly average) — the periodicity read on any revenue
    * dashboard; years aggregate together so the index isolates the
    * seasonal shape.
    */
  val seasonality: GraftQuery = GraftQuery(
    "seasonality_index_monthly",
    (s, dir) => {
      val m = Tables(s, dir, "orders")
        .groupBy(month(col("o_orderdate")).as("m"))
        .agg(sum(Q.cents("o_totalprice")).as("rev_cents"))
      val tot = m.agg(sum("rev_cents").as("tot"))
      m.crossJoin(broadcast(tot))
        .select(col("m"), col("rev_cents"),
          // rev_cents * 12e6 overflows BIGINT at sf100 (monthly cents
          // ~2e15 over 150M orders -> product ~2.4e22 > 2^63; caught by
          // the r12 sf100 sweep under ANSI mode). The multiply runs in
          // decimal(38,0) — exact 128-bit integer math, same floor
          // division — and only the ≤1.2e7-scale quotient returns to
          // BIGINT. The oracle mirrors with HUGEINT.
          expr("(cast(rev_cents as decimal(38,0)) * 12000000) div tot")
            .as("index_micro"))
        .orderBy("m")
    },
    Some("""
      WITH m AS (
        SELECT CAST(date_part('month', o_orderdate) AS INTEGER) AS m,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS rev_cents
        FROM orders GROUP BY 1),
      t AS (SELECT CAST(SUM(rev_cents) AS BIGINT) AS tot FROM m)
      SELECT m, rev_cents,
             CAST((CAST(rev_cents AS HUGEINT) * 12000000) // tot
               AS BIGINT) AS index_micro
      FROM m, t ORDER BY m"""))

  /** RFM segmentation: recency / frequency / monetary terciles per
    * customer, assigned by explicit rank over the per-customer aggregate
    * frame with key tiebreaks — fully deterministic, no quantile
    * interpolation. Each of the three ranks runs DISTRIBUTED
    * ([[graft.transform.DistRank]]: metric-bucketed parallel local sorts
    * + exact prefix offsets — no single-task global window); the three
    * rank frames re-join the persisted base 1:1 on custkey and the
    * customer count attaches as a broadcast 1-row aggregate. Output: one
    * row per populated segment.
    */
  val rfmSegments: GraftQuery = GraftQuery(
    "rfm_segments",
    (s, dir) => {
      val o = Tables(s, dir, "orders")
      val base = o.groupBy(col("o_custkey").as("custkey"))
        .agg(max("o_orderdate").as("last_dt"),
          count(lit(1)).as("freq"),
          sum(Q.cents("o_totalprice")).as("monetary_cents"))
        .persist() // read by 3 rank chains + the final join; Bench's
                   // post-query clearCache releases it
      def rankOf(key: org.apache.spark.sql.Column,
          ord: Seq[org.apache.spark.sql.Column], out: String) =
        graft.transform.DistRank.withRowNumber(base, key, ord, rnCol = out)
          .select(col("custkey"), col(out))
      // recency: later last order = better; rank ascending by date
      // (bucket key = epoch seconds under the session's UTC zone — any
      // monotone numeric image of the order key works)
      val r = rankOf(col("last_dt").cast("timestamp").cast("long"),
        Seq(col("last_dt"), col("custkey")), "rk_r")
      val f = rankOf(col("freq"), Seq(col("freq"), col("custkey")), "rk_f")
      val m = rankOf(col("monetary_cents"),
        Seq(col("monetary_cents"), col("custkey")), "rk_m")
      base.select(col("custkey"), col("monetary_cents"))
        .join(r, Seq("custkey")).join(f, Seq("custkey")).join(m, Seq("custkey"))
        .crossJoin(broadcast(base.agg(count(lit(1)).as("n"))))
        .select(expr("((rk_r - 1) * 3) div n").as("r_t"),
          expr("((rk_f - 1) * 3) div n").as("f_t"),
          expr("((rk_m - 1) * 3) div n").as("m_t"),
          col("monetary_cents"))
        .groupBy("r_t", "f_t", "m_t")
        .agg(count(lit(1)).as("n_customers"),
          sum("monetary_cents").as("segment_cents"))
        .orderBy("r_t", "f_t", "m_t")
    },
    Some("""
      WITH base AS (
        SELECT o_custkey AS custkey, MAX(o_orderdate) AS last_dt,
               COUNT(*) AS freq,
               CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS monetary_cents
        FROM orders GROUP BY 1),
      t AS (
        SELECT custkey, monetary_cents,
               ((row_number() OVER (ORDER BY last_dt, custkey) - 1) * 3)
                 // (COUNT(*) OVER ()) AS r_t,
               ((row_number() OVER (ORDER BY freq, custkey) - 1) * 3)
                 // (COUNT(*) OVER ()) AS f_t,
               ((row_number() OVER (ORDER BY monetary_cents, custkey) - 1) * 3)
                 // (COUNT(*) OVER ()) AS m_t
        FROM base)
      SELECT CAST(r_t AS BIGINT) AS r_t, CAST(f_t AS BIGINT) AS f_t,
             CAST(m_t AS BIGINT) AS m_t,
             COUNT(*) AS n_customers,
             CAST(SUM(monetary_cents) AS BIGINT) AS segment_cents
      FROM t GROUP BY 1, 2, 3 ORDER BY r_t, f_t, m_t"""))

  /** Market-basket association at the brand grain: for every brand pair
    * co-occurring in an order, support and exact integer micro-lift
    * `(co * N * 1e6) div (c_a * c_b)` (1e6 = independence). The pair
    * join is per-order over the distinct brand set — bounded by basket
    * width, never all-pairs across orders — and brand-grain keeps the
    * output frame tiny at any scale.
    *
    * The naive `co * N * 1e6` product wraps Long silently (non-ANSI
    * Spark) once co*N exceeds ~9.2e12, which a few million orders reach.
    * Both engines instead compute the SAME exact floor via a divmod
    * expansion: with A = co*1e6, `floor(A*N/(ca*cb)) =
    * ((A div ca)*N + ((A mod ca)*N) div ca) div cb` — exact because the
    * discarded remainder contributes < 1 and cannot cross a cb boundary.
    * Intermediates are bounded by 1e6*N and ca*N <= N^2, safe to
    * N ~ 3e9 orders (~sf2000, well past the 100-TB target).
    */
  val basketLift: GraftQuery = GraftQuery(
    "basket_brand_pairs_lift",
    (s, dir) => {
      val ob = Tables(s, dir, "lineitem")
        .join(broadcast(Tables(s, dir, "part").select("p_partkey", "p_brand")),
          col("l_partkey") === col("p_partkey"))
        .select(col("l_orderkey").as("ok"), col("p_brand").as("brand"))
        .distinct()
      val n = Tables(s, dir, "orders").agg(count(lit(1)).as("n_orders"))
      val per = ob.groupBy("brand").agg(count(lit(1)).as("c"))
      val pairs = ob.select(col("ok"), col("brand").as("brand_a"))
        .join(ob.select(col("ok"), col("brand").as("brand_b")), Seq("ok"))
        .filter(col("brand_a") < col("brand_b"))
        .groupBy("brand_a", "brand_b").agg(count(lit(1)).as("co"))
      pairs
        .join(per.select(col("brand").as("brand_a"), col("c").as("ca")),
          Seq("brand_a"))
        .join(per.select(col("brand").as("brand_b"), col("c").as("cb")),
          Seq("brand_b"))
        .crossJoin(broadcast(n))
        .filter(col("co") * 100 >= col("n_orders")) // scale-invariant 1% support
        .select(col("brand_a"), col("brand_b"), col("co"),
          expr("""(((co * 1000000L) div ca) * n_orders
                  + (((co * 1000000L) % ca) * n_orders) div ca) div cb""")
            .as("lift_micro"))
        .orderBy(desc("co"), col("brand_a"), col("brand_b"))
    },
    Some("""
      WITH ob AS MATERIALIZED (
        SELECT DISTINCT l_orderkey AS ok, p_brand AS brand
        FROM lineitem JOIN part ON p_partkey = l_partkey),
      n AS (SELECT COUNT(*) AS n_orders FROM orders),
      per AS (SELECT brand, COUNT(*) AS c FROM ob GROUP BY brand),
      pairs AS (
        SELECT a.brand AS brand_a, b.brand AS brand_b, COUNT(*) AS co
        FROM ob a JOIN ob b ON a.ok = b.ok AND a.brand < b.brand
        GROUP BY 1, 2)
      SELECT brand_a, brand_b, co,
             CAST((((co * 1000000) // pa.c) * n.n_orders
                   + (((co * 1000000) % pa.c) * n.n_orders) // pa.c) // pb.c
                  AS BIGINT) AS lift_micro
      FROM pairs
      JOIN per pa ON pa.brand = brand_a
      JOIN per pb ON pb.brand = brand_b
      CROSS JOIN n
      WHERE co * 100 >= n.n_orders
      ORDER BY co DESC, brand_a, brand_b"""))

  /** 2-D skyline (Pareto frontier) of parts: the cheapest price at each
    * size such that no larger size is as cheap — the classic dominance
    * query (maximize p_size, minimize p_retailprice; a point survives iff
    * no other point is ≥ in size AND ≤ in price, strict in one).
    *
    * Scale design: NOT the O(n²) dominance self-join. One hash
    * aggregation collapses the data to its distinct sizes (bounded
    * domain) with the min price per size; the strict-dominance filter is
    * then a cumulative min over that tiny frame ordered by size
    * descending — the single-task window sort is bounded by the size
    * domain, not the row count, so the same plan holds at 100 TB.
    */
  val skyline: GraftQuery = GraftQuery(
    "skyline_parts_size_price",
    (s, dir) => {
      val perSize = Tables(s, dir, "part")
        .groupBy(col("p_size"))
        .agg(
          min(Q.cents("p_retailprice")).as("min_price_cents"),
          count(lit(1)).as("n_parts"))
      val larger = Window.orderBy(col("p_size").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      perSize
        .withColumn("best_larger", min("min_price_cents").over(larger))
        .filter(col("best_larger").isNull ||
          col("min_price_cents") < col("best_larger"))
        .select(col("p_size"), col("min_price_cents"), col("n_parts"))
        .orderBy("p_size")
    },
    Some("""
      WITH ps AS (
        SELECT p_size,
               MIN(CAST(round(p_retailprice * 100) AS BIGINT))
                 AS min_price_cents,
               COUNT(*) AS n_parts
        FROM part GROUP BY p_size),
      w AS (
        SELECT p_size, min_price_cents, n_parts,
               MIN(min_price_cents) OVER (ORDER BY p_size DESC
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
                 AS best_larger
        FROM ps)
      SELECT p_size, min_price_cents, n_parts
      FROM w
      WHERE best_larger IS NULL OR min_price_cents < best_larger
      ORDER BY p_size"""))

  /** CUSUM level-shift scan over daily order revenue
    * ([[graft.stats.Stats.cusumChangepoint]]): the day where the
    * cumulative deviation from the mean daily revenue peaks — the
    * monitoring read that localizes WHEN a drift started, complementing
    * the KS/PSI "did it drift" gates. n·CUSUM stays integer, so the
    * argmax day is exact cross-engine.
    */
  val cusumDaily: GraftQuery = GraftQuery(
    "cusum_changepoint_daily",
    (s, dir) => graft.stats.Stats.cusumChangepoint(
      Tables(s, dir, "orders"),
      datediff(col("o_orderdate"), to_date(lit("1995-01-01"))),
      Q.cents("o_totalprice")),
    Some("""
      WITH s AS (
        SELECT CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate)
                 AS BIGINT) AS bucket,
               CAST(round(o_totalprice * 100) AS BIGINT) AS v
        FROM orders),
      per AS (
        SELECT bucket, CAST(SUM(v) AS BIGINT) AS rev
        FROM s GROUP BY bucket),
      w AS (
        SELECT bucket,
               CAST(row_number() OVER (ORDER BY bucket) AS BIGINT) AS i,
               CAST(SUM(rev) OVER (ORDER BY bucket
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS prefix,
               CAST(SUM(rev) OVER () AS BIGINT) AS total,
               COUNT(*) OVER () AS nd
        FROM per),
      d AS (
        SELECT bucket, nd, nd * prefix - i * total AS dev2
        FROM w),
      r AS (
        SELECT bucket, nd, dev2,
               row_number() OVER (ORDER BY abs(dev2) DESC, bucket) AS rk
        FROM d)
      SELECT nd AS n_buckets, bucket AS cp_bucket,
             round(abs(dev2) / nd / 100.0, 6) AS cusum_max,
             CAST(CASE WHEN dev2 > 0 THEN 1 WHEN dev2 < 0 THEN -1
                  ELSE 0 END AS INTEGER) AS direction
      FROM r WHERE rk = 1"""))

  override def queries: Seq[GraftQuery] =
    Seq(unionConcat, topkPerBrand, absRank, setOps, csvRoundtrip,
      jsonlRoundtrip, orcRoundtrip,
      calibration, zorderLayout, revenueGrowth, partitionedRoundtrip,
      revenueAutocorr, skewSalted, seasonality, rfmSegments, basketLift,
      skyline, cusumDaily)
}
