package graft.queries

import graft.{GraftQuery, Q, QueryPack, Tables}
import graft.stats.Stats
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Classic corpus/date operators rounding out the surface: word count
  * (explode-aggregate), string-column describe (count/distinct/top/freq),
  * calendar extraction.
  */
object TextExtraQueries extends QueryPack {

  /** The canonical word-count: explode tokens, count, top 20. */
  val wordCount: GraftQuery = GraftQuery(
    "word_count_docs",
    (s, dir) => Tables(s, dir, "documents")
      .select(explode(split(col("text"), " ")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy(desc("n"), col("word"))
      .limit(20),
    Some("""
      SELECT word, COUNT(*) AS n
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      GROUP BY word ORDER BY n DESC, word LIMIT 20"""))

  /** Count-min-sketch heavy hitters over document tokens (d=4 seeded
    * md5 hash rows × w=256 buckets): the bounded-memory top-k — the
    * sketch is d*w cells no matter the corpus size, mergeable cell-wise
    * across shards, unlike `word_count_docs`' exact per-token shuffle.
    * Estimates >= true counts by construction (CountMinSpec pins the
    * property); the oracle replays build + probe hash-for-hash.
    */
  private val cmsD = 4
  private val cmsW = 256
  private val cmsOracle = s"""
      WITH toks AS MATERIALIZED (
        SELECT unnest(string_split(text, ' ')) AS item FROM documents),
      melt AS MATERIALIZED (
        SELECT item, r,
               CAST(concat('0x', substring(
                 md5(item || '|' || CAST(r AS VARCHAR)), 1, 15)) AS BIGINT)
                 % $cmsW AS bucket
        FROM toks CROSS JOIN range(0, $cmsD) t(r)),
      cells AS MATERIALIZED (
        SELECT r, bucket, COUNT(*) AS cnt FROM melt GROUP BY r, bucket),
      probe AS MATERIALIZED (
        SELECT DISTINCT item, r, bucket FROM melt),
      est AS MATERIALIZED (
        SELECT p.item, MIN(c.cnt) AS est
        FROM probe p JOIN cells c ON c.r = p.r AND c.bucket = p.bucket
        GROUP BY p.item)
      SELECT item AS token, est FROM est
      ORDER BY est DESC, token LIMIT 20"""

  val cmsHeavyHitters: GraftQuery = GraftQuery(
    "cms_heavy_hitters_tokens",
    (s, dir) => graft.sketch.CountMin.heavyHitters(
      Tables(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok")),
      "tok", d = cmsD, w = cmsW, k = 20)
      .select(col("item").as("token"), col("est")),
    Some(cmsOracle))

  /** Streaming twin: the cell grid is maintained as a bounded-state
    * (d*w counters) streaming aggregation, then probed batch-side — the
    * continuous token-frequency monitor. Same oracle as the batch build:
    * the drained grid must be cell-identical.
    */
  val cmsStream: GraftQuery = GraftQuery(
    "cms_heavy_hitters_stream",
    (s, dir) => {
      val cells = graft.sketch.CountMin.streamingCells(
        s, dir, d = cmsD, w = cmsW, queryName = "graft_cms_stream")
      val toks = Tables(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("tok"))
      graft.sketch.CountMin.estimates(toks, "tok", cells, d = cmsD, w = cmsW)
        .select(col("item").as("token"), col("est"))
        .orderBy(desc("est"), col("token"))
        .limit(20)
    },
    Some(cmsOracle))

  /** CMS shard-merge proof — the sketch property that makes it the
    * 100-TB primitive, pinned IN the output: per-source cell grids are
    * built independently (one sketch per shard, the way a fleet of
    * ingest jobs would), merged by cell-wise addition, and digested
    * (md5 over the sorted (r,bucket,cnt) grid) next to the same digest
    * of a direct global build. The merged and global rows must carry
    * the IDENTICAL digest — any cell off by one breaks the hash. The
    * oracle replays per-shard builds, the merge, the global build, and
    * the digests.
    */
  val cmsMerge: GraftQuery = GraftQuery(
    "cms_shard_merge_check",
    (s, dir) => {
      val d = 4
      val w = 64
      val toks = Tables(s, dir, "documents")
        .select(col("source"), explode(split(col("text"), " ")).as("item"))
      val perSrc = toks.groupBy("source", "item")
        .agg(count(lit(1)).as("n"))
        .select(col("source"), col("n"),
          explode(sequence(lit(0), lit(d - 1))).as("r"),
          col("item"))
        .select(col("source"), col("r"),
          graft.sketch.CountMin.bucket(col("item"), col("r"), w).as("bucket"),
          col("n"))
        .groupBy("source", "r", "bucket").agg(sum("n").as("cnt"))
      val merged = perSrc.groupBy("r", "bucket").agg(sum("cnt").as("cnt"))
      val global = graft.sketch.CountMin.cells(toks, "item", d, w)
      def digest(part: String, cells: org.apache.spark.sql.DataFrame) =
        cells
          .select(concat_ws(",", col("r"), col("bucket"), col("cnt")).as("s"),
            col("cnt"))
          .agg(count(lit(1)).as("n_cells"), sum("cnt").as("mass"),
            md5(concat_ws("|", sort_array(collect_list(col("s")))))
              .as("grid_md5"))
          .select(lit(part).as("part"), col("n_cells"), col("mass"),
            col("grid_md5"))
      val srcRows = perSrc
        .select(col("source"),
          concat_ws(",", col("r"), col("bucket"), col("cnt")).as("s"),
          col("cnt"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_cells"), sum("cnt").as("mass"),
          md5(concat_ws("|", sort_array(collect_list(col("s")))))
            .as("grid_md5"))
        .select(col("source").as("part"), col("n_cells"), col("mass"),
          col("grid_md5"))
      srcRows
        .unionByName(digest("zz_merged", merged))
        .unionByName(digest("zz_global", global))
        .orderBy("part")
    },
    Some("""
      WITH toks AS MATERIALIZED (
        SELECT source, unnest(string_split(text, ' ')) AS item
        FROM documents),
      pc AS MATERIALIZED (
        SELECT source, item, COUNT(*) AS n FROM toks GROUP BY 1, 2),
      pb AS MATERIALIZED (
        SELECT source, r,
               CAST(concat('0x', substring(
                 md5(item || '|' || CAST(r AS VARCHAR)), 1, 15)) AS BIGINT)
                 % 64 AS bucket,
               n
        FROM pc CROSS JOIN range(0, 4) t(r)),
      ps AS MATERIALIZED (
        SELECT source, r, bucket, SUM(n) AS cnt
        FROM pb GROUP BY 1, 2, 3),
      mg AS MATERIALIZED (
        SELECT r, bucket, SUM(cnt) AS cnt FROM ps GROUP BY 1, 2),
      gc AS MATERIALIZED (
        SELECT item, COUNT(*) AS n FROM toks GROUP BY 1),
      gb AS MATERIALIZED (
        SELECT r,
               CAST(concat('0x', substring(
                 md5(item || '|' || CAST(r AS VARCHAR)), 1, 15)) AS BIGINT)
                 % 64 AS bucket,
               n
        FROM gc CROSS JOIN range(0, 4) t(r)),
      gl AS MATERIALIZED (
        SELECT r, bucket, SUM(n) AS cnt FROM gb GROUP BY 1, 2),
      srows AS (
        SELECT source AS part, COUNT(*) AS n_cells, CAST(SUM(cnt) AS BIGINT) AS mass,
               md5(string_agg(
                 CAST(r AS VARCHAR) || ',' || CAST(bucket AS VARCHAR)
                   || ',' || CAST(cnt AS VARCHAR), '|'
                 ORDER BY CAST(r AS VARCHAR) || ',' || CAST(bucket AS VARCHAR)
                   || ',' || CAST(cnt AS VARCHAR))) AS grid_md5
        FROM ps GROUP BY source),
      mrow AS (
        SELECT 'zz_merged' AS part, COUNT(*) AS n_cells, CAST(SUM(cnt) AS BIGINT) AS mass,
               md5(string_agg(
                 CAST(r AS VARCHAR) || ',' || CAST(bucket AS VARCHAR)
                   || ',' || CAST(cnt AS VARCHAR), '|'
                 ORDER BY CAST(r AS VARCHAR) || ',' || CAST(bucket AS VARCHAR)
                   || ',' || CAST(cnt AS VARCHAR))) AS grid_md5
        FROM mg),
      grow AS (
        SELECT 'zz_global' AS part, COUNT(*) AS n_cells, CAST(SUM(cnt) AS BIGINT) AS mass,
               md5(string_agg(
                 CAST(r AS VARCHAR) || ',' || CAST(bucket AS VARCHAR)
                   || ',' || CAST(cnt AS VARCHAR), '|'
                 ORDER BY CAST(r AS VARCHAR) || ',' || CAST(bucket AS VARCHAR)
                   || ',' || CAST(cnt AS VARCHAR))) AS grid_md5
        FROM gl)
      SELECT * FROM srows
      UNION ALL SELECT * FROM mrow
      UNION ALL SELECT * FROM grow
      ORDER BY part"""))

  /** Linear-counting per-lang vocabulary estimate next to the exact
    * count: the report a curation pipeline uses to size vocabularies
    * without paying exact count-distinct's per-value shuffle at scale.
    */
  private val lcM = 4096
  val distinctEstimate: GraftQuery = GraftQuery(
    "distinct_estimate_tokens",
    (s, dir) => {
      val toks = Tables(s, dir, "documents")
        .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      graft.sketch.LinearCount.estimateByGroup(toks, "lang", "tok", m = lcM)
        .join(toks.groupBy("lang")
          .agg(countDistinct("tok").as("exact_distinct")), Seq("lang"))
        .select(col("lang"), col("occupied"),
          Q.r6(col("est_distinct")).as("est_distinct"), col("exact_distinct"))
        .orderBy("lang")
    },
    Some(s"""
      WITH w AS MATERIALIZED (
        SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents),
      b AS MATERIALIZED (
        SELECT lang,
               CAST(concat('0x', substring(md5(tok || '|0'), 1, 15))
                    AS BIGINT) % $lcM AS bucket,
               tok
        FROM w)
      SELECT lang, COUNT(DISTINCT bucket) AS occupied,
             round(CASE WHEN COUNT(DISTINCT bucket) = $lcM THEN NULL
                        ELSE -$lcM.0 * ln(1 - COUNT(DISTINCT bucket) / $lcM.0)
                   END, 6) AS est_distinct,
             COUNT(DISTINCT tok) AS exact_distinct
      FROM b GROUP BY lang ORDER BY lang"""))

  /** HyperLogLog distinct 3-gram estimate per source plus the max-merged
    * global sketch — the mergeable scale path past `LinearCount`'s
    * bitmap: one row per (source, occupied register) shuffles, and the
    * `__all__` row is produced by merging the per-source registers with
    * a plain max, exactly how a 1000-shard pre-aggregation would. The
    * oracle replays the md5 register/rank split and the estimator
    * (incl. the small-range linear-counting branch) verbatim.
    */
  val hllDistinct: GraftQuery = GraftQuery(
    "hll_distinct_shingles",
    (s, dir) => hllShingleReport(Tables(s, dir, "documents")),
    Some(hllShingleSql("")))

  /** Truth-slice twin of `hll_distinct_shingles` for sf100 value-level
    * evidence: the full oracle disk-killed DuckDB at 457.6 s (r11 bound
    * — it re-hashes every shingle OCCURRENCE where Spark dedupes
    * first), so this runs the SAME operator over a deterministic
    * 2-of-20 source subset. Per-source registers depend only on that
    * source's rows, so slice parity is exact for the retained sources;
    * the `__all__` row becomes the merge over the two retained
    * register sets — the shard-merge path is still exercised, just
    * over a smaller shard set. Both engines compute over the identical
    * subset, so the check is value-level, not timing-only.
    */
  val hllDistinctSlice: GraftQuery = GraftQuery(
    "hll_shingles_slice",
    (s, dir) => hllShingleReport(Tables(s, dir, "documents")
      .filter(col("source").isin("src3", "src7"))),
    Some(hllShingleSql(" WHERE source IN ('src3', 'src7')")))

  private def hllShingleReport(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      // per-doc array_distinct before the explode: HLL registers and the
      // distinct counts are duplicate-insensitive, and this corpus
      // repeats shingles heavily within a doc, so it cuts the md5-hash
      // volume several-fold with bit-identical output (the oracle keeps
      // hashing duplicates and lands on the same registers)
      val sh = docs.select(
        col("source"),
        explode(graft.dedup.Dedup.shingleArray("text", 3)).as("sh"))
      // Per-distinct pre-aggregation BEFORE the md5/register hashing:
      // HLL registers and the exact counts depend only on the DISTINCT
      // (source, shingle) set, so dedupe first — map-side partial
      // aggregation collapses the exploded frame to the tiny shingle
      // domain per partition and the hash runs once per distinct pair,
      // not once per occurrence (the same duplicate-insensitivity
      // identity that took cms_heavy_hitters 211.7→1.7 s at sf100;
      // bit-identical output, the oracle keeps hashing duplicates and
      // lands on the same registers). The distinct frame is PERSISTED:
      // it is ~|sources|x|3-gram domain| rows (tiny) but its recompute
      // is the full 15B-row explode+dedup, and FOUR subtrees consume it
      // (registers, merged registers, per-source exact, __all__ exact)
      // — without the cache the dedup pass re-runs per subtree, which
      // measured WORSE than the pre-r11 two-pass form (323.8 vs
      // 281.9 s at sf100). This is the narrow persist()-wins case of
      // the round-10 cache study: many rereads of a small frame with
      // an expensive lineage (Bench/Verify clearCache releases it).
      val dsh = sh.distinct().persist()
      val regsSrc =
        graft.sketch.Hll.registers(dsh, col("sh"), Seq(col("source")))
      val regsAll = regsSrc.groupBy("reg").agg(max("rho").as("rho"))
        .select(lit("__all__").as("source"), col("reg"), col("rho"))
      val est = graft.sketch.Hll.estimate(
        regsSrc.unionByName(regsAll), Seq("source"))
      val exact = dsh.groupBy("source")
        .agg(count(lit(1)).as("exact_distinct"))
        .unionByName(dsh.agg(countDistinct("sh").as("exact_distinct"))
          .select(lit("__all__").as("source"), col("exact_distinct")))
      est.join(exact, Seq("source"))
        .select(col("source"), col("zero_registers"),
          Q.r6(col("est_hll")).as("est_hll"), col("exact_distinct"))
        .orderBy("source")
    }

  private def hllShingleSql(where: String): String = s"""
      WITH b AS MATERIALIZED (
        SELECT source,
               CAST(concat('0x', substring(md5(sh), 1, 15)) AS BIGINT) AS h,
               sh
        FROM (SELECT source, substr(text, CAST(i AS INTEGER), 3) AS sh
              FROM (SELECT source, text,
                           unnest(generate_series(1, length(text) - 2)) AS i
                    FROM documents$where))),
      r AS MATERIALIZED (
        SELECT source, h % 256 AS reg,
               MAX(CASE WHEN h // 256 = 0 THEN 53
                        ELSE 53 - length(bin(h // 256)) END) AS rho
        FROM b GROUP BY source, h % 256),
      ru AS (SELECT * FROM r
             UNION ALL
             SELECT '__all__' AS source, reg, MAX(rho) AS rho
             FROM r GROUP BY reg),
      agg AS (SELECT source,
                     SUM(CAST(1 AS DOUBLE) / (CAST(1 AS BIGINT) << rho))
                       AS s_occ,
                     COUNT(*) AS n_occ
              FROM ru GROUP BY source),
      ex AS (SELECT source, COUNT(DISTINCT sh) AS exact_distinct
             FROM b GROUP BY source
             UNION ALL
             SELECT '__all__', COUNT(DISTINCT sh) FROM b)
      SELECT a.source, CAST(256 - n_occ AS BIGINT) AS zero_registers,
             round(${graft.sketch.Hll.estimateSql("s_occ", "n_occ")}, 6)
               AS est_hll,
             ex.exact_distinct
      FROM agg a JOIN ex ON ex.source = a.source
      ORDER BY a.source"""

  /** Gopher-rule corpus gate: per-rule pass counts over the five
    * document-quality rules plus the all-rules conjunction — the report
    * a curation run reads before deciding thresholds. The per-doc flags
    * come from `TextOps.gopherRules`; the oracle recomputes every rule
    * from the same integer counts and double ratios.
    */
  val gopherRules: GraftQuery = GraftQuery(
    "gopher_quality_rules",
    (s, dir) => gopherReport(Tables(s, dir, "documents")),
    Some(gopherSql("")))

  /** Truth-slice twin of `gopher_quality_rules` for sf100 value-level
    * evidence: the full oracle disk-killed DuckDB at 323.5 s (r11 bound
    * — the per-token materializations Spark's single-pass aggregation
    * never builds), so this runs the SAME operator over the
    * deterministic `doc_id % 10 = 7` tenth of the corpus. Every rule is
    * per-doc, so slice parity is exact: the sliced report IS the full
    * report restricted to (and re-counted over) the sliced docs. Both
    * engines compute over the identical subset — a value-level check at
    * sf100 data characteristics, not timing-only.
    */
  val gopherRulesSlice: GraftQuery = GraftQuery(
    "gopher_rules_slice",
    (s, dir) => gopherReport(Tables(s, dir, "documents")
      .filter(col("doc_id") % 10 === 7)),
    Some(gopherSql(" WHERE doc_id % 10 = 7")))

  private def gopherReport(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      val flags = graft.text.TextOps.gopherRules(
        docs, "doc_id", "text", Seq("the", "a"))
      val rules = Seq("r_word_count", "r_mean_word_len", "r_symbol_ratio",
        "r_stopword", "r_repetition")
      val unpivoted = flags.select(
        col("doc_id"),
        expr(("stack(6, " +
          rules.map(r => s"'$r', $r").mkString(", ") +
          s", 'all_rules', ${rules.mkString(" AND ")})"))
          .as(Seq("rule", "pass")))
      unpivoted.groupBy("rule")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"))
        .withColumn("pass_rate",
          Q.r6(col("n_pass").cast("double") / col("n_docs")))
        .orderBy("rule")
    }

  private def gopherSql(where: String): String = s"""
      WITH b AS MATERIALIZED (
        SELECT doc_id,
               len(string_split(text, ' ')) AS nt,
               CAST(length(text) - (len(string_split(text, ' ')) - 1)
                    AS DOUBLE) / len(string_split(text, ' ')) AS awl,
               len(list_filter(string_split(text, ' '),
                   x -> x IN ('the', 'a'))) AS nstop,
               length(regexp_replace(text, '[a-zA-Z0-9 ]', '', 'g')) AS nsym,
               length(text) AS len
        FROM documents$where),
      tc AS (
        SELECT doc_id, MAX(c) AS maxc
        FROM (SELECT doc_id, tok, COUNT(*) AS c
              FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                    FROM documents$where)
              GROUP BY doc_id, tok)
        GROUP BY doc_id),
      f AS (
        SELECT b.doc_id,
               nt BETWEEN 5 AND 10000 AS r_word_count,
               awl BETWEEN 3.0 AND 10.0 AS r_mean_word_len,
               CAST(nsym AS DOUBLE) / len < 0.1 AS r_symbol_ratio,
               CAST(nstop AS DOUBLE) / nt > 0.01 AS r_stopword,
               CAST(maxc AS DOUBLE) / nt < 0.2 AS r_repetition
        FROM b JOIN tc ON tc.doc_id = b.doc_id),
      u AS (
        SELECT 'r_word_count' AS rule, r_word_count AS pass FROM f
        UNION ALL SELECT 'r_mean_word_len', r_mean_word_len FROM f
        UNION ALL SELECT 'r_symbol_ratio', r_symbol_ratio FROM f
        UNION ALL SELECT 'r_stopword', r_stopword FROM f
        UNION ALL SELECT 'r_repetition', r_repetition FROM f
        UNION ALL SELECT 'all_rules',
          r_word_count AND r_mean_word_len AND r_symbol_ratio
          AND r_stopword AND r_repetition FROM f)
      SELECT rule, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
             round(CAST(SUM(CASE WHEN pass THEN 1 ELSE 0 END) AS DOUBLE)
                   / COUNT(*), 6) AS pass_rate
      FROM u GROUP BY rule ORDER BY rule"""

  /** describe(include='all') for string columns: count, distinct, top
    * value, top frequency (pandas semantics; ties -> lexicographically
    * smallest top).
    */
  val describeStrings: GraftQuery = GraftQuery(
    "describe_strings_orders",
    (s, dir) => {
      val o = Tables(s, dir, "orders")
      Seq("o_orderstatus", "o_orderpriority").map { c =>
        val counts = o.groupBy(col(c).as("v")).agg(count(lit(1)).as("n"))
        // top value via orderBy+limit (TakeOrderedAndProject: per-partition
        // top-1 merged on the driver) — a global-window rank here would
        // single-task-sort the whole value vocabulary at high cardinality
        val top = counts.orderBy(desc("n"), col("v")).limit(1)
        o.agg(
          count(col(c)).as("n_rows"),
          countDistinct(col(c)).as("n_distinct"))
          .crossJoin(broadcast(
            top.select(col("v").as("top"), col("n").as("top_freq"))))
          .select(lit(c).as("column"), col("n_rows"), col("n_distinct"),
            col("top"), col("top_freq"))
      }.reduce(_.unionByName(_)).orderBy("column")
    },
    Some(Seq("o_orderstatus", "o_orderpriority").map { c =>
      s"""SELECT '$c' AS "column", COUNT($c) AS n_rows,
         COUNT(DISTINCT $c) AS n_distinct, t.top, t.top_freq
         FROM orders,
           (SELECT $c AS top, COUNT(*) AS top_freq FROM orders
            GROUP BY $c ORDER BY top_freq DESC, top LIMIT 1) t
         GROUP BY t.top, t.top_freq"""
    }.mkString("", " UNION ALL ", " ORDER BY \"column\"")))

  /** Calendar extraction + monthly order counts (date surface). */
  val monthly: GraftQuery = GraftQuery(
    "orders_monthly_counts",
    (s, dir) => Tables(s, dir, "orders")
      .groupBy(
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"))
      .agg(
        count(lit(1)).as("n"),
        sum(Q.cents("o_totalprice")).as("sum_cents"))
      .orderBy("y", "m"),
    Some("""
      SELECT CAST(date_part('year', o_orderdate) AS INTEGER) AS y,
             CAST(date_part('month', o_orderdate) AS INTEGER) AS m,
             COUNT(*) AS n,
             CAST(SUM(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
      FROM orders GROUP BY y, m ORDER BY y, m"""))

  /** Context-window chunking: 64-token chunks with 16-token overlap
    * (stride 48). Output carries each chunk's md5 so the oracle
    * hash-checks chunk CONTENT, not just counts. The oracle replays the
    * chunk grid with generate_series + list_slice.
    */
  val chunkDocs: GraftQuery = GraftQuery(
    "chunk_docs_64_16",
    (s, dir) => Tables(s, dir, "documents")
      .select(col("doc_id"),
        posexplode(graft.text.TextOps.chunkTokens(col("text"), 64, 16))
          .as(Seq("chunk_id", "chunk")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        size(col("chunk")).cast("long").as("n_tokens"),
        substring(md5(array_join(col("chunk"), " ").cast("binary")), 1, 16)
          .as("chunk_md5"))
      .orderBy("doc_id", "chunk_id"),
    Some("""
      WITH d AS (SELECT doc_id, string_split(text, ' ') AS toks,
                        len(string_split(text, ' ')) AS nt
                 FROM documents),
      c AS (SELECT doc_id, toks, nt,
                   unnest(generate_series(0,
                     CASE WHEN nt <= 64 THEN 0
                          ELSE (nt - 64 + 47) // 48 END)) AS chunk_id
            FROM d)
      SELECT doc_id, chunk_id,
             CAST(least(nt - chunk_id * 48, 64) AS BIGINT) AS n_tokens,
             substring(md5(array_to_string(
               list_slice(toks, CAST(chunk_id * 48 + 1 AS INTEGER),
                          CAST(least(chunk_id * 48 + 64, nt) AS INTEGER)),
               ' ')), 1, 16) AS chunk_md5
      FROM c ORDER BY doc_id, chunk_id"""))

  /** TF-IDF relevance: top-3 terms per document by tf * ln(N/df). The
    * corpus size joins in as a 1-row broadcast (no driver-side count);
    * ranking is on the r6-rounded score with term as tie-break so both
    * engines rank identically.
    */
  val tfidfTop: GraftQuery = GraftQuery(
    "tfidf_top_terms",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val tf = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val dfc = tf.groupBy("term").agg(count(lit(1)).as("df_docs"))
      val n = docs.agg(count(lit(1)).cast("double").as("n_docs"))
      val w = Window.partitionBy("doc_id").orderBy(desc("score"), col("term"))
      tf.join(dfc, "term").crossJoin(broadcast(n))
        .withColumn("score", Q.r6(col("tf") * log(col("n_docs") / col("df_docs"))))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 3)
        .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("score"))
        .orderBy("doc_id", "rk")
    },
    Some("""
      WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                    FROM documents),
      tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks
             GROUP BY doc_id, term),
      dfc AS (SELECT term, COUNT(*) AS df_docs FROM tf GROUP BY term),
      n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
      sc AS (SELECT tf.doc_id, tf.term, tf.tf,
                    round(tf.tf * ln(n.n_docs / dfc.df_docs), 6) AS score
             FROM tf JOIN dfc USING (term) CROSS JOIN n),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY doc_id ORDER BY score DESC, term) AS rk
            FROM sc)
      SELECT doc_id, rk, term, tf, score FROM r
      WHERE rk <= 3 ORDER BY doc_id, rk"""))

  /** Frequent-items surface: top-5 bigrams per language (zip_with over
    * offset slices — no self-join, no UDF).
    */
  val topBigrams: GraftQuery = GraftQuery(
    "top_bigrams_lang",
    (s, dir) => {
      val toks = split(col("text"), " ")
      val nt = size(toks)
      val w = Window.partitionBy("lang").orderBy(desc("n"), col("bigram"))
      Tables(s, dir, "documents")
        .select(col("lang"), explode(zip_with(
          slice(toks, lit(1), nt - 1), slice(toks, lit(2), nt - 1),
          (a, b) => concat(a, lit(" "), b))).as("bigram"))
        .groupBy("lang", "bigram").agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 5)
        .select(col("lang"), col("rk"), col("bigram"), col("n"))
        .orderBy("lang", "rk")
    },
    Some("""
      WITH t AS (SELECT lang, string_split(text, ' ') AS toks FROM documents),
      i AS (SELECT lang, toks,
                   unnest(generate_series(1, len(toks) - 1)) AS i
            FROM t),
      b AS (SELECT lang,
                   toks[CAST(i AS INTEGER)] || ' ' ||
                   toks[CAST(i AS INTEGER) + 1] AS bigram
            FROM i),
      c AS (SELECT lang, bigram, COUNT(*) AS n FROM b GROUP BY lang, bigram),
      r AS (SELECT *, row_number() OVER
              (PARTITION BY lang ORDER BY n DESC, bigram) AS rk
            FROM c)
      SELECT lang, rk, bigram, n FROM r WHERE rk <= 5 ORDER BY lang, rk"""))

  private val repetitionOracle = """
      WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                 FROM documents),
      u AS (SELECT doc_id, MAX(n) * 1.0 / SUM(n) AS topw,
                   CAST(SUM(n) AS BIGINT) AS nw
            FROM (SELECT doc_id, term, COUNT(*) AS n FROM w GROUP BY 1, 2)
            GROUP BY 1),
      ml AS (SELECT doc_id, AVG(length(term)) AS mwl FROM w GROUP BY 1),
      b0 AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      b1 AS (SELECT doc_id,
                    ws[CAST(g AS INTEGER)] || ' ' ||
                    ws[CAST(g AS INTEGER) + 1] AS term
             FROM b0, LATERAL unnest(generate_series(1, len(ws) - 1)) AS t(g)),
      bv AS (SELECT doc_id, MAX(n) * 1.0 / SUM(n) AS topb
             FROM (SELECT doc_id, term, COUNT(*) AS n FROM b1 GROUP BY 1, 2)
             GROUP BY 1),
      rep AS (SELECT u.doc_id, u.nw AS n_words,
                     round(ml.mwl, 6) AS mean_word_len,
                     round(u.topw, 6) AS top_word_ratio,
                     round(COALESCE(bv.topb, 0.0), 6) AS top_bigram_ratio
              FROM u JOIN ml USING (doc_id) LEFT JOIN bv USING (doc_id))"""

  /** Gopher-repetition scores per document (Rae et al. 2021 §A1.1):
    * top-unigram / top-bigram coverage + C4-ish word-shape stats — the
    * pre-training corpus repetition filter signals.
    */
  val repetitionScores: GraftQuery = GraftQuery(
    "repetition_scores_docs",
    (s, dir) => graft.text.Repetition
      .scores(Tables(s, dir, "documents"), "doc_id", "text")
      .select(col("doc_id"), col("n_words"),
        Q.r6(col("mean_word_len")).as("mean_word_len"),
        Q.r6(col("top_word_ratio")).as("top_word_ratio"),
        Q.r6(col("top_bigram_ratio")).as("top_bigram_ratio"))
      .orderBy("doc_id"),
    Some(s"""$repetitionOracle
      SELECT doc_id, n_words, mean_word_len, top_word_ratio,
             top_bigram_ratio
      FROM rep ORDER BY doc_id"""))

  /** The repetition signals folded into a per-source quality gate
    * (Gopher-style keep/drop thresholds), reported as keep rates — the
    * shape a corpus-curation job ships to its dashboard.
    */
  val qualityGate: GraftQuery = GraftQuery(
    "quality_gate_sources",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val keep = (col("n_words") >= 30 &&
        col("top_word_ratio") <= 0.15 &&
        col("top_bigram_ratio") <= 0.08).cast("long")
      graft.text.Repetition.scores(d, "doc_id", "text")
        .join(d.select("doc_id", "source"), Seq("doc_id"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(keep).as("n_keep"),
          Q.r6(sum(keep) / count(lit(1))).as("keep_rate"))
        .orderBy("source")
    },
    Some(s"""$repetitionOracle
      SELECT d.source AS source, COUNT(*) AS n_docs,
             CAST(SUM(CASE WHEN rep.n_words >= 30
                            AND rep.top_word_ratio <= 0.15
                            AND rep.top_bigram_ratio <= 0.08
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
             round(SUM(CASE WHEN rep.n_words >= 30
                             AND rep.top_word_ratio <= 0.15
                             AND rep.top_bigram_ratio <= 0.08
                            THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
               AS keep_rate
      FROM rep JOIN documents d USING (doc_id)
      GROUP BY d.source ORDER BY source"""))

  /** The streaming twin of `repetition_scores_docs`: the pure-projection
    * score form (sort + fold, no explode/shuffle/state) applied in
    * append mode over a streaming read — gate-checked against the SAME
    * DuckDB oracle as the batch query.
    */
  val repetitionStream: GraftQuery = GraftQuery(
    "repetition_scores_stream",
    (s, dir) => graft.text.Repetition.streamingScores(s, dir)
      .select(col("doc_id"), col("n_words"),
        Q.r6(col("mean_word_len")).as("mean_word_len"),
        Q.r6(col("top_word_ratio")).as("top_word_ratio"),
        Q.r6(col("top_bigram_ratio")).as("top_bigram_ratio"))
      .orderBy("doc_id"),
    Some(s"""$repetitionOracle
      SELECT doc_id, n_words, mean_word_len, top_word_ratio,
             top_bigram_ratio
      FROM rep ORDER BY doc_id"""))

  /** Unigram-LM quality scores (CCNet/KenLM filter shape): corpus-fit
    * unigram frequencies, per-doc average NLL + perplexity.
    */
  val lmScore: GraftQuery = GraftQuery(
    "lm_score_docs",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      graft.text.LmScore
        .score(d, "doc_id", "text", graft.text.LmScore.unigramModel(d, "text"))
        .select(col("doc_id"), col("n_words"),
          Q.r6(col("avg_nll")).as("avg_nll"), Q.r6(col("ppl")).as("ppl"))
        .orderBy("doc_id")
    },
    Some("""
      WITH w AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
                 FROM documents),
      v AS (SELECT word, COUNT(*) AS n FROM w GROUP BY 1),
      tot AS (SELECT COUNT(*) AS t FROM w)
      SELECT doc_id, COUNT(*) AS n_words,
             round(SUM(-ln(n * 1.0 / t)) / COUNT(*), 6) AS avg_nll,
             round(exp(SUM(-ln(n * 1.0 / t)) / COUNT(*)), 6) AS ppl
      FROM w JOIN v USING (word) CROSS JOIN tot
      GROUP BY doc_id ORDER BY doc_id"""))

  /** Held-out perplexity filter ([[graft.text.LmScore.holdoutScore]]):
    * add-one-smoothed unigram model fitted on the md5-even half of the
    * corpus, scoring the odd half incl. OOV smoothing mass — the
    * CCNet-style quality gate where the reference corpus and the scored
    * shard are DIFFERENT data.
    */
  val lmPplHoldout: GraftQuery = GraftQuery(
    "lm_ppl_holdout",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val h = graft.dedup.Dedup
        .md5Hash60(col("doc_id").cast("string"), 7) % 2
      graft.text.LmScore
        .holdoutScore(d.filter(h === 0), d.filter(h === 1), "doc_id", "text")
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          Q.r6(col("avg_nll")).as("avg_nll"), Q.r6(col("ppl")).as("ppl"))
        .orderBy("doc_id")
    },
    Some("""
      WITH d AS (
        SELECT doc_id, text,
               CAST(concat('0x', substring(
                 md5(CAST(doc_id AS VARCHAR) || '|7'), 1, 15))
               AS BIGINT) % 2 AS h
        FROM documents),
      tw AS (SELECT unnest(string_split(text, ' ')) AS word
             FROM d WHERE h = 0),
      v AS (SELECT word, COUNT(*) AS cnt FROM tw GROUP BY 1),
      den AS (SELECT CAST(SUM(cnt) AS BIGINT) AS nn, COUNT(*) AS vv FROM v),
      sw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
             FROM d WHERE h = 1),
      j AS (SELECT s.doc_id, v.cnt FROM sw s LEFT JOIN v USING (word))
      SELECT doc_id, COUNT(*) AS n_tokens,
             CAST(SUM(CASE WHEN cnt IS NULL THEN 1 ELSE 0 END) AS BIGINT)
               AS n_oov,
             round(SUM(-ln((COALESCE(cnt, 0) + 1) * 1.0 / (nn + vv)))
               / COUNT(*), 6) AS avg_nll,
             round(exp(SUM(-ln((COALESCE(cnt, 0) + 1) * 1.0 / (nn + vv)))
               / COUNT(*)), 6) AS ppl
      FROM j CROSS JOIN den GROUP BY doc_id ORDER BY doc_id"""))

  /** Vocabulary coverage / OOV rate: fit a top-200 corpus vocabulary
    * (count-desc, token tiebreak — deterministic) and score every
    * document's out-of-vocabulary token share — the coverage check run
    * before committing a tokenizer vocab. The vocab side is 200 rows —
    * broadcast; the corpus sees one token-count shuffle + one per-doc
    * aggregation.
    */
  private val vocabK = 200
  val vocabOov: GraftQuery = GraftQuery(
    "vocab_oov_docs",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val toks = docs.select(col("doc_id"),
        explode(split(col("text"), " ")).as("word"))
      val vocab = toks.groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("word")).limit(vocabK)
        .select(col("word"), lit(1).as("__in"))
      toks.join(broadcast(vocab), Seq("word"), "left")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          sum(when(col("__in").isNull, 1L).otherwise(0L)).as("n_oov"))
        .select(col("doc_id"), col("n_tokens"), col("n_oov"),
          Q.r6(col("n_oov") / col("n_tokens")).as("oov_rate"))
        .orderBy("doc_id")
    },
    Some(s"""
      WITH toks AS MATERIALIZED (
        SELECT doc_id, unnest(string_split(text, ' ')) AS word
        FROM documents),
      vocab AS (
        SELECT word FROM (
          SELECT word, COUNT(*) AS n FROM toks GROUP BY word
          ORDER BY n DESC, word LIMIT $vocabK)),
      j AS (
        SELECT t.doc_id,
               CASE WHEN v.word IS NULL THEN 1 ELSE 0 END AS oov
        FROM toks t LEFT JOIN vocab v ON v.word = t.word)
      SELECT doc_id, COUNT(*) AS n_tokens,
             CAST(SUM(oov) AS BIGINT) AS n_oov,
             round(SUM(oov) * 1.0 / COUNT(*), 6) AS oov_rate
      FROM j GROUP BY doc_id ORDER BY doc_id"""))

  /** Top bigram collocations by pointwise mutual information —
    * PMI(a,b) = ln(p(ab) / (p(a)p(b))) over corpus unigram/bigram
    * frequencies, the classic collocation-mining statistic (beats raw
    * counts, which just surface stopword pairs). Plan: one unigram agg,
    * one bigram agg (min-count pruned BEFORE the joins), two keyed joins
    * on the token, a 1-row totals broadcast, TakeOrdered top-20 — no
    * window over a single partition anywhere, so the ranking scales with
    * vocabulary. Totals come from doc token counts (bigrams per doc =
    * tokens - 1), not a second pass over the exploded frames.
    */
  val pmiCollocations: GraftQuery = GraftQuery(
    "pmi_collocations",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val toks = split(col("text"), " ")
      val nt = size(toks)
      val uni = docs.select(explode(toks).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("nu"))
      val bi = docs.select(explode(zip_with(
          slice(toks, lit(1), nt - 1), slice(toks, lit(2), nt - 1),
          (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
        .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
        .groupBy("w1", "w2").agg(count(lit(1)).as("nb"))
        .filter(col("nb") >= 10)
      val totals = docs.agg(
        sum(nt.cast("long")).as("n_tok"), count(lit(1)).as("n_doc"))
      val pmi = log((col("nb") * 1.0 / (col("n_tok") - col("n_doc"))) /
        (col("nu1") * 1.0 / col("n_tok")) / (col("nu2") * 1.0 / col("n_tok")))
      bi.join(uni.toDF("w1", "nu1"), Seq("w1"))
        .join(uni.toDF("w2", "nu2"), Seq("w2"))
        .crossJoin(broadcast(totals))
        .select(col("w1"), col("w2"), col("nb"), Q.r6(pmi).as("pmi"))
        .orderBy(desc("pmi"), col("w1"), col("w2"))
        .limit(20)
    },
    Some("""
      WITH t AS (SELECT string_split(text, ' ') AS toks FROM documents),
      tot AS (SELECT CAST(SUM(len(toks)) AS BIGINT) AS n_tok,
                     COUNT(*) AS n_doc FROM t),
      u AS (SELECT unnest(toks) AS tok FROM t),
      uni AS (SELECT tok, COUNT(*) AS nu FROM u GROUP BY tok),
      i AS (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i
            FROM t),
      b AS (SELECT toks[CAST(i AS INTEGER)] AS w1,
                   toks[CAST(i AS INTEGER) + 1] AS w2 FROM i),
      bi AS (SELECT w1, w2, COUNT(*) AS nb FROM b GROUP BY w1, w2
             HAVING COUNT(*) >= 10),
      j AS (SELECT w1, w2, nb,
                   round(ln((nb * 1.0 / (n_tok - n_doc)) /
                     (u1.nu * 1.0 / n_tok) / (u2.nu * 1.0 / n_tok)), 6)
                     AS pmi
            FROM bi JOIN uni u1 ON u1.tok = w1
                    JOIN uni u2 ON u2.tok = w2
                    CROSS JOIN tot)
      SELECT w1, w2, nb, pmi FROM j
      ORDER BY pmi DESC, w1, w2 LIMIT 20"""))

  /** Boilerplate detection: the most frequent SIX-word n-grams with
    * their document frequency — long repeated word sequences are the
    * signature of templated/boilerplate web text (headers, footers,
    * cookie banners), which short-bigram counts can't separate from
    * natural collocations. Same explode-aggregate shape as the bigram
    * query, no self-joins; doc frequency comes from a per-(doc, gram)
    * dedup inside the same pass.
    */
  val boilerplate: GraftQuery = GraftQuery(
    "boilerplate_ngrams",
    (s, dir) => {
      // compiled byte-span windows (r16) — empty for docs under 6
      // tokens, replacing the size filter + interpreted array_join
      Tables(s, dir, "documents")
        .select(col("doc_id"),
          explode(graft.expressions.TextHashKernels
            .spanGrams(col("text"), 6)).as("gram"))
        .groupBy("gram")
        .agg(count(lit(1)).as("n"),
          countDistinct("doc_id").as("n_docs"))
        .filter(col("n") >= 2)
        .orderBy(desc("n"), col("gram"))
        .limit(10)
    },
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks
                 FROM documents WHERE len(string_split(text, ' ')) >= 6),
      i AS (SELECT doc_id, toks,
                   unnest(generate_series(1, len(toks) - 5)) AS i
            FROM t),
      g AS (SELECT doc_id,
                   array_to_string(toks[CAST(i AS INTEGER):CAST(i AS INTEGER) + 5],
                                   ' ') AS gram
            FROM i)
      SELECT gram, COUNT(*) AS n, COUNT(DISTINCT doc_id) AS n_docs
      FROM g GROUP BY gram HAVING COUNT(*) >= 2
      ORDER BY n DESC, gram LIMIT 10"""))

  /** Jensen–Shannon divergence between two sources' unigram
    * distributions — the symmetric, bounded ([0,1] in bits) companion to
    * the PSI/KS drift screens, the standard "did this shard drift from
    * the corpus" check over token space. One explode + hash aggregation
    * collapses both corpora to the shared-vocabulary count frame; each
    * token's contribution is a double over exact integer counts
    * (identical in both engines — log2 spelled ln/ln(2) so neither
    * engine's log2 intrinsic enters), micro-rounded and integer-summed,
    * so the total is accumulation-order independent. Output: the top-15
    * diverging tokens with the full-vocabulary total attached.
    *
    * The vocab count frame is checkpointed once (the corpus explode is
    * the only expensive job) and the two corpus totals + the JSD total
    * attach as broadcast 1-row aggregates — at 100 TB the unigram vocab
    * is ~1e8 rows, so a `Window.partitionBy()` total here would funnel
    * the whole vocabulary through one task; the broadcast-attach shape
    * keeps every stage hash-partitioned (same pattern as
    * `Stats.valueCounts`).
    */
  val jsdUnigrams: GraftQuery = GraftQuery(
    "jsd_source_unigrams",
    (s, dir) => {
      val g = Tables(s, dir, "documents")
        .filter(col("source").isin("src0", "src1"))
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok")
        .agg(
          sum(when(col("source") === "src0", 1L).otherwise(0L)).as("ca"),
          sum(when(col("source") === "src1", 1L).otherwise(0L)).as("cb"))
        .localCheckpoint()
      val totals = g.agg(sum("ca").as("na"), sum("cb").as("nb"))
      val p = col("ca") * 1.0 / col("na")
      val q = col("cb") * 1.0 / col("nb")
      val ln2 = log(lit(2.0))
      def half(x: org.apache.spark.sql.Column) =
        when(x > 0, x * (log(x * 2.0 / (p + q)) / ln2) / 2.0).otherwise(0.0)
      // Each term p·log2(2p/(p+q))/2 + q·log2(2q/(p+q))/2 is non-negative
      // by the log-sum inequality; abs() only guards FP noise near p==q
      // (|contrib| < 1e-16 rounds to 0 micro either way).
      val contrib = half(p) + half(q)
      val c = g.crossJoin(broadcast(totals))
        .select(col("tok"), col("ca"), col("cb"),
          floor(abs(contrib) * 1e6 + 0.5).cast("long").as("contrib_micro"))
      c.crossJoin(broadcast(c.agg(sum("contrib_micro").as("jsd_micro"))))
        .orderBy(desc("contrib_micro"), col("tok"))
        .limit(15)
    },
    Some("""
      WITH toks AS (
        SELECT source, unnest(string_split(text, ' ')) AS tok
        FROM documents WHERE source IN ('src0', 'src1')),
      g AS (
        SELECT tok,
               CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT) AS ca,
               CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT) AS cb
        FROM toks GROUP BY tok),
      t AS (
        SELECT tok, ca, cb,
               SUM(ca) OVER () AS na, SUM(cb) OVER () AS nb
        FROM g),
      c AS (
        SELECT tok, ca, cb,
               (CASE WHEN ca * 1.0 / na > 0
                     THEN (ca * 1.0 / na) * (ln((ca * 1.0 / na) * 2.0
                       / (ca * 1.0 / na + cb * 1.0 / nb)) / ln(2)) / 2.0
                     ELSE 0.0 END
                + CASE WHEN cb * 1.0 / nb > 0
                       THEN (cb * 1.0 / nb) * (ln((cb * 1.0 / nb) * 2.0
                         / (ca * 1.0 / na + cb * 1.0 / nb)) / ln(2)) / 2.0
                       ELSE 0.0 END) AS contrib
        FROM t),
      m AS (
        SELECT tok, ca, cb,
               CAST(floor(abs(contrib) * 1e6 + 0.5) AS BIGINT) AS contrib_micro
        FROM c)
      SELECT tok, ca, cb, contrib_micro,
             CAST(SUM(contrib_micro) OVER () AS BIGINT) AS jsd_micro
      FROM m ORDER BY contrib_micro DESC, tok LIMIT 15"""))

  /** Distributed BPE merge training (8 greedy rounds over the weighted
    * word-frequency table — see [[graft.text.Bpe]] for the 100-TB design:
    * one corpus-scale word count, then every round runs on the
    * Heaps-law-bounded vocab frame). The output is the trained merge
    * table itself, so the gate pins pair counting, the lexicographic
    * tie-broken argmax, AND the leftmost-first greedy application
    * (sentinel-space `replace`) across all 8 rounds — a wrong merge in
    * round k derails every later round's counts. Oracle: fixed-depth
    * unrolled CTE blocks ([[graft.text.Bpe.trainSql]]), the `ccRoundSql`
    * pattern.
    */
  val bpeMergeTrain: GraftQuery = GraftQuery(
    "bpe_merge_train",
    (s, dir) => graft.text.Bpe.train(
      s, Tables(s, dir, "documents"), col("text"), rounds = 8),
    Some(graft.text.Bpe.trainSql(8)))

  /** Fit-then-transform for the trained tokenizer: apply the 8 trained
    * BPE merges and report the per-language whitespace-vs-BPE token
    * inventory (the "how many tokens is my corpus" planning number).
    * The encode itself never touches documents: token counts live on
    * the Heaps-bounded vocab frame and join back onto the exploded
    * corpus by word — at 100 TB that join shuffles on the word key
    * (or broadcasts, when AQE sees a small trained vocab), which is
    * the only corpus-scale motion in the pass.
    */
  val bpeEncode: GraftQuery = GraftQuery(
    "bpe_encode_ratio",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val (_, v) = graft.text.Bpe.trainWithVocab(s, docs, col("text"), 8)
      val enc = v.select(col("word"),
        size(split(trim(col("toks")), " ")).cast("long").as("n_toks"))
      val x = docs
        .select(col("lang"), explode(split(col("text"), " ")).as("word"))
      val j = x.join(enc, "word")
        .groupBy("lang")
        .agg(count(lit(1)).as("ws_tokens"), sum("n_toks").as("bpe_tokens"))
      val dd = docs.groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text"))).as("n_chars"))
      dd.join(j, "lang")
        .select(col("lang"), col("n_docs"), col("n_chars"),
          col("ws_tokens"), col("bpe_tokens"),
          Q.r6(col("bpe_tokens") * 1.0 / col("ws_tokens"))
            .as("toks_per_word"))
        .orderBy("lang")
    },
    Some(graft.text.Bpe.encodeSql(8)))

  /** DEEP BPE run (VERDICT r14 task 4): 64 merge rounds — the regime
    * where real tokenizer training lives (the 8-round gate above is the
    * oracle-economy variant; DuckDB replays all 64 unrolled blocks in
    * ~2 s at sf0.01 because every round runs on the Heaps-bounded vocab,
    * never the corpus). EVERY round is hash-checked, not just a prefix:
    * a wrong merge in round k derails rounds k+1..64's counts. Training
    * is shared with the curve gate through the session's registry
    * (graft.ChainGuard) so the 64 argmax collects are paid once. Lineage
    * is localCheckpoint-truncated every 16 merges — the deep-loop scaling
    * fix.
    */
  private val DeepRounds = 64
  private val DeepCheckpoints = Seq(0, 8, 16, 32, 64)
  private def deepBpe(s: org.apache.spark.sql.SparkSession, dir: String) =
    graft.ChainGuard.memo(s, s"bpe_deep $dir") {
      val (m, _, c) = graft.text.Bpe.trainFull(
        s, Tables(s, dir, "documents"), col("text"),
        DeepRounds, DeepCheckpoints)
      (m, c)
    }

  val bpeDeep: GraftQuery = GraftQuery(
    "bpe_merge_train_deep",
    (s, dir) => deepBpe(s, dir)._1.orderBy("round"),
    Some(graft.text.Bpe.trainSql(DeepRounds)))

  /** Compression curve of the deep run: whitespace-vs-BPE token totals
    * at merge checkpoints 0/8/16/32/64 (round 0 = character baseline) —
    * the tokens-per-word planning curve a tokenizer-budget decision
    * reads. Each checkpoint is one vocab-frame aggregate; the oracle
    * reads the same totals off its materialized vocab$k CTEs.
    */
  val bpeCurve: GraftQuery = GraftQuery(
    "bpe_tokens_curve",
    (s, dir) => deepBpe(s, dir)._2
      .select(col("round"), col("bpe_tokens"), col("ws_tokens"),
        Q.r6(col("bpe_tokens") * 1.0 / col("ws_tokens")).as("toks_per_word"))
      .orderBy("round"),
    Some(graft.text.Bpe.curveSql(DeepRounds, DeepCheckpoints)))

  /** Corpus novelty profile: per (lang, source), the share of distinct
    * word-trigrams whose FIRST corpus occurrence (min doc_id) is in that
    * document — the standard freshness diagnostic for incremental dumps
    * (a re-crawled source scores near 0, novel text near 1). Linear
    * shape, same class as the shingle family: one distinct
    * (doc_id, gram) explode, a map-side-combinable min(doc_id) per gram,
    * and a join back on the gram key it is already partitioned by; the
    * output is the bounded (lang, source) grid. Ratio-of-sums over exact
    * Longs, one final rounded division.
    */
  private def noveltyReport(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    graft.text.TextOps
      .gramNovelty(docs, "doc_id", "text", Seq("lang", "source"))
      .groupBy("lang", "source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("total").as("total_grams"),
        sum("novel").as("novel_grams"),
        Q.r6(sum("novel") * 1.0 / sum("total")).as("novelty_ratio"))
      .orderBy("lang", "source")

  private def noveltySql(where: String): String = s"""
      WITH g AS MATERIALIZED (
        SELECT DISTINCT doc_id, lang, source,
               arr[i] || ' ' || arr[i + 1] || ' ' || arr[i + 2] AS gram
        FROM (SELECT doc_id, lang, source, arr,
                     unnest(range(1, len(arr) - 1)) AS i
              FROM (SELECT doc_id, lang, source,
                           string_split(text, ' ') AS arr
                    FROM documents$where)
              WHERE len(arr) >= 3)),
      first AS MATERIALIZED (
        SELECT gram, MIN(doc_id) AS first_doc FROM g GROUP BY gram),
      perdoc AS MATERIALIZED (
        SELECT g.doc_id, g.lang, g.source,
               CAST(COUNT(*) AS BIGINT) AS total,
               CAST(SUM(CASE WHEN f.first_doc = g.doc_id
                             THEN 1 ELSE 0 END) AS BIGINT) AS novel
        FROM g JOIN first f USING (gram)
        GROUP BY g.doc_id, g.lang, g.source)
      SELECT lang, source,
             CAST(COUNT(*) AS BIGINT) AS n_docs,
             CAST(SUM(total) AS BIGINT) AS total_grams,
             CAST(SUM(novel) AS BIGINT) AS novel_grams,
             round(SUM(novel) * 1.0 / SUM(total), 6) AS novelty_ratio
      FROM perdoc GROUP BY lang, source ORDER BY lang, source"""

  val gramNovelty: GraftQuery = GraftQuery(
    "gram_novelty_sources",
    (s, dir) => noveltyReport(Tables(s, dir, "documents")),
    Some(noveltySql("")))

  /** 10% truth slice of the novelty profile (`doc_id % 10 = 7`) — the
    * sf100 value gate if the full DuckDB replay (a ~1B-row gram frame)
    * measures out as a bound. INDUCED-SUBCORPUS semantics, like the CC
    * slices: "first occurrence" means first within the sliced corpus on
    * BOTH engines (a gram whose true first appearance is in an unsliced
    * doc counts as novel for the earliest SLICED doc carrying it), so
    * the gate pins the operator motion — explode, min-agg, join-back —
    * at sf100 data characteristics, not the full-corpus ratios.
    */
  val gramNoveltySlice: GraftQuery = GraftQuery(
    "gram_novelty_slice",
    (s, dir) => noveltyReport(
      Tables(s, dir, "documents").filter(col("doc_id") % 10 === 7)),
    Some(noveltySql(" WHERE doc_id % 10 = 7")))

  override def queries: Seq[GraftQuery] =
    Seq(wordCount, cmsHeavyHitters, cmsStream, cmsMerge, distinctEstimate,
      hllDistinct, hllDistinctSlice,
      gopherRules, gopherRulesSlice,
      describeStrings, monthly, chunkDocs, tfidfTop, topBigrams,
      repetitionScores, qualityGate, repetitionStream, lmScore,
      lmPplHoldout, vocabOov, pmiCollocations, boilerplate, jsdUnigrams,
      bpeMergeTrain, bpeEncode, bpeDeep, bpeCurve,
      gramNovelty, gramNoveltySlice)
}
