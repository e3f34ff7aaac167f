package graft.queries

import graft.{GraftQuery, Q, QueryPack, Tables}
import graft.dedup.Dedup
import graft.text.TextOps
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis + deduplication queries over the `documents` table.
  * Token math is oracle-expressible via list functions; MinHash/SimHash
  * use the md5-based cross-engine hash, so the full pipelines are
  * DuckDB-hash-checked through the replay fragments in [[Dedup]].
  */
object DocQueries extends QueryPack {

  private val stop = Seq("the", "a")

  val textStats: GraftQuery = GraftQuery(
    "text_stats_docs",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val t = col("text")
      d.select(
        col("doc_id"),
        TextOps.tokenCount(t).as("n_tokens"),
        Q.r6(TextOps.avgTokenLen(t)).as("avg_token_len"),
        Q.r6(TextOps.stopwordRatio(t, stop)).as("stop_ratio"),
        Q.r6(TextOps.qualityScore(t, stop)).as("quality"))
        .orderBy("doc_id")
    },
    Some("""
      WITH b AS (
        SELECT doc_id, text,
               len(string_split(text, ' ')) AS nt,
               len(list_filter(string_split(text, ' '),
                   x -> x IN ('the', 'a'))) AS nstop
        FROM documents)
      SELECT doc_id,
             nt AS n_tokens,
             round((length(text) - (nt - 1)) * 1.0 / nt, 6) AS avg_token_len,
             round(nstop * 1.0 / nt, 6) AS stop_ratio,
             round(0.4 * least(length(text) / 500.0, 1.0)
                 + 0.3 * (1.0 - nstop * 1.0 / nt)
                 + 0.3 * least(((length(text) - (nt - 1)) * 1.0 / nt) / 8.0, 1.0), 6) AS quality
      FROM b ORDER BY doc_id"""))

  /** BPE-ish pretoken counts vs whitespace tokens — the LLM token-cost
    * proxy; regex evaluated identically by Spark (Java regex) and DuckDB
    * (RE2) because the alternatives are disjoint classes.
    */
  val bpeStats: GraftQuery = GraftQuery(
    "bpe_token_stats",
    (s, dir) => Tables(s, dir, "documents")
      .select(
        col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_ws"),
        TextOps.bpeTokenCount(col("text")).as("n_bpe"),
        Q.r6(TextOps.bpeTokenCount(col("text")) * 1.0
          / TextOps.tokenCount(col("text"))).as("bpe_per_ws"))
      .orderBy("doc_id"),
    Some(s"""
      WITH t AS (
        SELECT doc_id,
               len(string_split(text, ' ')) AS n_ws,
               len(regexp_extract_all(text,
                   ' ?[a-z]+| ?[A-Z][a-z]*| ?[0-9]+| ?[^A-Za-z0-9 ]+')) AS n_bpe
        FROM documents)
      SELECT doc_id, n_ws, n_bpe,
             round(n_bpe * 1.0 / n_ws, 6) AS bpe_per_ws
      FROM t ORDER BY doc_id"""))

  val langId: GraftQuery = GraftQuery(
    "lang_id_confusion",
    (s, dir) => Tables(s, dir, "documents")
      .select(col("lang"), TextOps.langId(col("text")).as("lang_pred"))
      .groupBy("lang", "lang_pred").agg(count(lit(1)).as("n"))
      .orderBy("lang", "lang_pred"),
    Some("""
      WITH sc AS (
        SELECT lang,
               len(list_filter(string_split(text, ' '), x -> x IN ('hash', 'merge'))) AS s_de,
               len(list_filter(string_split(text, ' '), x -> x IN ('the', 'a'))) AS s_en,
               len(list_filter(string_split(text, ' '), x -> x IN ('data', 'sort'))) AS s_es,
               len(list_filter(string_split(text, ' '), x -> x IN ('query', 'window'))) AS s_fr,
               len(list_filter(string_split(text, ' '), x -> x IN ('spark', 'stream'))) AS s_zh
        FROM documents),
      p AS (
        SELECT lang,
               CASE WHEN s_de >= s_en AND s_de >= s_es AND s_de >= s_fr AND s_de >= s_zh THEN 'de'
                    WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_zh THEN 'en'
                    WHEN s_es >= s_fr AND s_es >= s_zh THEN 'es'
                    WHEN s_fr >= s_zh THEN 'fr'
                    ELSE 'zh' END AS lang_pred
        FROM sc)
      SELECT lang, lang_pred, COUNT(*) AS n
      FROM p GROUP BY lang, lang_pred ORDER BY lang, lang_pred"""))

  val fingerprint: GraftQuery = GraftQuery(
    "fingerprint_docs",
    (s, dir) => Tables(s, dir, "documents")
      .select(col("doc_id"), TextOps.fingerprintMd5(col("text")).as("fp"))
      .orderBy("doc_id"),
    Some("""
      SELECT doc_id, substr(md5(text), 1, 16) AS fp
      FROM documents ORDER BY doc_id"""))

  /** Exact dedup on a 20-char prefix key (the synthetic corpus has real
    * collisions there).
    */
  val exactDedup: GraftQuery = GraftQuery(
    "exact_dedup_prefix",
    (s, dir) => Dedup.exactDupGroups(
        Tables(s, dir, "documents"), "doc_id", substring(col("text"), 1, 20))
      .orderBy("key"),
    Some("""
      SELECT substr(text, 1, 20) AS key, COUNT(*) AS n,
             MIN(doc_id) AS keep_id
      FROM documents GROUP BY key HAVING COUNT(*) > 1 ORDER BY key"""))

  /** Distinct k=3 shingle ARRAY of a text column by name — the same
    * expression [[Dedup.shingleSet]] explodes, kept as an array so
    * adjacent-pair Jaccard can intersect per row instead of joining
    * exploded frames.
    */
  private def shingleArr3(textCol: String) = Dedup.shingleArray(textCol, 3)

  /** Exact 3-gram Jaccard for the ADJACENT pairs (id, id+1) without
    * exploding: one self-join of the doc table on the shifted id, then a
    * per-row `array_intersect` of the two distinct shingle arrays.
    * |array_intersect(Sa, Sb)| equals the exploded path's distinct
    * shingle-match count and size(Sa)/size(Sb) its per-doc counts, and
    * pairs with an empty intersection are dropped either way (the old
    * inner joins vs the `inter > 0` filter), so the r6'd jaccard rows
    * are identical. Plan (see plans/r16): 4 Generate + 3 aggregate
    * Exchanges + a full-shingle-frame BroadcastExchange collapse to two
    * scans + one equi-join — guide §2.4 (remove shuffles outright) and
    * §2.3 (the shuffle that remains carries text once, never the ~2000x
    * heavier exploded shingle rows).
    */
  private def adjacentJaccard3(
      docs: org.apache.spark.sql.DataFrame,
      pairPred: org.apache.spark.sql.Column) = {
    // Shingle arrays are built in the SCAN-SIDE projections, not after
    // the join: the `inter > 0` filter gets pushed into the join
    // CONDITION (it references both sides), and with post-join arrays
    // that condition re-derived the full shingle computation per pair on
    // top of the output projection's copy (measured: the dominant cost
    // of the first r16 rewrite). Prebuilt arrays make the pushed
    // condition touch attributes only.
    val a = docs.filter(pairPred)
      .select(col("doc_id").as("id_a"), shingleArr3("text").as("__sa"))
    val b = docs.select(
      (col("doc_id") - 1).as("id_a"), shingleArr3("text").as("__sb"))
    // `inter` is wrapped in an optimizer barrier (Opaque reports
    // nondeterministic, values unchanged): without it the `inter > 0`
    // filter is pushed into the join CONDITION, and the full
    // array_intersect then evaluates TWICE per surviving pair — once in
    // the condition and once in the output projection (VERDICT r16 task
    // 7; guide §4.4's duplicated-evaluation fix). With the barrier the
    // filter stays above the projection and each pair intersects once.
    a.join(b, Seq("id_a"))
      .select(col("id_a"), (col("id_a") + 1).as("id_b"),
        graft.expressions.BucketAgg.opaque(
          size(array_intersect(col("__sa"), col("__sb")))).as("inter"),
        size(col("__sa")).as("n_a"), size(col("__sb")).as("n_b"))
      .filter(col("inter") > 0)
      .select(col("id_a"), col("id_b"),
        Q.r6(col("inter") * 1.0
          / (col("n_a") + col("n_b") - col("inter"))).as("jaccard"))
      .orderBy("id_a")
  }

  /** Exact 3-gram Jaccard for adjacent doc-id pairs (oracle-checked
    * baseline for the MinHash estimate).
    */
  val jaccardAdjacent: GraftQuery = GraftQuery(
    "ngram_jaccard_adjacent",
    (s, dir) => adjacentJaccard3(Tables(s, dir, "documents"), lit(true)),
    Some(s"""
      WITH ${Dedup.oracleShingleCtes("")},
      ${Dedup.oracleJaccardCtes("b.id = a.id + 1")}
      SELECT id_a, id_b, jaccard FROM jac ORDER BY id_a"""))

  /** Truth slice of `ngram_jaccard_adjacent` for sf100 value evidence
    * (VERDICT r13 task 4): adjacency pairs each doc only with doc_id + 1,
    * so a CONTIGUOUS id range (boundary row included — docs <= 100000,
    * pairs id_a < 100000) is exactly the full run's rows restricted to
    * the range; there is no cross-slice dependency to lose. The full
    * oracle's shingle self-join was the measured 330.8 s / disk DuckDB
    * bound at sf100; the slice replays 100k pairs (2% of the corpus) at
    * identical semantics. At sf <= 0.1 the corpus ends below the
    * boundary, so slice == full there.
    */
  val jaccardAdjacentSlice: GraftQuery = GraftQuery(
    "ngram_jaccard_slice",
    (s, dir) => adjacentJaccard3(
      Tables(s, dir, "documents").filter(col("doc_id") <= 100000),
      col("doc_id") < 100000),
    Some(s"""
      WITH ${Dedup.oracleShingleCtes(" WHERE doc_id <= 100000")},
      ${Dedup.oracleJaccardCtes("b.id = a.id + 1 AND a.id < 100000")}
      SELECT id_a, id_b, jaccard FROM jac ORDER BY id_a"""))

  /** EXACT all-pairs Jaccard >= 0.8 near-dup pairs via prefix filtering
    * (Dedup.allPairsJaccard — candidate generation is a rare-shingle
    * equi-join, never all-pairs; see the AllPairs/PPJoin losslessness
    * argument there). The oracle brute-forces every shared-shingle pair
    * — equivalent output because prefix filtering is lossless, which is
    * exactly what this gate proves on real data.
    *
    * The gate runs on the doc_id < 500 slice: this corpus's 3-gram
    * space is intentionally tiny (~1000 shingles built from a 31-word
    * vocabulary), so at bench scale even the per-doc RAREST shingles
    * have document frequencies in the hundreds and prefix postings
    * quadratically swamp the candidate join — the adversarial regime
    * for frequency-ordered prefix filtering, which presumes a zipfian
    * rare tail (real corpora have one; see `doc_cosine_topk` for the
    * same issue). The slice keeps the planted near-dup pairs (adjacent
    * ids) and bounds the gate at every scale factor.
    */
  val allPairsJaccard: GraftQuery = GraftQuery(
    "allpairs_jaccard_pairs",
    (s, dir) => allPairs05(s, dir).filter(col("jaccard") >= 0.8)
      .orderBy("id_a", "id_b"),
    Some(s"""
      WITH $allPairsSql
      SELECT id_a, id_b, jaccard FROM jac WHERE jaccard >= 0.8
      ORDER BY id_a, id_b"""))

  /** Top-15 most-similar document pairs by bag-of-4-gram-shingle COSINE
    * ([[graft.text.TermCosine]]): candidates from an inverted index over
    * RARE shingles only (global df <= 25 — per-term fan-out bounded at
    * df^2, the stopword-postings blowup never joins), then the EXACT
    * full-vector cosine on candidates — integer tf dot products and
    * norms, one final division per pair. Word tokens are useless as
    * index keys on this corpus (31-token vocab, df ~ 390/500), which is
    * exactly the regime where shingle-level rarity still discriminates.
    * Like `allpairs_jaccard_pairs`, the gate runs on the doc_id < 500
    * slice so the bounded synthetic shingle space cannot swamp the
    * rare-term index at larger scale factors.
    */
  val docCosine: GraftQuery = GraftQuery(
    "doc_cosine_topk",
    (s, dir) => {
      val post = Tables(s, dir, "documents")
        .filter(col("doc_id") < 500)
        .select(col("doc_id").as("id"),
          explode(graft.expressions.ShingleMinHash
            .shingleList(col("text"), 4)).as("tok"))
        .groupBy("id", "tok").agg(count(lit(1)).as("tf"))
      graft.text.TermCosine.cosineTopK(post, dfCap = 25, k = 15)
    },
    Some(s"""
      WITH sh AS (
        SELECT doc_id AS id, substr(text, CAST(i AS INTEGER), 4) AS tok
        FROM (SELECT doc_id, text,
                     unnest(${Dedup.oracleShinglePositions(4)}) AS i
              FROM documents WHERE doc_id < 500)),
      p AS (SELECT id, tok, COUNT(*) AS tf FROM sh GROUP BY 1, 2),
      n AS (SELECT id, SUM(tf * tf) AS n2 FROM p GROUP BY 1),
      r AS (SELECT id, tok FROM (
              SELECT id, tok, COUNT(*) OVER (PARTITION BY tok) AS df
              FROM p) WHERE df <= 25),
      c AS (SELECT DISTINCT a.id AS id_a, b.id AS id_b
            FROM r a JOIN r b USING (tok) WHERE a.id < b.id),
      d AS (SELECT c.id_a, c.id_b, SUM(pa.tf * pb.tf) AS dot
            FROM c JOIN p pa ON pa.id = c.id_a
                   JOIN p pb ON pb.id = c.id_b AND pb.tok = pa.tok
            GROUP BY 1, 2)
      SELECT id_a, id_b, CAST(dot AS BIGINT) AS dot,
             round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS cosine
      FROM d JOIN n na ON na.id = id_a JOIN n nb ON nb.id = id_b
      ORDER BY cosine DESC, id_a, id_b LIMIT 15"""))

  /** Edit-distance fuzzy dedup over adjacent-id candidate pairs: raw
    * Levenshtein distance plus the normalized edit similarity
    * 1 - d/max(|a|,|b|) — the character-level fuzzy-match companion to
    * the shingle Jaccard (catches small in-place edits that shift every
    * shingle). Candidate generation stays linear (adjacent ids here; any
    * blocking scheme — LSH, SimHash bands — composes); the DP cost is
    * per-pair and embarrassingly parallel.
    */
  val fuzzyDedup: GraftQuery = GraftQuery(
    "fuzzy_dedup_adjacent",
    (s, dir) => {
      val d = Tables(s, dir, "documents").select(
        col("doc_id"), col("text"))
      val a = d.toDF("id_a", "text_a")
      val b = d.toDF("id_b", "text_b")
      a.join(b, col("id_b") === col("id_a") + 1)
        .select(col("id_a"), col("id_b"),
          levenshtein(col("text_a"), col("text_b")).cast("long")
            .as("edit_dist"),
          Q.r6(lit(1.0) - levenshtein(col("text_a"), col("text_b")) * 1.0 /
            greatest(length(col("text_a")), length(col("text_b"))))
            .as("edit_sim"))
        .orderBy("id_a")
    },
    Some("""
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
             levenshtein(a.text, b.text) AS edit_dist,
             round(1.0 - levenshtein(a.text, b.text) * 1.0 /
               greatest(length(a.text), length(b.text)), 6) AS edit_sim
      FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1
      ORDER BY id_a"""))

  /** Dedup threshold tuning curve: for a grid of Jaccard thresholds,
    * how many candidate pairs and how many distinct docs a near-dup
    * pass at that threshold would drop — the report a curation run
    * consults BEFORE committing a cutoff. One pass over the exact pair
    * frame (same 500-doc slice as `allpairs_jaccard_pairs`, candidate
    * threshold 0.5), conditional aggregates per grid point; dropped-doc
    * counts use the keep-lowest-id convention (a doc is dropped if it
    * is the HIGHER id of any surviving pair).
    */
  val dedupThresholdSweep: GraftQuery = GraftQuery(
    "dedup_threshold_sweep",
    (s, dir) => {
      val pairs = allPairs05(s, dir)
      val grid = Seq(0.5, 0.6, 0.7, 0.8, 0.9)
      val aggs = grid.flatMap { t =>
        val tag = (t * 10).toInt
        Seq(
          sum(when(col("jaccard") >= t, 1L).otherwise(0L))
            .as(s"n_pairs_$tag"),
          count_distinct(when(col("jaccard") >= t, col("id_b")))
            .as(s"n_dropped_$tag"))
      }
      pairs.agg(aggs.head, aggs.tail: _*)
    },
    Some {
      val grid = Seq("0.5" -> 5, "0.6" -> 6, "0.7" -> 7, "0.8" -> 8,
        "0.9" -> 9)
      val cols = grid.map { case (t, tag) =>
        s"""CAST(SUM(CASE WHEN jaccard >= $t THEN 1 ELSE 0 END) AS BIGINT)
              AS n_pairs_$tag,
            COUNT(DISTINCT CASE WHEN jaccard >= $t THEN id_b END)
              AS n_dropped_$tag"""
      }.mkString(",\n            ")
      s"""
      WITH $allPairsSql
      SELECT $cols FROM jac WHERE jaccard >= 0.5"""
    })

  /** Cross-source duplicate leakage matrix keyed on the 40-char text
    * prefix ([[Dedup.dupLeakageMatrix]]) — the contamination report
    * between corpus sources (the full-text md5 key yields an empty
    * matrix on this corpus; the prefix key is the same one
    * `exact_dedup_prefix` gates).
    */
  val leakageMatrix: GraftQuery = GraftQuery(
    "dup_leakage_matrix_sources",
    (s, dir) => Dedup.dupLeakageMatrix(
      Tables(s, dir, "documents"), substring(col("text"), 1, 40), "source"),
    Some("""
      WITH g AS (
        SELECT substring(text, 1, 40) AS fp, source, COUNT(*) AS c
        FROM documents GROUP BY 1, 2)
      SELECT a.source AS grp_a, b.source AS grp_b,
             CAST(SUM(CASE WHEN a.source = b.source
                  THEN a.c * (a.c - 1) // 2
                  ELSE a.c * b.c END) AS BIGINT) AS dup_pairs
      FROM g a JOIN g b ON a.fp = b.fp AND a.source <= b.source
      GROUP BY 1, 2 HAVING SUM(CASE WHEN a.source = b.source
                  THEN a.c * (a.c - 1) // 2
                  ELSE a.c * b.c END) > 0
      ORDER BY grp_a, grp_b"""))

  /** Dedup-keep-first: rows surviving prefix dedup + survivor stats. */
  val dedupKept: GraftQuery = GraftQuery(
    "dedup_keep_first_counts",
    (s, dir) => {
      val kept = Dedup.dedupKeepFirst(
        Tables(s, dir, "documents"), "doc_id", substring(col("text"), 1, 20))
      kept.agg(
        count(lit(1)).as("n_kept"),
        sum(col("n_chars")).as("sum_chars"),
        min(col("doc_id")).as("min_id"),
        max(col("doc_id")).as("max_id"))
    },
    Some("""
      WITH kept AS (
        SELECT * FROM (
          SELECT doc_id, n_chars,
                 row_number() OVER (PARTITION BY substr(text, 1, 20)
                                    ORDER BY doc_id) AS rn
          FROM documents)
        WHERE rn = 1)
      SELECT COUNT(*) AS n_kept,
             CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
             MIN(doc_id) AS min_id, MAX(doc_id) AS max_id
      FROM kept"""))

  // ---------------------------------------------------------------------
  // Shared dedup chains, held in the session's registry (graft.ChainGuard)
  // under the sfDir. The MinHash chain feeds 3 registered queries and the
  // SimHash / all-pairs chains feed 2 each; without sharing every policy
  // query re-pays the full shingle->MinHash->LSH(->CC) cost its sibling
  // already paid. Each frame is candidate-pair / label sized — orders of
  // magnitude smaller than the corpus — so its checkpoint blocks are
  // cheap to hold until the registry is cleared.
  // ---------------------------------------------------------------------
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import graft.ChainGuard.frame

  /** MinHash(32) + LSH(4 bands x 8 rows, candidate threshold ~0.84):
    * near-dup pairs of a materialized signature frame with estimated
    * similarity >= 0.5. One md5 base hash per shingle fans out to 32
    * permutations arithmetically ((a*h+b) mod P31), and band buckets are
    * the verbatim signature slices, so the ENTIRE pipeline — shingling,
    * permutations, banding, candidate dedup, similarity estimate —
    * replays in DuckDB ([[Dedup.oracleMinhashCtes]],
    * [[Dedup.oracleLshCtes]]).
    */
  private def lshPairs(sigs: DataFrame): DataFrame =
    Dedup.lshCandidates(sigs, 4).filter(col("est_jaccard") >= 0.5)

  /** MinHash(32) signatures of `docs` in the per-row form (r16). */
  private def minhashSigs(docs: DataFrame): DataFrame =
    Dedup.minhashSigsPerRow(docs, "doc_id", "text", 3, 32)

  /** The whole corpus's [[minhashSigs]], materialized once for the LSH
    * pairs and the full-corpus bucket components. */
  private def corpusSigs(s: SparkSession, dir: String): DataFrame =
    frame(s, s"minhash_sigs $dir") { minhashSigs(Tables(s, dir, "documents")) }

  /** [[lshPairs]] over the whole corpus. */
  private def lshEdges(s: SparkSession, dir: String): DataFrame =
    frame(s, s"lsh_edges $dir") { lshPairs(corpusSigs(s, dir)) }

  /** Oracle of [[lshEdges]] and [[lshComponents]]: `edges` and `comp`. */
  private def lshComponentsSql: String = s"""${Dedup.oracleMinhashCtes("")},
      ${Dedup.oracleLshCtes("a.id < b.id")},
      edges AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.5),
      ${Dedup.oracleComponentsCtes}"""

  /** Connected-component labels over [[lshEdges]] (id, comp). */
  private def lshComponents(s: SparkSession, dir: String): DataFrame =
    frame(s, s"lsh_components $dir") {
      Dedup.connectedComponents(lshEdges(s, dir).select("id_a", "id_b"))
    }

  /** Exact all-pairs Jaccard >= 0.5 on the doc_id < 500 slice. The 0.8
    * query filters this frame — the prefix-filter candidates at 0.5 are
    * a superset and the exact final Jaccard predicate makes the result
    * identical to running the chain at 0.8 directly.
    */
  private def allPairs05(s: SparkSession, dir: String): DataFrame =
    frame(s, s"allpairs_05 $dir") {
      Dedup.allPairsJaccard(Dedup.shingleSet(
        Tables(s, dir, "documents").filter(col("doc_id") < 500),
        "doc_id", "text", 3), 0.5)
    }

  /** Oracle of every shingle-sharing pair's Jaccard on the doc_id < 500
    * slice (`sh`, `jac`): the truth [[allPairs05]] filters.
    */
  private def allPairsSql: String = s"""${Dedup.oracleShingleCtes(" WHERE doc_id < 500")},
      ${Dedup.oracleJaccardCtes("a.id < b.id")}"""

  /** SimHash banded Hamming pairs at maxDist = 3. */
  private def simhashPairs3(s: SparkSession, dir: String): DataFrame =
    frame(s, s"simhash_pairs $dir") {
      Dedup.simhashHammingPairs(
        Dedup.simhash(Tables(s, dir, "documents"), "doc_id", "text"),
        nBands = shBands, bandBits = shBandBits, maxDist = 3)
    }

  /** LSH blocking QUALITY report — the evaluation a pipeline runs before
    * trusting banded MinHash at scale: candidate pairs (est >= 0.5,
    * restricted to the doc_id < 500 slice where exact truth is
    * tractable) scored against the TRUE all-pairs Jaccard >= 0.5 set as
    * precision (candidates that are real) and recall (real pairs the
    * bands caught). A doc's band signature depends only on its own
    * shingles, so a pair collides in the sliced corpus iff it collides
    * in the full one — the audit runs the SAME MinHash+LSH chain on the
    * slice and gets exactly the production candidate pairs inside it at
    * slice cost (running the full-corpus chain and filtering after is
    * output-identical but pays the whole corpus: at sf10 that is the
    * documented quadratic duplicate-mass regime). Truth is the memoized
    * all-pairs frame the 0.8-threshold query shares; the oracle replays
    * candidates AND truth and re-derives the same counts.
    */
  val lshQuality: GraftQuery = GraftQuery(
    "lsh_quality_report",
    (s, dir) => {
      val cand = lshPairs(minhashSigs(
          Tables(s, dir, "documents").filter(col("doc_id") < 500)).localCheckpoint())
        .select(col("id_a"), col("id_b"), lit(1L).as("c"))
      val truth = allPairs05(s, dir)
        .select(col("id_a"), col("id_b"), lit(1L).as("t"))
      cand.join(truth, Seq("id_a", "id_b"), "full_outer")
        .agg(sum("c").as("n_cand"), sum("t").as("n_true"),
          sum(col("c") * col("t")).as("tp"))
        .select(col("n_cand"), col("n_true"), col("tp"),
          Q.r6(col("tp") * 1.0 / col("n_cand")).as("prec"),
          Q.r6(col("tp") * 1.0 / col("n_true")).as("rec"))
    },
    Some(s"""
      WITH ${Dedup.oracleMinhashCtes(" WHERE doc_id < 500")},
      ${Dedup.oracleLshCtes("a.id < b.id")},
      ${Dedup.oracleJaccardCtes("a.id < b.id")},
      candf AS (SELECT id_a, id_b FROM est WHERE est_jaccard >= 0.5),
      truthf AS (SELECT id_a, id_b FROM jac WHERE jaccard >= 0.5)
      SELECT nc.n_cand, nt.n_true, j.tp,
             round(j.tp * 1.0 / nc.n_cand, 6) AS prec,
             round(j.tp * 1.0 / nt.n_true, 6) AS rec
      FROM (SELECT COUNT(*) AS n_cand FROM candf) nc,
           (SELECT COUNT(*) AS n_true FROM truthf) nt,
           (SELECT COUNT(*) AS tp
            FROM candf JOIN truthf USING (id_a, id_b)) j"""))

  val minhashLsh: GraftQuery = GraftQuery(
    "minhash_lsh_candidates",
    (s, dir) => lshEdges(s, dir).orderBy("id_a", "id_b"),
    Some(s"""
      WITH ${Dedup.oracleMinhashCtes("")},
      ${Dedup.oracleLshCtes("a.id < b.id")}
      SELECT id_a, id_b, est_jaccard
      FROM est WHERE est_jaccard >= 0.5 ORDER BY id_a, id_b"""))

  /** MinHash ESTIMATOR calibration — the third leg of the dedup
    * evaluation layer (blocking quality: `lsh_quality_report`; ANN
    * recall: `ann_recall_ivf_vec0`; estimator error: this). For every
    * adjacent-id pair in the doc_id < 2000 slice (the planted near-dup
    * probe set `ngram_jaccard_adjacent` uses), the 32-perm signature
    * agreement count is compared against the EXACT 3-gram Jaccard, one
    * calibration row per agreement count: pair count, how many pairs
    * land within the ±4/32 band (~1 binomial std error at J=0.5), and
    * the exact-Jaccard range observed at that estimate. A signature
    * depends only on its own doc's shingles, so the slice audit equals
    * the full-corpus audit on the same pairs at slice cost (the
    * `lsh_quality_report` scale lesson). Pairs with an empty shingle
    * intersection are out of scope (exact Jaccard 0 by construction;
    * [[Dedup.jaccardForPairs]] drops them), which the oracle replays
    * with its inner intersection join.
    */
  val minhashCalibration: GraftQuery = GraftQuery(
    "minhash_estimate_error",
    (s, dir) => {
      val d = Tables(s, dir, "documents").filter(col("doc_id") < 2000)
      // Per-row featurization (r16): each side of the adjacent-pair join
      // carries its distinct shingle array AND its 32-perm signature,
      // both computed in the scan-side projection by the compiled
      // kernels — the r15 shape re-derived the shingle explode for the
      // exact-jaccard join pair and the signature frame twice more
      // (26 Exchanges / 14 scans of the doc table). Same hash and
      // integer arithmetic ([[graft.expressions.MinHashSig]]).
      def feats(side: String): org.apache.spark.sql.DataFrame = d
        .select(col("doc_id"),
          Dedup.shingleArray("text", 3).as(s"__s$side"),
          graft.expressions.ShingleMinHash
            .minhashSig(col("text"), 3, Dedup.permConstants(32))
            .as(s"sig_$side"))
      val a = feats("a").toDF("id_a", "__sa", "sig_a")
      val b = feats("b").select(
        (col("doc_id") - 1).as("id_a"), col("__sb"), col("sig_b"))
      a.join(b, Seq("id_a"))
        .select(col("id_a"), (col("id_a") + 1).as("id_b"),
          size(array_intersect(col("__sa"), col("__sb"))).as("inter"),
          size(col("__sa")).as("n_a"), size(col("__sb")).as("n_b"),
          col("sig_a"), col("sig_b"))
        .filter(col("inter") > 0)
        .select(
          Q.r6(col("inter") * 1.0
            / (col("n_a") + col("n_b") - col("inter"))).as("jaccard"),
          expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y)," +
            " z -> z))").as("matches"))
        .groupBy("matches")
        .agg(
          count(lit(1)).as("n_pairs"),
          sum(when(abs(col("matches") / 32.0 - col("jaccard")) <= 0.125, 1L)
            .otherwise(0L)).as("n_within_4_32"),
          min("jaccard").as("min_exact"),
          max("jaccard").as("max_exact"))
        .select(col("matches"), Q.r6(col("matches") / 32.0).as("est_jaccard"),
          col("n_pairs"), col("n_within_4_32"),
          col("min_exact"), col("max_exact"))
        .orderBy("matches")
    },
    Some(s"""
      WITH ${Dedup.oracleMinhashCtes(" WHERE doc_id < 2000")},
      ${Dedup.oracleJaccardCtes("b.id = a.id + 1")},
      mt AS (
        SELECT e.jaccard,
               CAST(${Dedup.oracleSigMatches("ma.sig", "mb.sig")} AS BIGINT)
                 AS matches
        FROM jac e
        JOIN mh ma ON ma.id = e.id_a
        JOIN mh mb ON mb.id = e.id_b)
      SELECT matches, round(matches / 32.0, 6) AS est_jaccard,
             COUNT(*) AS n_pairs,
             CAST(SUM(CASE WHEN abs(matches / 32.0 - jaccard) <= 0.125
                           THEN 1 ELSE 0 END) AS BIGINT) AS n_within_4_32,
             MIN(jaccard) AS min_exact,
             MAX(jaccard) AS max_exact
      FROM mt GROUP BY matches ORDER BY matches"""))

  /** Near-dup CLUSTERS, end to end: MinHash(32) + LSH candidates
    * (est_jaccard >= 0.5) as edges, connected components by min-label
    * propagation, one row per clustered doc with its canonical (minimum)
    * id — i.e. the actual keep/drop decision a dedup pipeline ships. The
    * oracle replays the whole pipeline in DuckDB
    * ([[Dedup.oracleComponentsCtes]] for the component step).
    */
  val dedupClusters: GraftQuery = GraftQuery(
    "dedup_clusters_lsh",
    (s, dir) => lshComponents(s, dir)
      .select(col("id"), col("comp").as("component"))
      .orderBy("id"),
    Some(s"""
      WITH $lshComponentsSql
      SELECT id, component FROM comp ORDER BY id"""))

  /** SCALE-MODE near-dup components: star-reduced bucket-connectivity
    * CC ([[Dedup.lshBucketStarEdges]]) — one hub edge per bucket member
    * instead of the C(n,2) verified pair set, so edge volume is
    * O(corpus x bands) instead of O(duplicate-mass^2). Measured at the
    * adversarial sf1 corpus (85% of docs in one near-dup component):
    * the verified-pair chain materializes 36.7M edges (~116 s); this
    * operator's edge set is bounded by 4x corpus. Components equal the
    * full UNVERIFIED candidate graph's components exactly (a star spans
    * its bucket); what the scale mode gives up is the per-pair
    * est_jaccard filter — banding (b bands of r rows ~ threshold
    * (1/b)^(1/r)) is the similarity bar, the standard production
    * trade. `dedup_clusters_lsh` remains the verified-pair gate.
    */
  val dedupComponentsBucket: GraftQuery =
    bucketCcQuery("dedup_components_bucket", "bucket_star_edges", "")

  /** Truth-slice twin of `dedup_components_bucket` for sf100
    * value-level evidence: the full oracle disk-killed DuckDB at 373 s /
    * 57 GB (r10 bound), so this runs the SAME star-edge CC operator over
    * the deterministic `doc_id % 100 = 7` hundredth of the corpus
    * (`dedup_components_slice10` carries the wider gate). At
    * sf0.001/0.01 the slice keeps only ~5 docs — the FULL twin
    * `dedup_components_bucket` is the small-sf gate; this query exists
    * for sf100. The semantics are INDUCED-SUBGRAPH components — both
    * engines bucket, star-reduce, and propagate over the identical
    * sliced corpus — NOT the restriction of the full-corpus components
    * (a cross-slice near-dup edge is dropped on both sides by
    * construction, so two sliced docs joined only through an unsliced
    * doc land in different components than a full run would put them). That restriction
    * cannot be sliced soundly; what this gate pins is the operator
    * itself — hashing, banding, bucket-star reduction, min-label
    * propagation — at sf100 data characteristics.
    */
  val dedupComponentsSlice: GraftQuery = bucketCcQuery(
    "dedup_components_slice", "bucket_star_edges_slice", "doc_id % 100 = 7")

  /** 10% truth slice of the bucket-CC operator (VERDICT r12 task 4): the
    * full-corpus replay is out of DuckDB's reach at sf100, and the 10%
    * slice is within it ([[Dedup.oracleComponentsCtes]] costs O(edges)
    * per round, and edge volume is bounded by bands x sliced corpus).
    * Same induced-subgraph semantics argument as
    * `dedup_components_slice`; 10x the sliced duplicate mass makes the
    * sf100 gate an order of magnitude more representative of the real
    * corpus structure.
    */
  val dedupComponentsSlice10: GraftQuery = bucketCcQuery(
    "dedup_components_slice10", "bucket_star_edges_slice10",
    "doc_id % 10 = 7")

  // A sliced query runs on the documents `pred` selects: "" for all of
  // them, else one SQL predicate that both engines evaluate.
  private def sliceDocs(s: SparkSession, dir: String, pred: String): DataFrame = {
    val d = Tables(s, dir, "documents")
    if (pred.isEmpty) d else d.filter(expr(pred))
  }

  private def sliceWhere(pred: String): String =
    if (pred.isEmpty) "" else s" WHERE $pred"

  /** Oracle of [[bucketCcLabels]]: `edges` and `comp`. */
  private def bucketComponentsSql(pred: String): String =
    s"""${Dedup.oracleMinhashCtes(sliceWhere(pred))},
      ${Dedup.oracleBucketStarCtes},
      ${Dedup.oracleComponentsCtes}"""

  /** Memoized bucket-CC labels (id, comp) for a doc subset: star edges
    * (memoized under `memoKey`) then min-label propagation, memoized one
    * level up so the keep/drop policies reuse the SAME component frame
    * the components query computed instead of re-running the
    * propagation loop per policy query.
    */
  private def bucketCcLabels(
      s: SparkSession, dir: String, memoKey: String,
      pred: String): DataFrame =
    frame(s, s"${memoKey}_cc $dir") {
      val edges = frame(s, s"$memoKey $dir") {
        Dedup.lshBucketStarEdges(
          if (pred.isEmpty) corpusSigs(s, dir) else minhashSigs(sliceDocs(s, dir, pred)),
          4)
      }
      Dedup.connectedComponents(edges)
    }

  private def bucketCcQuery(
      name: String, memoKey: String, pred: String): GraftQuery = GraftQuery(
    name,
    (s, dir) => bucketCcLabels(s, dir, memoKey, pred)
      .select(col("id"), col("comp").as("component"))
      .orderBy("id"),
    Some(s"""
      WITH ${bucketComponentsSql(pred)}
      SELECT id, component FROM comp ORDER BY id"""))

  /** Clustered docs with their component and length:
    * (id, component, n_chars), from component labels (id, comp).
    */
  private def members(labels: DataFrame, docs: DataFrame): DataFrame =
    labels.select(col("id"), col("comp").as("component"))
      .join(docs.select(col("doc_id").as("id"), col("n_chars")), Seq("id"))

  /** Oracle of [[members]], given `comp(id, component)`: `jd`. */
  private def membersSql: String = """jd AS (SELECT c.id, c.component, d.n_chars
             FROM comp c JOIN documents d ON d.doc_id = c.id)"""

  /** The keep-longest drop list over [[members]]: keep = 1 for each
    * component's longest member (n_chars desc, id tiebreak), 0 for the
    * rest. Unclustered docs are implicitly kept and don't appear.
    */
  private def dropFlags(members: DataFrame): DataFrame = {
    val w = Window.partitionBy("component")
      .orderBy(desc("n_chars"), col("id"))
    members
      .withColumn("keep", when(row_number().over(w) === 1, 1L).otherwise(0L))
      .select("id", "component", "n_chars", "keep")
      .orderBy("id")
  }

  /** Oracle of [[dropFlags]], given `comp(id, component)`. */
  private def dropFlagsSql: String = s"""$membersSql
      SELECT id, component, n_chars,
             CAST(CASE WHEN row_number() OVER (PARTITION BY component
                    ORDER BY n_chars DESC, id) = 1
                  THEN 1 ELSE 0 END AS BIGINT) AS keep
      FROM jd ORDER BY id"""

  /** [[dropFlags]] over the memoized bucket-CC components. */
  private def dropComponentsQuery(
      name: String, memoKey: String, pred: String): GraftQuery = GraftQuery(
    name,
    (s, dir) => dropFlags(members(
      bucketCcLabels(s, dir, memoKey, pred), sliceDocs(s, dir, pred))),
    Some(s"""
      WITH ${bucketComponentsSql(pred)},
      $dropFlagsSql"""))

  /** Keep-best over the memoized bucket-CC components: one row per
    * component with its longest member (n_chars desc, id tiebreak) and
    * the member count.
    */
  private def keepBestComponentsQuery(
      name: String, memoKey: String, pred: String): GraftQuery = GraftQuery(
    name,
    (s, dir) => {
      val w = Window.partitionBy("component")
        .orderBy(desc("n_chars"), col("id"))
      members(bucketCcLabels(s, dir, memoKey, pred), sliceDocs(s, dir, pred))
        .withColumn("rk", row_number().over(w))
        .withColumn("n_members",
          count(lit(1)).over(Window.partitionBy("component")))
        .filter(col("rk") === 1)
        .select(col("component"), col("id").as("kept_doc_id"),
          col("n_members"), col("n_chars").as("kept_len"))
        .orderBy("component")
    },
    Some(s"""
      WITH ${bucketComponentsSql(pred)},
      $membersSql,
      k AS (SELECT component, id, n_chars,
                   row_number() OVER (PARTITION BY component
                     ORDER BY n_chars DESC, id) AS rk,
                   COUNT(*) OVER (PARTITION BY component) AS n_members
            FROM jd)
      SELECT component, id AS kept_doc_id, n_members, n_chars AS kept_len
      FROM k WHERE rk = 1 ORDER BY component"""))

  /** SCALE-MODE dedup DECISION (VERDICT r13 task 1): the per-doc
    * keep/drop flags a production pipeline ships, composed over the
    * bucket-CC component labels instead of verified pairs. The
    * pair-chain form (`dedup_drop_list`) materializes
    * O(duplicate-mass^2) verified pairs and disk-dies Spark-side at
    * sf100 (measured, r13_oracle3.err); this twin's inputs are the
    * O(corpus x bands) star edges, so the whole decision — components,
    * longest-member argmax (n_chars desc, id tiebreak), keep flags — is
    * linear in the corpus. Similarity bar = banding parameters (the
    * bucket-connectivity trade documented on [[Dedup.lshBucketStarEdges]]);
    * keep-policy tie-breaking matches `dedup_keep_best`/`dedup_drop_list`
    * exactly. Unclustered docs are implicitly kept and don't appear.
    */
  val dedupDropComponents: GraftQuery = dropComponentsQuery(
    "dedup_drop_components", "bucket_star_edges", "")

  /** Keep-BEST policy over the bucket-CC components — the scale-mode
    * twin of `dedup_keep_best` (whose verified-pair chain is the same
    * measured sf100 bound as above): one surviving row per component
    * with the longest member (n_chars desc, id tiebreak) and the member
    * count. Same component frame as `dedup_drop_components` (memoized),
    * one argmax window over the clustered-doc set.
    */
  val dedupKeepBestComponents: GraftQuery = keepBestComponentsQuery(
    "dedup_keep_best_components", "bucket_star_edges", "")

  /** 10% truth slice of `dedup_drop_components` for sf100 VALUE
    * evidence: the full-corpus replay is a measured DuckDB disk bound
    * (r14: temp exhausted at 261 s — the 16 materialized 5M-row
    * propagation CTEs, same class as `dedup_components_bucket`'s bound;
    * the SPARK side completes, 4,999,899 decision rows). Same
    * induced-subgraph semantics argument as `dedup_components_slice10`
    * (both engines run the identical sliced corpus); the policy layer —
    * argmax window + keep flags — is exercised verbatim. Shares the
    * memoized slice CC chain with `dedup_components_slice10`.
    */
  val dedupDropComponentsSlice: GraftQuery = dropComponentsQuery(
    "dedup_drop_components_slice10", "bucket_star_edges_slice10",
    "doc_id % 10 = 7")

  /** 10% truth slice of `dedup_keep_best_components` — same bound story
    * and induced-subgraph semantics as the drop-list slice above; one
    * winner row per sliced component.
    */
  val dedupKeepBestComponentsSlice: GraftQuery = keepBestComponentsQuery(
    "dedup_keep_best_components_slice10", "bucket_star_edges_slice10",
    "doc_id % 10 = 7")

  /** SCALE-MODE incremental ingest dedup (VERDICT r13 task 1): the daily
    * shard (doc_id % 10 = 0) deduped against the existing corpus with NO
    * cross pairs anywhere. Exact dups by full-text md5 semi-join (linear);
    * near-dups by [[Dedup.lshBucketHitIds]] — the corpus's banded buckets
    * collapse to a DISTINCT (band, bucket) index (precomputable, the
    * structure a daily pipeline maintains incrementally) and the shard
    * semi-joins it, so cost is O(corpus x bands) + O(shard x bands) where
    * the verified-pair form (`incremental_dedup_shard`) is quadratic in
    * per-bucket duplicate mass (measured sf100 disk kill,
    * r13_oracle4.err). One summary row: shard size, exact dups, docs
    * sharing >= 1 bucket with the corpus, their union, and the clean
    * remainder admitted.
    */
  /** The daily-shard ingest summary of both incremental queries: the new
    * shard (doc_id % 10 = 0) against the existing corpus — exact dups by
    * full-text md5 semi-join, near dups as the distinct ids `near` finds
    * from the (new, corpus) signature frames. One row: n_new,
    * n_exact_dup, `nearName`, n_dup_docs, n_clean.
    */
  private def incrementalSummary(
      s: SparkSession, dir: String, nearName: String)(
      near: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    val d = Tables(s, dir, "documents")
    val isNew = col("doc_id") % 10 === 0
    val newDocs = d.filter(isNew)
    val corpus = d.filter(!isNew)
    val exactIds = newDocs
      .select(col("doc_id"), md5(col("text").cast("binary")).as("fp"))
      .join(corpus.select(md5(col("text").cast("binary")).as("fp"))
        .distinct(), Seq("fp"), "left_semi")
      .select("doc_id")
    val nearIds = near(minhashSigs(newDocs), minhashSigs(corpus))
    // ONE labeled pass instead of four crossJoined aggregates: the old
    // shape re-derived exactIds twice and scanned newDocs five times
    // (each crossJoin branch is its own subtree). exactIds and nearIds
    // are distinct id sets by construction, so the left joins preserve
    // cardinality and the flag sums equal the old per-frame counts;
    // n_dup_docs = |exactIds ∪ nearIds| is the count of rows with either
    // flag (guide §1.2: don't compute things twice).
    newDocs.select(col("doc_id"))
      .join(exactIds.withColumn("__e", lit(1L)), Seq("doc_id"), "left")
      .join(nearIds.withColumn("__n", lit(1L)), Seq("doc_id"), "left")
      .agg(
        count(lit(1)).as("n_new"),
        coalesce(sum(coalesce(col("__e"), lit(0L))), lit(0L))
          .as("n_exact_dup"),
        coalesce(sum(coalesce(col("__n"), lit(0L))), lit(0L))
          .as(nearName),
        coalesce(sum(when(col("__e") === 1L || col("__n") === 1L, 1L)
          .otherwise(0L)), lit(0L)).as("n_dup_docs"))
      .select(col("n_new"), col("n_exact_dup"), col(nearName),
        col("n_dup_docs"),
        (col("n_new") - col("n_dup_docs")).as("n_clean"))
  }

  /** Oracle tail of [[incrementalSummary]], given `near(doc_id)`. */
  private def incrementalSummarySql(nearName: String): String = s"""ex AS MATERIALIZED (
        SELECT DISTINCT n.doc_id
        FROM documents n
        JOIN (SELECT DISTINCT md5(text) AS fp FROM documents
              WHERE doc_id % 10 != 0) o ON md5(n.text) = o.fp
        WHERE n.doc_id % 10 = 0),
      dup AS MATERIALIZED (
        SELECT doc_id FROM ex UNION SELECT doc_id FROM near)
      SELECT (SELECT COUNT(*) FROM documents WHERE doc_id % 10 = 0) AS n_new,
             (SELECT COUNT(*) FROM ex) AS n_exact_dup,
             (SELECT COUNT(*) FROM near) AS $nearName,
             (SELECT COUNT(*) FROM dup) AS n_dup_docs,
             (SELECT COUNT(*) FROM documents WHERE doc_id % 10 = 0)
               - (SELECT COUNT(*) FROM dup) AS n_clean"""

  val incrementalDedupComponents: GraftQuery = GraftQuery(
    "incremental_dedup_components",
    (s, dir) => incrementalSummary(s, dir, "n_near_bucket") { (ns, os) =>
      Dedup.lshBucketHitIds(ns, os, 4).withColumnRenamed("id", "doc_id")
    },
    Some(s"""
      WITH ${Dedup.oracleMinhashCtes("")},
      cb AS MATERIALIZED (
        SELECT DISTINCT band, bucket FROM bk WHERE id % 10 <> 0),
      near AS MATERIALIZED (
        SELECT DISTINCT id AS doc_id
        FROM bk JOIN cb USING (band, bucket)
        WHERE id % 10 = 0),
      ${incrementalSummarySql("n_near_bucket")}"""))

  /** Keep-BEST dedup policy over the LSH near-dup clusters: each
    * component keeps its longest member (doc id as tiebreak) instead of
    * the smallest id — the policy real curation runs use (longest /
    * highest-quality survivor). Same cluster pipeline as
    * `dedup_clusters_lsh` plus one argmax window over the (tiny)
    * clustered-doc set; the oracle extends the same component replay
    * with the same argmax.
    */
  val dedupKeepBest: GraftQuery = GraftQuery(
    "dedup_keep_best",
    (s, dir) => {
      val docs = Tables(s, dir, "documents")
      val labels = lshComponents(s, dir)
      val m = labels.join(
        docs.select(col("doc_id").as("id"), length(col("text")).as("len")),
        Seq("id"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("comp").orderBy(desc("len"), col("id"))
      m.withColumn("rk", row_number().over(w))
        .withColumn("n_members",
          count(lit(1)).over(org.apache.spark.sql.expressions.Window
            .partitionBy("comp")))
        .filter(col("rk") === 1)
        .select(col("comp").as("component"), col("id").as("kept_doc_id"),
          col("n_members"), col("len").as("kept_len"))
        .orderBy("component")
    },
    Some(s"""
      WITH $lshComponentsSql,
      mem AS (SELECT c.component, c.id, length(d.text) AS len
              FROM comp c JOIN documents d ON d.doc_id = c.id),
      k AS (SELECT component, id, len,
                   row_number() OVER (PARTITION BY component
                     ORDER BY len DESC, id) AS rk,
                   COUNT(*) OVER (PARTITION BY component) AS n_members
            FROM mem)
      SELECT component, id AS kept_doc_id, n_members,
             len AS kept_len
      FROM k WHERE rk = 1 ORDER BY component"""))

  /** Greedy sequence packing per language at a 512-token budget — the
    * LLM-batch construction step; the oracle replays the sequential
    * accumulate/reset scan as a recursive CTE over row_number.
    */
  val packDocs: GraftQuery = packQuery("pack_greedy_docs", "")

  /** Truth slice of `pack_greedy_docs` for sf100 value evidence (VERDICT
    * r13 task 4): greedy packing scans each lang partition sequentially
    * in doc_id order, so a doc_id PREFIX of the corpus is EXACT — every
    * doc's pack assignment depends only on earlier docs of its lang, all
    * inside the prefix; the sliced rows equal the full run's rows for
    * those docs verbatim. The full oracle's recursive CTE is one
    * iteration per row per lang (1M deep at sf100 — the measured 1800 s
    * budget bound); the prefix caps the recursion at 10k rows per lang
    * at sf100 while exercising identical semantics. At sf <= 0.1 the
    * corpus is under 50k docs, so slice == full there (the small-sf
    * hash-parity these gates always carry).
    */
  val packSlice: GraftQuery = packQuery("pack_greedy_slice", "doc_id < 50000")

  private def packQuery(name: String, pred: String): GraftQuery = GraftQuery(
    name,
    (s, dir) => graft.text.Packing.packGreedy(
        sliceDocs(s, dir, pred), "lang", "doc_id",
        TextOps.tokenCount(col("text")), budget = 512L)
      .select(col("lang"), col("doc_id"), col("weight").as("n_tokens"),
        col("pack"))
      .orderBy("lang", "doc_id"),
    Some(s"""
      WITH RECURSIVE d AS (
        SELECT lang, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS nt,
               row_number() OVER (PARTITION BY lang ORDER BY doc_id) AS rn
        FROM documents${sliceWhere(pred)}),
      p(lang, rn, doc_id, nt, pack, acc) AS (
        SELECT lang, rn, doc_id, nt, CAST(0 AS BIGINT), nt
        FROM d WHERE rn = 1
        UNION ALL
        SELECT d.lang, d.rn, d.doc_id, d.nt,
               CASE WHEN p.acc + d.nt > 512 THEN p.pack + 1 ELSE p.pack END,
               CASE WHEN p.acc + d.nt > 512 THEN d.nt ELSE p.acc + d.nt END
        FROM p JOIN d ON d.lang = p.lang AND d.rn = p.rn + 1)
      SELECT lang, doc_id, nt AS n_tokens, pack
      FROM p ORDER BY lang, doc_id"""))

  /** Corpus downsampling, end to end: quality filter (on the r6-rounded
    * score, so the threshold compare is boundary-safe cross-engine) +
    * deterministic 50% md5-hash sample, summarized per language.
    */
  val qualitySample: GraftQuery = GraftQuery(
    "quality_sample_docs",
    (s, dir) => graft.split.Splits.hashSample(
        Tables(s, dir, "documents"), col("doc_id"), 50)
      .filter(Q.r6(TextOps.qualityScore(col("text"), stop)) >= 0.5)
      .groupBy("lang")
      .agg(count(lit(1)).as("n"),
        sum(TextOps.tokenCount(col("text"))).as("sum_tokens"))
      .orderBy("lang"),
    Some(s"""
      WITH b AS (
        SELECT lang, text,
               len(string_split(text, ' ')) AS nt,
               len(list_filter(string_split(text, ' '),
                   x -> x IN ('the', 'a'))) AS nstop
        FROM documents
        WHERE ${Dedup.oracleMd5Hash60("CAST(doc_id AS VARCHAR)", 0)} % 100 < 50),
      q AS (
        SELECT lang, nt,
               round(0.4 * least(length(text) / 500.0, 1.0)
                   + 0.3 * (1.0 - nstop * 1.0 / nt)
                   + 0.3 * least(((length(text) - (nt - 1)) * 1.0 / nt) / 8.0,
                                 1.0), 6) AS quality
        FROM b)
      SELECT lang, COUNT(*) AS n, CAST(SUM(nt) AS BIGINT) AS sum_tokens
      FROM q WHERE quality >= 0.5 GROUP BY lang ORDER BY lang"""))

  /** Exact dedup THROUGH Structured Streaming: dropDuplicates state across
    * micro-batches, per-language distinct counts, batch COUNT(DISTINCT)
    * oracle.
    */
  val dedupStream: GraftQuery = GraftQuery(
    "dedup_distinct_stream",
    (s, dir) => Dedup.streamingDistinctCounts(s, dir),
    Some("""
      SELECT lang, COUNT(DISTINCT text) AS n_distinct
      FROM documents GROUP BY lang ORDER BY lang"""))

  /** Watermark-bounded streaming dedup twin: state evicts as event time
    * advances (the production memory bound the unbounded
    * `dropDuplicates` form lacks); gate equals the batch per-type
    * distinct-user count.
    */
  val dedupWatermarkStream: GraftQuery = GraftQuery(
    "dedup_within_watermark_stream",
    (s, dir) => Dedup.streamingDistinctUsersWithinWatermark(s, dir),
    Some("""
      SELECT event_type, COUNT(DISTINCT user_id) AS n_users
      FROM events GROUP BY event_type ORDER BY event_type"""))

  /** Trigram inverted-index substring search (the pg_trgm pattern): the
    * query string's 3-grams probe the posting lists built by
    * `shingleSet`, docs matching ALL query trigrams become candidates
    * (a count equi-join — never a scan of non-candidates at index
    * scale), and one exact `contains` rerank removes false positives
    * (trigram co-presence does not imply adjacency). The oracle is the
    * direct full-scan predicate — equality IS the losslessness proof
    * (trigram containment is necessary for substring containment).
    */
  val trigramSearch: GraftQuery = {
    val needle = "data merge"
    GraftQuery(
      "trigram_index_search",
      (s, dir) => {
        val docs = Tables(s, dir, "documents")
        val qGrams = needle.sliding(3).toSeq.distinct
        // r16: intersect each doc's distinct-trigram array with the
        // query's grams BEFORE the explode — the posting probe emits
        // <= |qGrams| rows per doc instead of the doc's whole trigram
        // set (the old plan generated every posting and filtered after
        // the Generate, ~30x the rows through the explode). Identical
        // candidates: intersect-with-qGrams == isin filter on the
        // distinct shingle set.
        val probe = docs.select(
          col("doc_id"),
          explode(array_intersect(
            Dedup.shingleArray("text", 3),
            array(qGrams.map(lit): _*))).as("sh"))
        val cand = probe
          .groupBy("doc_id").agg(count(lit(1)).as("hits"))
          .filter(col("hits") === qGrams.size)
        docs.join(cand, Seq("doc_id"), "left_semi")
          .filter(col("text").contains(needle))
          .select("doc_id")
          .orderBy("doc_id")
      },
      Some(s"""
        SELECT doc_id FROM documents
        WHERE contains(text, '$needle')
        ORDER BY doc_id"""))
  }

  /** SimHash fingerprints — md5-based 60-bit, fully oracle-checked
    * (bit-sum votes and fingerprint assembly replicated in SQL).
    */
  val simhashDocs: GraftQuery = GraftQuery(
    "simhash_docs",
    (s, dir) => Dedup.simhash(Tables(s, dir, "documents"), "doc_id", "text")
      .orderBy("id"),
    Some(s"""
      WITH ${Dedup.oracleSimhashCtes}
      SELECT id, simhash FROM fp ORDER BY id"""))

  /** SimHash near-dup pairs at Hamming distance <= 3 via 4x15-bit band
    * blocking. Pigeonhole (maxDist < nBands) makes the banding LOSSLESS:
    * every qualifying pair shares a full band, so this equi-join +
    * bit_count(xor) verification is exact — the scale path needs no
    * all-pairs compare and no recall caveat. Oracle replays fingerprint
    * build, banding, candidate dedup, and verification.
    */
  private val shBands = 4
  private val shBandBits = 15
  val simhashPairs: GraftQuery = GraftQuery(
    "simhash_hamming_pairs",
    (s, dir) => simhashPairs3(s, dir).orderBy("id_a", "id_b"),
    Some(s"""
      WITH ${Dedup.oracleSimhashCtes},
      ${Dedup.oracleHammingCtes(shBands, shBandBits, 3)}
      SELECT id_a, id_b, dist FROM ham ORDER BY id_a, id_b"""))

  /** The dedup DECISION, end to end: SimHash hamming pairs as edges,
    * connected components, then one canonical survivor per cluster —
    * keep the longest document (n_chars desc, id tiebreak), drop the
    * rest ([[dropFlags]]). Same bounded-window scale shape as
    * `dedup_clusters_lsh` plus one per-cluster row_number — no new
    * shuffle class.
    */
  val dedupDropList: GraftQuery = GraftQuery(
    "dedup_drop_list",
    (s, dir) => dropFlags(members(
      Dedup.connectedComponents(simhashPairs3(s, dir).select("id_a", "id_b")),
      Tables(s, dir, "documents"))),
    Some(s"""
      WITH ${Dedup.oracleSimhashCtes},
      ${Dedup.oracleHammingCtes(shBands, shBandBits, 3)},
      edges AS (SELECT id_a, id_b FROM ham),
      ${Dedup.oracleComponentsCtes},
      $dropFlagsSql"""))

  /** Benchmark-contamination sweep: a FIXED protected eval set (every
    * 50th document among doc_id < 50000 — 1000 docs at sf>=0.1, and
    * crucially NOT growing with the corpus: real eval benchmarks are
    * constant-size while the crawl scales, and Contamination.overlap's
    * broadcast of the bench gram set is only sound under that
    * invariant; the original proportional 2% slice put 1M docs /
    * ~150M gram strings on the broadcast side at sf100 and the
    * common-trigram join fan-out — Σ_gram |bench(gram)|·|corpus(gram)|
    * — went quadratic, spilling past the box's disk, caught by the r12
    * sf100 sweep); flag corpus documents containing >= 5% of a bench
    * document's distinct trigrams (GPT-3 appendix C n-gram
    * decontamination shape).
    */
  val contamination: GraftQuery = GraftQuery(
    "contamination_trigram_bench",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      graft.text.Contamination.overlap(
        d.filter(col("doc_id") % 50 =!= 0),
        d.filter(col("doc_id") % 50 === 0 && col("doc_id") < 50000),
        "doc_id", "text", n = 3, minFrac = 0.05)
        .orderBy("bench_id", "corpus_id")
    },
    Some("""
      WITH t AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      g AS (SELECT doc_id,
                   array_to_string(list_slice(ws, CAST(i AS INTEGER),
                                              CAST(i AS INTEGER) + 2), ' ')
                     AS gram
            FROM t, LATERAL unnest(generate_series(1, len(ws) - 2)) AS u(i)),
      gd AS (SELECT DISTINCT doc_id, gram FROM g),
      bench AS (SELECT * FROM gd WHERE doc_id % 50 = 0 AND doc_id < 50000),
      corpus AS (SELECT * FROM gd WHERE doc_id % 50 != 0),
      bt AS (SELECT doc_id AS bench_id, COUNT(*) AS n_grams
             FROM bench GROUP BY 1),
      ov AS (SELECT b.doc_id AS bench_id, c.doc_id AS corpus_id,
                    COUNT(*) AS shared
             FROM corpus c JOIN bench b USING (gram) GROUP BY 1, 2)
      SELECT bench_id, corpus_id, shared,
             round(shared * 1.0 / n_grams, 6) AS overlap_frac
      FROM ov JOIN bt USING (bench_id)
      WHERE shared * 1.0 / n_grams >= 0.05
      ORDER BY bench_id, corpus_id"""))

  /** Incremental ingest dedup — the daily-shard production shape: the
    * "new" 10% (doc_id % 10 = 0) is deduped AGAINST THE EXISTING CORPUS
    * rather than against itself. Exact duplicates by full-text md5
    * semi-join; near-duplicates by cross-set MinHash LSH
    * (`Dedup.lshCandidatesAcross`, est >= 0.5). One summary row: shard
    * size, exact dups, near-dup docs, union, and the clean remainder
    * that would be admitted to the corpus.
    */
  val incrementalDedup: GraftQuery = GraftQuery(
    "incremental_dedup_shard",
    (s, dir) => incrementalSummary(s, dir, "n_near_dup") { (ns, os) =>
      Dedup.lshCandidatesAcross(ns, os, 4)
        .filter(col("est_jaccard") >= 0.5)
        .select(col("id_a").as("doc_id")).distinct()
    },
    Some(s"""
      WITH ${Dedup.oracleMinhashCtes("")},
      ${Dedup.oracleLshCtes("a.id % 10 = 0 AND b.id % 10 != 0")},
      near AS MATERIALIZED (
        SELECT DISTINCT id_a AS doc_id FROM est WHERE est_jaccard >= 0.5),
      ${incrementalSummarySql("n_near_dup")}"""))

  /** Two-phase decontamination prefilter (graft.sketch.BloomFilter): the
    * protected benchmark trigram set compressed to a <= m-row Bloom
    * bucket set, probed by the corpus's distinct trigrams, candidates
    * then confirmed exactly. One summary row: set sizes, bloom
    * candidates, exact confirmations, false positives, measured fp rate.
    * Bloom has zero false NEGATIVES, so n_confirmed is exactly the
    * corpus-bench gram intersection (BloomFilterSpec pins the property);
    * at scale only bloom survivors reach the expensive exact join.
    */
  private val bloomK = 3
  private val bloomM = 4096
  val bloomPrefilter: GraftQuery = GraftQuery(
    "bloom_contamination_prefilter",
    (s, dir) => {
      val d = Tables(s, dir, "documents")
      val bench = graft.text.Contamination.ngramSet(
          d.filter(col("doc_id") % 50 === 0), "doc_id", "text", 3)
        .select(col("gram")).distinct()
      val corpus = graft.text.Contamination.ngramSet(
          d.filter(col("doc_id") % 50 =!= 0), "doc_id", "text", 3)
        .select(col("gram")).distinct()
      val filter = graft.sketch.BloomFilter.build(bench, "gram", bloomK, bloomM)
      val cand = graft.sketch.BloomFilter.probe(
        corpus, "gram", filter, bloomK, bloomM)
      val confirmed = corpus.join(bench, Seq("gram"))
      cand.agg(count(lit(1)).as("n_candidates"))
        .crossJoin(bench.agg(count(lit(1)).as("n_protected")))
        .crossJoin(corpus.agg(count(lit(1)).as("n_probe")))
        .crossJoin(confirmed.agg(count(lit(1)).as("n_confirmed")))
        .select(col("n_protected"), col("n_probe"), col("n_candidates"),
          col("n_confirmed"),
          (col("n_candidates") - col("n_confirmed")).as("n_false_pos"),
          Q.r6((col("n_candidates") - col("n_confirmed")) * 1.0 /
            greatest(col("n_probe") - col("n_confirmed"), lit(1L)))
            .as("fp_rate"))
    },
    Some(s"""
      WITH t AS MATERIALIZED (
        SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      g AS MATERIALIZED (
        SELECT doc_id,
               array_to_string(list_slice(ws, CAST(i AS INTEGER),
                                          CAST(i AS INTEGER) + 2), ' ')
                 AS gram
        FROM t, LATERAL unnest(generate_series(1, len(ws) - 2)) AS u(i)),
      bench AS MATERIALIZED (
        SELECT DISTINCT gram FROM g WHERE doc_id % 50 = 0),
      corpus AS MATERIALIZED (
        SELECT DISTINCT gram FROM g WHERE doc_id % 50 != 0),
      f AS MATERIALIZED (
        SELECT DISTINCT
               ${Dedup.oracleMd5Bits60("gram || '|' || CAST(i AS VARCHAR)")}
                 % $bloomM AS bucket
        FROM bench CROSS JOIN range(0, $bloomK) s(i)),
      pm AS MATERIALIZED (
        SELECT gram,
               ${Dedup.oracleMd5Bits60("gram || '|' || CAST(i AS VARCHAR)")}
                 % $bloomM AS bucket
        FROM corpus CROSS JOIN range(0, $bloomK) s(i)),
      cand AS MATERIALIZED (
        SELECT gram FROM pm JOIN f USING (bucket)
        GROUP BY gram HAVING COUNT(*) = $bloomK),
      conf AS MATERIALIZED (
        SELECT gram FROM corpus JOIN bench USING (gram))
      SELECT (SELECT COUNT(*) FROM bench) AS n_protected,
             (SELECT COUNT(*) FROM corpus) AS n_probe,
             (SELECT COUNT(*) FROM cand) AS n_candidates,
             (SELECT COUNT(*) FROM conf) AS n_confirmed,
             (SELECT COUNT(*) FROM cand) - (SELECT COUNT(*) FROM conf)
               AS n_false_pos,
             round(((SELECT COUNT(*) FROM cand)
                      - (SELECT COUNT(*) FROM conf)) * 1.0
                   / GREATEST((SELECT COUNT(*) FROM corpus)
                      - (SELECT COUNT(*) FROM conf), 1), 6) AS fp_rate"""))

  /** Span-level exact substring dedup (Lee et al. ACL 2022, ExactSubstr
    * for a fixed window): every 8-token window fingerprinted, windows
    * whose fingerprint occurs in >=2 documents unioned into per-doc
    * coverage intervals. Shuffle is on 60-bit integer fingerprints
    * (md5Hash60 form, r11 — was 32-char md5 strings; 8-byte keys on
    * both heavy exchanges), never text; the interval union is one
    * bounded window per doc — the shape holds at corpus scale. Entire
    * pipeline (tokenize, fingerprint incl. the 60-bit truncation, dup
    * detection, interval union) replays verbatim in the oracle.
    */
  private val spanK = 8

  private def spanDedupRun(
      s: org.apache.spark.sql.SparkSession, dir: String, k: Int) =
    graft.dedup.SpanDedup
      .coverageReport(Tables(s, dir, "documents"), "doc_id", "text", k)
      .withColumnRenamed("id", "doc_id")
      .orderBy("doc_id")

  private def spanDedupSql(spanK: Int): String = s"""
      WITH t AS MATERIALIZED (
        SELECT doc_id, string_split(text, ' ') AS l FROM documents),
      w AS MATERIALIZED (
        SELECT doc_id, CAST(i AS BIGINT) AS pos,
               ${Dedup.oracleMd5Bits60(s"array_to_string(l[CAST(i AS INTEGER):CAST(i AS INTEGER) + ${spanK - 1}], ' ')")} AS fp
        FROM t, LATERAL unnest(generate_series(1, len(l) - ${spanK - 1})) AS u(i)),
      dupfp AS MATERIALIZED (
        SELECT fp, MIN(doc_id) AS keep_id FROM w
        GROUP BY fp HAVING COUNT(DISTINCT doc_id) >= 2),
      d AS (
        SELECT w.doc_id, w.pos, (dupfp.keep_id <> w.doc_id) AS removable
        FROM w JOIN dupfp USING (fp)),
      cov AS (
        SELECT doc_id, pos, removable,
               GREATEST(0, pos + ${spanK - 1}
                 - GREATEST(COALESCE(MAX(pos + ${spanK - 1}) OVER (
                     PARTITION BY doc_id ORDER BY pos
                     ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0),
                   pos - 1)) AS nc
        FROM d),
      agg AS (
        SELECT doc_id, COUNT(*) AS n_dup_spans,
               CAST(SUM(nc) AS BIGINT) AS covered_tokens,
               CAST(SUM(CASE WHEN removable THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_removable_spans
        FROM cov GROUP BY doc_id)
      SELECT agg.doc_id, CAST(len(l) AS BIGINT) AS n_tokens,
             CAST(GREATEST(len(l) - ${spanK - 1}, 0) AS BIGINT) AS n_spans,
             n_dup_spans, covered_tokens,
             round(covered_tokens * 1.0 / len(l), 6) AS dup_frac,
             n_removable_spans
      FROM agg JOIN t ON t.doc_id = agg.doc_id
      ORDER BY agg.doc_id"""

  val spanDedup: GraftQuery = GraftQuery(
    "span_dedup_coverage",
    (s, dir) => spanDedupRun(s, dir, spanK),
    Some(spanDedupSql(spanK)))

  /** The same ExactSubstr pass at the paper's span granularity
    * (VERDICT r14 task 3): Lee et al. cut length-50-token duplicate
    * substrings; k=32 is the longest window the synthetic corpus (10-99
    * tokens/doc) still duplicates across documents at every sf. Window
    * length is now a real parameter of [[graft.dedup.SpanDedup]]'s
    * pipeline — same fingerprint shuffle, same interval union — and
    * SpanDedupSpec pins the containment law between the two gates: a
    * duplicated k=32 window implies duplicated k=8 subwindows, so
    * per-doc k=32 coverage can never exceed k=8 coverage.
    */
  private val spanKLong = 32
  val spanDedupK32: GraftQuery = GraftQuery(
    "span_dedup_coverage_k32",
    (s, dir) => spanDedupRun(s, dir, spanKLong),
    Some(spanDedupSql(spanKLong)))

  override def queries: Seq[GraftQuery] = Seq(
    textStats, bpeStats, langId, fingerprint, exactDedup, dedupKept,
    jaccardAdjacent, jaccardAdjacentSlice, allPairsJaccard,
    dedupThresholdSweep, docCosine,
    fuzzyDedup, leakageMatrix,
    minhashLsh, lshQuality, minhashCalibration, simhashDocs, simhashPairs,
    dedupClusters,
    dedupComponentsBucket, dedupComponentsSlice, dedupComponentsSlice10,
    dedupKeepBest, dedupDropList,
    dedupDropComponents, dedupKeepBestComponents, incrementalDedupComponents,
    dedupDropComponentsSlice, dedupKeepBestComponentsSlice,
    packDocs, packSlice, qualitySample, dedupStream, dedupWatermarkStream,
    trigramSearch,
    contamination, bloomPrefilter,
    incrementalDedup, spanDedup, spanDedupK32)
}
