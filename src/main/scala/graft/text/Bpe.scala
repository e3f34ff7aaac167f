package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding MERGE TRAINING (Sennrich et al. 2016) —
  * the tokenizer-fit step of an LLM data pipeline, expressed in the
  * classic two-tier shape that makes BPE tractable at 100 TB:
  *
  *   1. ONE corpus-scale job builds the weighted word-frequency table
  *      (`explode` + `groupBy` — map-side combinable, shuffle keyed on
  *      the word). By Heaps' law the distinct-word frame is orders of
  *      magnitude smaller than the corpus, and it is the ONLY thing the
  *      merge loop ever touches again.
  *   2. Each merge round runs entirely on that persisted vocab frame:
  *      adjacent-pair counts weighted by word frequency (an array
  *      transform + one small groupBy — no window, no corpus rescan),
  *      a 1-row argmax collect (model-sized, same bounded-driver-state
  *      pattern as the tree trainer's frontier stats), and a literal
  *      `replace` of the winning pair in every word's token string.
  *
  * Token sequences are carried as single strings with sentinel spaces
  * (`" s c a n "`), so applying a merge is one non-overlapping
  * left-to-right `replace(" l r ", " lr ")` — exactly BPE's
  * leftmost-first greedy application (on `" a a a "` the pair `(a,a)`
  * merges once into `" aa a "`, because the second occurrence overlaps
  * the consumed separator). Both Spark's and DuckDB's `replace` scan
  * left-to-right without re-examining replaced output, so the oracle
  * replays the semantics exactly.
  *
  * Ties in the pair argmax break to the lexicographically smallest
  * (left, right) — counts are exact Longs, so every round is
  * deterministic and the merge table is hash-replayable.
  *
  * Reference scope: the reference's notebooks tokenize by whitespace
  * only (`data_analysis.ipynb` cell 3 value_counts over split text);
  * BPE training is net-new surface per the build brief's
  * training-data-pipeline mandate (token counting "BPE-ish" tier).
  */
object Bpe {

  /** Weighted word-frequency vocab: (word, w, toks) where toks is the
    * sentinel-spaced character sequence `" s c a n "`.
    */
  def vocab(docs: DataFrame, textCol: Column): DataFrame =
    docs
      .select(explode(split(textCol, " ")).as("word"))
      .groupBy("word")
      .agg(count(lit(1)).as("w"))
      .withColumn(
        "toks", concat(lit(" "), regexp_replace(col("word"), "(.)", "$1 ")))

  /** Weighted adjacent-pair counts over a vocab frame: (l, r, n). */
  def pairCounts(vocab: DataFrame): DataFrame =
    vocab
      .withColumn("arr", split(trim(col("toks")), " "))
      .filter(size(col("arr")) >= 2)
      .select(
        col("w"),
        explode(expr(
          "transform(sequence(0, size(arr) - 2)," +
            " i -> struct(arr[i] AS l, arr[i + 1] AS r))")).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("w").as("n"))

  /** `rounds` greedy merge rounds over `docs.textCol`. Returns the merge
    * table (round, lhs, rhs, merged, n) — the trained tokenizer model.
    * Stops early (shorter output) if the vocab runs out of pairs.
    */
  def train(
      spark: SparkSession,
      docs: DataFrame,
      textCol: Column,
      rounds: Int): DataFrame =
    trainWithVocab(spark, docs, textCol, rounds)._1

  /** [[train]] plus the post-merge vocab frame (word, w, toks) — the
    * fit-then-transform surface: `toks` carries each word's final token
    * sequence, so ENCODING the corpus is a join on the Heaps-bounded
    * word frame, never a per-document merge scan.
    */
  def trainWithVocab(
      spark: SparkSession,
      docs: DataFrame,
      textCol: Column,
      rounds: Int): (DataFrame, DataFrame) = {
    val (m, v, _) = trainFull(spark, docs, textCol, rounds, Nil)
    (m, v)
  }

  /** The full trainer: merge table + post-merge vocab + the
    * tokens-per-word CURVE at the requested checkpoint rounds (round 0 =
    * the character baseline). Each checkpoint is one small aggregate on
    * the Heaps-bounded vocab frame — `Σ w·|toks|` and `Σ w` — collected
    * driver-side (two scalars, the bounded-driver-state pattern). The
    * lineage is truncated with `localCheckpoint` every
    * [[CheckpointEvery]] merges so a deep run (64+ rounds) doesn't
    * re-evaluate an O(rounds)-deep `replace` chain per round.
    */
  private val CheckpointEvery = 16

  def trainFull(
      spark: SparkSession,
      docs: DataFrame,
      textCol: Column,
      rounds: Int,
      checkpoints: Seq[Int]): (DataFrame, DataFrame, DataFrame) = {
    import spark.implicits._
    var v = vocab(docs, textCol).persist()
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, Long)]
    val curve = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Long, Long)]
    val snapped = scala.collection.mutable.Set.empty[Int]
    def snap(round: Int): Unit =
      if (checkpoints.contains(round) && snapped.add(round)) {
        val r = v.agg(
          sum(col("w") * size(split(trim(col("toks")), " "))).cast("long"),
          sum(col("w")).cast("long")).head()
        curve += ((round.toLong, r.getLong(0), r.getLong(1)))
      }
    snap(0)
    var exhausted = false
    for (k <- 1 to rounds if !exhausted) {
      val top = pairCounts(v)
        .orderBy(desc("n"), col("l"), col("r"))
        .limit(1)
        .collect()
      if (top.isEmpty) exhausted = true
      else {
        val (l, r, n) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((k, l, r, l + r, n))
        v = v.withColumn(
          "toks",
          call_function("replace",
            col("toks"), lit(s" $l $r "), lit(s" $l$r ")))
        if (k % CheckpointEvery == 0) v = v.localCheckpoint()
      }
      if (!exhausted) snap(k)
    }
    // early exhaustion: remaining checkpoints read the FIXED POINT —
    // the same value vocab$k carries in the oracle's LEFT-JOIN chain
    checkpoints.filter(c => c >= 0 && c <= rounds).sorted.foreach(snap)
    (merges.toSeq.toDF("round", "lhs", "rhs", "merged", "n"), v,
      curve.toSeq.toDF("round", "bpe_tokens", "ws_tokens"))
  }

  /** DuckDB twin of [[train]]: `rounds` unrolled CTE blocks, each one
    * pair-count + argmax + replace, same sentinel-space representation
    * (same fixed-depth-unroll pattern as
    * [[graft.dedup.Dedup.oracleComponentsCtes]]).
    */
  def trainSql(rounds: Int): String = {
    val union = (1 to rounds)
      .map(k => s"SELECT round, l AS lhs, r AS rhs, merged, n FROM best$k")
      .mkString("\nUNION ALL\n")
    s"""WITH ${vocabChain(rounds)}
       |$union
       |ORDER BY round""".stripMargin
  }

  /** The shared CTE prefix of the BPE oracles: vocab0 (the weighted
    * word-frequency table) plus one pair-count + argmax + replace block
    * per round, ending at `vocab$rounds` — the post-merge vocab.
    *
    * Exhaustion-robust (ADVICE r14): when the vocab runs out of pairs
    * before `rounds` merges, best$k is EMPTY — the LEFT JOIN ON TRUE +
    * COALESCE keeps vocab$k = vocab${k - 1} (the fixed point), matching
    * Spark's early stop in [[trainWithVocab]], instead of a CROSS JOIN
    * silently emptying every later vocab and zeroing [[encodeSql]].
    */
  private def vocabChain(rounds: Int): String = {
    val blocks = (1 to rounds).map { k =>
      s"""pairs$k AS MATERIALIZED (
         |  SELECT arr[i] AS l, arr[i + 1] AS r, w
         |  FROM (SELECT w, arr, unnest(range(1, len(arr))) AS i
         |        FROM (SELECT w, string_split(trim(toks), ' ') AS arr
         |              FROM vocab${k - 1}))),
         |best$k AS MATERIALIZED (
         |  SELECT $k AS round, l, r, l || r AS merged,
         |         CAST(SUM(w) AS BIGINT) AS n
         |  FROM pairs$k GROUP BY l, r
         |  ORDER BY n DESC, l, r LIMIT 1),
         |vocab$k AS MATERIALIZED (
         |  SELECT v.word, v.w,
         |         COALESCE(replace(v.toks, ' ' || b.l || ' ' || b.r || ' ',
         |                          ' ' || b.merged || ' '), v.toks) AS toks
         |  FROM vocab${k - 1} v LEFT JOIN best$k b ON TRUE)""".stripMargin
    }
    s"""vocab0 AS MATERIALIZED (
       |  SELECT word, CAST(COUNT(*) AS BIGINT) AS w,
       |         ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS toks
       |  FROM (SELECT unnest(string_split(text, ' ')) AS word
       |        FROM documents)
       |  GROUP BY word),
       |${blocks.mkString(",\n")}""".stripMargin
  }

  /** DuckDB twin of the tokens-per-word curve: the same vocab chain,
    * with `Σ w·|toks| / Σ w` read off the materialized vocab at each
    * checkpoint round (round 0 = the character baseline).
    */
  def curveSql(rounds: Int, checkpoints: Seq[Int]): String = {
    val union = checkpoints.filter(c => c >= 0 && c <= rounds).sorted
      .map(c => s"""SELECT CAST($c AS BIGINT) AS round,
         |    CAST(SUM(w * len(string_split(trim(toks), ' '))) AS BIGINT)
         |      AS bpe_tokens,
         |    CAST(SUM(w) AS BIGINT) AS ws_tokens FROM vocab$c""".stripMargin)
      .mkString("\nUNION ALL\n")
    s"""WITH ${vocabChain(rounds)},
       |cp AS ($union)
       |SELECT round, bpe_tokens, ws_tokens,
       |       round(bpe_tokens * 1.0 / ws_tokens, 6) AS toks_per_word
       |FROM cp ORDER BY round""".stripMargin
  }

  /** DuckDB twin of the encode pass: the same vocab chain, then token
    * counts per word joined back onto the exploded corpus — per-language
    * whitespace-vs-BPE token inventory.
    */
  def encodeSql(rounds: Int): String =
    s"""WITH ${vocabChain(rounds)},
       |enc AS MATERIALIZED (
       |  SELECT word,
       |         CAST(len(string_split(trim(toks), ' ')) AS BIGINT) AS n_toks
       |  FROM vocab$rounds),
       |x AS (
       |  SELECT lang, unnest(string_split(text, ' ')) AS word
       |  FROM documents),
       |j AS (
       |  SELECT x.lang,
       |         CAST(COUNT(*) AS BIGINT) AS ws_tokens,
       |         CAST(SUM(e.n_toks) AS BIGINT) AS bpe_tokens
       |  FROM x JOIN enc e ON x.word = e.word
       |  GROUP BY x.lang),
       |dd AS (
       |  SELECT lang, COUNT(*) AS n_docs,
       |         CAST(SUM(length(text)) AS BIGINT) AS n_chars
       |  FROM documents GROUP BY lang)
       |SELECT lang, n_docs, n_chars, ws_tokens, bpe_tokens,
       |       round(bpe_tokens * 1.0 / ws_tokens, 6) AS toks_per_word
       |FROM dd JOIN j USING (lang) ORDER BY lang""".stripMargin
}
