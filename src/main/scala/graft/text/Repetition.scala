package graft.text

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Gopher-style repetition signals (Rae et al. 2021 §A1.1: "repetitious
  * documents are low quality") for pre-training corpus filtering: the
  * fraction of a document covered by its most frequent unigram and
  * bigram, plus C4-ish word-shape stats (mean word length).
  *
  * Scale shape: one explode + groupBy keyed by (doc, term) — repetition
  * is per-document, so the shuffle key carries the doc id and the job
  * parallelizes over documents with no global state. The bigram array is
  * built with zip_with over adjacent slices (no self-join).
  */
object Repetition {

  /** (doc, term) frequency table -> per-doc top-term coverage ratio and
    * term count, for an exploded term column.
    */
  private def coverage(
      terms: DataFrame, idCol: String, out: String): DataFrame =
    terms
      .groupBy(col(idCol), col("__term"))
      .agg(count(lit(1)).as("__n"))
      .groupBy(col(idCol))
      .agg(
        (max(col("__n")) / sum(col("__n"))).as(out),
        sum(col("__n")).as(s"${out}_terms"))

  /** Adjacent-pair bigram array: zip_with over the two off-by-one slices
    * of the token array (pure expressions — no positional self-join).
    */
  def bigrams(words: Column): Column =
    when(size(words) < 2, array().cast("array<string>"))
      .otherwise(zip_with(
        slice(words, lit(1), size(words) - 1),
        slice(words, lit(2), size(words) - 1),
        (a, b) => concat_ws(" ", a, b)))

  /** Highest frequency of any element in a (string) array, computed as
    * the longest equal-run of the SORTED array — one sort + one fold per
    * row, no explode, no shuffle. The run accumulator carries
    * (previous value, current run, best run).
    */
  def topFreq(arr: Column): Column =
    aggregate(
      array_sort(arr),
      struct(
        lit("").as("prev"), lit(0L).as("run"), lit(0L).as("best")),
      (acc, w) => {
        val run = when(w === acc.getField("prev"),
          acc.getField("run") + 1L).otherwise(1L)
        struct(
          w.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** The same per-document scores as [[scores]] but as a PURE PROJECTION
    * (array expressions only — no explode, no aggregation, no shuffle):
    * the form a streaming quality filter applies stateless in append
    * mode, and the zero-shuffle path for corpora whose rows fit the
    * expression evaluator comfortably.
    */
  def scoreColumns(textCol: Column): Seq[Column] = {
    val words = TextOps.tokens(textCol)
    val bi = bigrams(words)
    Seq(
      size(words).cast("long").as("n_words"),
      (aggregate(words, lit(0L), (a, w) => a + length(w)) /
        size(words)).as("mean_word_len"),
      (topFreq(words) / size(words)).as("top_word_ratio"),
      when(size(bi) === 0, lit(0.0))
        .otherwise(topFreq(bi) / size(bi)).as("top_bigram_ratio"))
  }

  /** STREAMING repetition scoring: because [[scoreColumns]] is a pure
    * projection, the quality filter runs stateless in append mode — no
    * watermark, no state store, per-row cost only. Drains to a memory
    * sink for the gate; a production job would stream straight to the
    * filtered sink.
    */
  def streamingScores(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = graft.sources.StreamRead.table(spark, sfDir, "documents")
    // The file source parallelizes at FILE granularity, so a single-file
    // batch scores every document in one task while the sort+fold
    // projection is the expensive part. Rebalance the micro-batch across
    // cores first: rows are tiny next to the per-row compute, and with a
    // many-file source at scale this degrades to a cheap rebalance of
    // already-parallel splits.
    val scored = docs
      .repartition(spark.sparkContext.defaultParallelism)
      .select(col("doc_id") +: scoreColumns(col("text")): _*)
    graft.streaming.Streams
      .drain(scored, "append", s"$sfDir/documents.parquet")
  }

  /** Per-document repetition scores: word count, mean word length,
    * top-unigram coverage, top-bigram coverage (0.0 for <2 words).
    */
  def scores(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = TextOps.tokens(col(textCol))
    val uni = coverage(
      docs.select(col(idCol), explode(words).as("__term")), idCol, "__topw")
    val bi = coverage(
      docs.select(col(idCol), explode(bigrams(words)).as("__term")),
      idCol, "__topb")
    val lens = docs
      .select(col(idCol), explode(words).as("__term"))
      .groupBy(col(idCol))
      .agg(avg(length(col("__term"))).as("__mwl"))
    uni
      .join(lens, Seq(idCol))
      .join(bi, Seq(idCol), "left") // 0/1-word docs have no bigrams
      .select(
        col(idCol),
        col("__topw_terms").as("n_words"),
        col("__mwl").as("mean_word_len"),
        col("__topw").as("top_word_ratio"),
        coalesce(col("__topb"), lit(0.0)).as("top_bigram_ratio"))
  }
}
