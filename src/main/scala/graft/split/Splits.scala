package graft.split

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Train/validation splitting (SURVEY §2.8 M6; reference
  * house_predict.py:589-591 `train_test_split(stratify=y, seed=42)`).
  *
  * NumPy-seed parity is impossible (SURVEY §7.4.3), so determinism is
  * internal: a fixed seed gives the same Spark result every run, and the
  * oracle-checked path uses hash-splits (key modulo) which are exactly
  * expressible in SQL.
  */
object Splits {

  /** Deterministic, oracle-expressible k-fold assignment by key modulo.
    * Zero shuffles — a pure projection.
    */
  def hashFold(df: DataFrame, idCol: String, k: Int): DataFrame =
    df.withColumn("fold", pmod(col(idCol), lit(k.toLong)).cast("int"))

  /** Deterministic hash sampling: keep rows whose seeded 60-bit md5 hash
    * of `keyCol` lands in the lowest `pct` of 100 buckets. Pure
    * projection, reproducible across runs AND engines (the hash is
    * DuckDB-expressible), and — unlike `hashFold`'s modulo — immune to
    * id-assignment patterns. The training-corpus downsampling primitive.
    */
  def hashSample(
      df: DataFrame, keyCol: org.apache.spark.sql.Column, pct: Int,
      seed: Int = 0): DataFrame =
    df.filter(
      graft.dedup.Dedup.md5Hash60(keyCol.cast("string"), seed) % 100 < pct)

  /** Weight-proportional deterministic sampling: keep a row with
    * probability `weightCol` (in [0,1], at most 6 decimals — e.g. an
    * r6-rounded quality score). The per-row uniform is the seeded 60-bit
    * md5 hash reduced mod 1e6, so the compare is INTEGER vs INTEGER —
    * reproducible across runs, engines, and partitionings with no float
    * boundary cases. The quality-weighted corpus-downsampling primitive
    * (rejection sampling with P(keep) = quality); pure projection.
    */
  def weightedHashSample(
      df: DataFrame, keyCol: org.apache.spark.sql.Column,
      weightCol: org.apache.spark.sql.Column, seed: Int = 0): DataFrame =
    df.filter(
      graft.dedup.Dedup.md5Hash60(keyCol.cast("string"), seed) % 1000000L <
        round(weightCol * 1000000L).cast("long"))

  /** Stratified split with exact per-class proportions, scale-safe:
    * exactly ceil(frac*n_class) rows per class go to train (split=0),
    * chosen by seeded rand order — but WITHOUT a single global window
    * task per class. Rows are salted into `saltBuckets` rank bands
    * (salt = floor(rand*S), monotone in the rand key), ranked locally
    * within (label, salt), and the exact global rank is recovered by
    * adding each band's cumulative offset (a tiny classes×S aggregate,
    * broadcast back). Max task size is ~n_class/saltBuckets instead of
    * n_class.
    */
  def stratifiedSplit(
      df: DataFrame, labelCol: String, frac: Double, seed: Long,
      saltBuckets: Int = 64): DataFrame = {
    val withR = df
      .withColumn("__r", rand(seed))
      .withColumn("__salt", floor(col("__r") * saltBuckets).cast("int"))
    val bands = withR.groupBy(labelCol, "__salt")
      .agg(count(lit(1)).as("__bn"))
    // cumulative offset of each band within its class: a window over only
    // classes×saltBuckets aggregate rows — never over data rows
    val wCum = Window.partitionBy(labelCol).orderBy("__salt")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wAll = Window.partitionBy(labelCol)
    val offs = bands
      .withColumn("__off", coalesce(sum("__bn").over(wCum), lit(0L)))
      .withColumn("__n", sum("__bn").over(wAll))
      .drop("__bn")
    val wLocal = Window.partitionBy(col(labelCol), col("__salt"))
      .orderBy("__r")
    withR
      .withColumn("__rn", row_number().over(wLocal))
      .join(broadcast(offs), Seq(labelCol, "__salt"))
      .withColumn(
        "split",
        when(col("__off") + col("__rn") <= ceil(col("__n") * frac), 0)
          .otherwise(1))
      .drop("__r", "__salt", "__rn", "__off", "__n")
  }

  /** Deterministic training-shard manifest: each row is assigned a shard
    * by seeded cross-engine hash of its key, and a position within that
    * shard by hash order — i.e. a reproducible GLOBAL SHUFFLE of the
    * corpus (hash order is uncorrelated with ingest order), materialized
    * as (key, shard, pos) without ever sorting the whole dataset in one
    * task. Parallelism = `nShards`: pick shards >= cluster cores at scale
    * (a 100-TB corpus ships thousands of shards, so the per-shard
    * row_number window is exactly the partitioning the writer wants).
    */
  def shardAssign(
      df: DataFrame, idCol: String, nShards: Int, seed: Int = 7): DataFrame = {
    val hv = graft.dedup.Dedup.md5Hash60(col(idCol).cast("string"), seed)
    val w = Window.partitionBy(col("shard")).orderBy(col("__hv"), col(idCol))
    df.withColumn("__hv", hv)
      .withColumn("shard", pmod(col("__hv"), lit(nShards.toLong)))
      .withColumn("pos", row_number().over(w).cast("long"))
      .drop("__hv")
  }

  /** The straightforward one-window-per-class form — the SPEC ORACLE for
    * [[stratifiedSplit]]'s per-class counts. Single task per class; do not
    * register at scale.
    */
  def stratifiedSplitWindowed(
      df: DataFrame, labelCol: String, frac: Double, seed: Long): DataFrame = {
    val w = Window.partitionBy(labelCol).orderBy(rand(seed))
    val counts = Window.partitionBy(labelCol)
    df.withColumn("__rn", row_number().over(w))
      .withColumn("__n", count(lit(1)).over(counts))
      .withColumn(
        "split",
        when(col("__rn") <= ceil(col("__n") * frac), 0).otherwise(1))
      .drop("__rn", "__n")
  }
}
