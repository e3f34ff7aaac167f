package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic corpus scale-up for scale testing: replicates every
  * fact table of an existing sf directory `factor` times into DISJOINT
  * key universes (every key column shifted by `copy * STRIDE`), leaving
  * `region`/`nation` fixed — the same shape TPC-H uses when sf grows
  * (dimension row counts scale, the nation/region vocabulary does not).
  * Per-key cardinalities are preserved exactly (a customer still has
  * the same orders), so join/agg selectivities match the source scale
  * and only the data VOLUME grows.
  *
  * Key disjointness requires source keys < STRIDE, so always scale up
  * FROM THE DRIVER'S sf0.1 (or smaller) base — scaling an
  * already-scaled dir would collide key universes.
  *
  * Two fact tables get a deterministic per-copy perturbation so
  * content-addressed operators see new content instead of `factor`
  * exact clones (which would inflate every dedup cluster by `factor`):
  * documents append a short copy tag (n_chars recomputed), embeddings
  * nudge one coordinate per copy. Copy 0 is byte-identical to the
  * source.
  *
  * Replication is ONE scan per table — a posexplode of a `factor`-slot
  * array — not a `factor`-child union: at factor 1000 (sf0.1 -> sf100,
  * 600M lineitem rows) a union plan re-decompresses the source once
  * per copy and its analysis cost grows with the copy count, while
  * this shape is a single projection whose output volume is the only
  * cost. The source is repartitioned first so the explode parallelizes
  * across the full core count instead of inheriting the source file's
  * partition count.
  *
  * Usage: runMain graft.ScaleUp <srcDir> <dstDir> [factor]
  */
object ScaleUp {
  private val Stride = 10000000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = SparkEntry.session()
    spark.sparkContext.setLogLevel("WARN")

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$dst/$t.parquet")

    // dimensions that do not scale
    write(read("region"), "region")
    write(read("nation"), "nation")

    // one row per (source row, copy): posexplode of a factor-slot array.
    // `__shift` = copy * STRIDE is the per-copy key offset.
    def copies(t: String)(remap: DataFrame => DataFrame): Unit = {
      val base = read(t)
        .repartition(spark.sparkContext.defaultParallelism * 2)
        .select(col("*"),
          posexplode(array_repeat(lit(0), factor)).as(Seq("__copy", "__z")))
        .withColumn("__shift", col("__copy").cast("long") * Stride)
      write(remap(base).drop("__copy", "__z", "__shift"), t)
    }
    def shift(k: Column) = k + col("__shift")

    copies("customer") {
      _.withColumn("c_custkey", shift(col("c_custkey")))
    }
    copies("supplier") {
      _.withColumn("s_suppkey", shift(col("s_suppkey")))
    }
    copies("part") {
      _.withColumn("p_partkey", shift(col("p_partkey")))
    }
    copies("orders") {
      _.withColumn("o_orderkey", shift(col("o_orderkey")))
        .withColumn("o_custkey", shift(col("o_custkey")))
    }
    copies("lineitem") {
      _.withColumn("l_orderkey", shift(col("l_orderkey")))
        .withColumn("l_partkey", shift(col("l_partkey")))
        .withColumn("l_suppkey", shift(col("l_suppkey")))
    }
    // `events` is intentionally absent: the driver has written its `ts`
    // with TIMESTAMP(NANOS) (Spark reads it only via the nanosAsLong
    // legacy flag and cannot write it back) and TIMESTAMP(MICROS)
    // physical types. The companion dev tool `tools/scale_events.py`
    // replicates the file with pyarrow, preserving whichever physical
    // type the source has — EventOps normalizes both on read.
    copies("documents") { d =>
      val txt = when(col("__copy") === 0, col("text"))
        .otherwise(concat(col("text"), lit(" v"), col("__copy")))
      d.withColumn("doc_id", shift(col("doc_id")))
        .withColumn("text", txt)
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    copies("embeddings") { d =>
      val emb = when(col("__copy") === 0, col("embedding"))
        .otherwise(transform(col("embedding"), (x, i) =>
          when(i === col("__copy") % 64,
            x + (lit(0.001f) * (col("__copy") + 1)).cast("float"))
            .otherwise(x)))
      d.withColumn("vec_id", shift(col("vec_id")))
        .withColumn("embedding", emb)
    }

    println(s"scaled $src -> $dst x$factor")
    spark.stop()
  }
}
