package graft.sources

import org.apache.spark.sql.DataFrame

/** Bucketed-table helpers: pre-shuffle once at write time so repeated
  * joins/aggregations on the bucket key run shuffle-free — the co-located
  * join strategy for 100-TB fact-fact joins (both sides bucketed on the
  * key into the same bucket count -> SortMergeJoin without Exchange).
  */
object Bucketing {

  /** Writes `df` as the managed `table`, hash-partitioned, bucketed and
    * sorted by `key` (one file per bucket), replacing it. A directory an
    * earlier session left for a table this catalog does not know would
    * make the overwrite refuse: it goes first.
    */
  def writeBucketed(
      df: DataFrame, table: String, key: String, buckets: Int): Unit = {
    val spark = df.sparkSession
    if (!spark.catalog.tableExists(table))
      Sources.deleteRecursively(
        s"${spark.conf.get("spark.sql.warehouse.dir")}/$table",
        spark.sessionState.newHadoopConf())
    df.repartition(buckets, df(key)).write.mode("overwrite")
      .bucketBy(buckets, key).sortBy(key)
      .format("parquet")
      .saveAsTable(table)
  }

  /** True if the executed plan contains no shuffle (Exchange) node. */
  def isShuffleFree(df: DataFrame): Boolean =
    !df.queryExecution.executedPlan.toString.contains("Exchange")
}
