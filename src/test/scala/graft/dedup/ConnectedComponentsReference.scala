package graft.dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The Catalyst form of [[Dedup.connectedComponents]] that the RDD label
  * propagation replaced, kept as the specs' reference: one equi-join plus
  * one min-aggregation per round over DataFrames, lineage truncated by a
  * `localCheckpoint` each round, convergence checked every second round
  * and stopped at `maxIter` rounds. Its labels are exact only on graphs
  * whose components converge within `maxIter` rounds; an edge with a null
  * endpoint adds a `(null, null)` row.
  */
object ConnectedComponentsReference {

  def connectedComponents(edges: DataFrame, maxIter: Int = 40): DataFrame = {
    val sym = edges
      .select(col("id_a").cast("long").as("src"),
        col("id_b").cast("long").as("dst"))
      .unionByName(edges.select(
        col("id_b").cast("long").as("src"),
        col("id_a").cast("long").as("dst")))
      .distinct().localCheckpoint()
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("comp", col("id"))
      .localCheckpoint()
    var changed = 1L
    var i = 0
    while (changed > 0 && i < maxIter) {
      val nbrMin = sym
        .join(labels.select(col("id").as("src"), col("comp")), Seq("src"))
        .groupBy(col("dst").as("id")).agg(min("comp").as("nbr"))
      val next = labels
        .join(nbrMin, Seq("id"), "left")
        .select(
          col("id"),
          least(col("comp"), coalesce(col("nbr"), col("comp"))).as("comp"),
          (coalesce(col("nbr"), col("comp")) < col("comp"))
            .cast("long").as("__chg"))
        .localCheckpoint()
      changed =
        if (i % 2 == 1)
          next.agg(coalesce(sum("__chg"), lit(0L))).head().getLong(0)
        else 1L
      labels.unpersist()
      labels = next.drop("__chg")
      i += 1
    }
    sym.unpersist()
    labels
  }
}
