package graft.queries

import graft.{GraftQuery, QueryPack, Tables}
import graft.tree.{DecisionTree, TreeParams}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic bagged-tree ensemble, FULLY oracle-checked — the
  * random-forest shape (bootstrap-ish bags -> one tree per bag ->
  * majority vote; reference M10's concept, Sol_2.ipynb cell 8) made
  * hash-replayable: MLlib's RF is seeded-RNG bagging that no SQL engine
  * can replay, so the seeded-MLlib gate (`rf_train_eval`) stays
  * rows-only by design — THIS query is its oracle-green twin.
  *
  * Determinism swap: bags are fold-complements of a seeded cross-engine
  * 60-bit md5 hash of the order key (bag b = rows with h != b, each
  * ~2/3 of the data, overlapping like bootstrap resamples), and each
  * bag's tree is the exact level-wise trainer already DuckDB-replayed
  * by the tree family (`tree_train_confusion`). Per-bag training,
  * routing of EVERY row through every tree (`DecisionTree.oracleTrainCtes`
  * and `oracleRouteCtes`), and the majority vote all replay in the
  * oracle SQL below.
  *
  * Scale shape: identical to the single-tree trainer times nBags —
  * per-level grouped gain tables (bounded by node*feature*distinct-
  * value), no row ever leaves the cluster; inference is nBags compiled
  * when-chains + an integer sum, codegen'd at scan speed.
  */
object EnsembleQueries extends QueryPack {

  private val nBags = 3
  private val hashSeed = 7
  private val params = TreeParams(
    maxDepth = 3, minSamplesSplit = 50, minSamplesLeaf = 20,
    criterion = "entropy")
  private val feats =
    Seq("l_quantity", "l_discount", "l_tax", "l_extendedprice")

  private def bagModels(d: DataFrame): Seq[graft.tree.TreeModel] =
    (0 until nBags).map { b =>
      DecisionTree.fit(d.filter(col("h") =!= b), feats, "label", params)
    }

  private def withBagHash(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem").select(
      (feats.map(col) :+
        when(col("l_returnflag") === "R", 1L).otherwise(0L).as("label") :+
        (graft.dedup.Dedup.md5Hash60(col("l_orderkey").cast("string"),
          hashSeed).cast("long") % nBags).as("h")): _*)

  val baggedVote: GraftQuery = GraftQuery(
    "rf_bagged_vote_confusion",
    (s, dir) => {
      val d = withBagHash(s, dir)
      val models = bagModels(d)
      // `votes` (how many trees said 1) is reported alongside the
      // majority `pred`: the vote histogram is sensitive to EVERY bag
      // tree's leaf labels, so a training divergence in any single bag
      // breaks the hash even where the majority outcome would mask it
      val vote = models.map(_.predictExpr).reduce(_ + _)
      d.select(col("label"), vote.as("votes"),
          when(vote >= (nBags / 2 + 1), 1L).otherwise(0L).as("pred"))
        .groupBy("label", "votes", "pred").agg(count(lit(1)).as("n"))
        .orderBy("label", "votes")
    },
    Some(oracleSql))

  // ---------------------------------------------------------------------
  // DuckDB replay: per-bag training by the shared
  // `DecisionTree.oracleTrainCtes` chain (suffix = bag), then every base
  // row routed through each bag's winner tables and majority-voted.
  // ---------------------------------------------------------------------

  private lazy val oracleSql: String = {
    val bags = (0 until nBags).map { b =>
      DecisionTree.oracleTrainCtes(s"(SELECT * FROM base WHERE h <> $b)", s"$b", params)
    }
    // bag b routes the rows bag b-1 routed, so the last route holds
    // every bag's leaf
    val routes = (0 until nBags).map { b =>
      DecisionTree.oracleRouteCtes(if (b == 0) "base" else s"route_${b - 1}", s"$b", params)
    }
    val voteSum = (0 until nBags).map(b => s"l$b.pred").mkString(" + ")
    val leafJoins = (0 until nBags)
      .map(b => s"JOIN leaf_$b l$b ON l$b.node = r.node_$b").mkString("\n      ")
    s"""
      WITH base AS MATERIALIZED (
        SELECT CAST(l_quantity AS DOUBLE) AS f0,
               CAST(l_discount AS DOUBLE) AS f1,
               CAST(l_tax AS DOUBLE) AS f2,
               CAST(l_extendedprice AS DOUBLE) AS f3,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
               1 AS w,
               ${graft.dedup.Dedup.oracleMd5Hash60("CAST(l_orderkey AS VARCHAR)", hashSeed)}
                 % $nBags AS h
        FROM lineitem),
      ${(bags ++ routes).mkString(",\n      ")}
      SELECT CAST(r.y AS BIGINT) AS label,
             CAST($voteSum AS BIGINT) AS votes,
             CAST(CASE WHEN $voteSum >= ${nBags / 2 + 1} THEN 1 ELSE 0 END
               AS BIGINT) AS pred,
             COUNT(*) AS n
      FROM route_${nBags - 1} r
      $leafJoins
      GROUP BY 1, 2, 3 ORDER BY label, votes"""
  }

  override def queries: Seq[GraftQuery] = Seq(baggedVote)
}
