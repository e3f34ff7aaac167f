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
  * routing of EVERY row through every tree, and the majority vote all
  * replay verbatim in the oracle SQL below.
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
  // DuckDB replay: per-bag depth-2 training (the tree family's proven
  // level-wise CTE shape, suffixed per bag), then every base row routed
  // through each bag's winner tables and majority-voted.
  // ---------------------------------------------------------------------

  private def valByFord(row: String, w: String): String =
    s"(CASE $w.ford WHEN 0 THEN $row.f0 WHEN 1 THEN $row.f1" +
      s" WHEN 2 THEN $row.f2 ELSE $row.f3 END)"

  private def levelSql(l: Int, b: Int): String = s"""
      sr${l}_$b AS MATERIALIZED (SELECT node FROM a${l}_$b GROUP BY node
               HAVING COUNT(*) >= ${params.minSamplesSplit}
                  AND SUM(y) > 0 AND COUNT(*) - SUM(y) > 0),
      aj${l}_$b AS MATERIALIZED (
        SELECT a.* FROM a${l}_$b a JOIN sr${l}_$b s ON a.node = s.node),
      m${l}_$b AS MATERIALIZED (
        SELECT node, 0 AS ford, f0 AS v, y FROM aj${l}_$b
        UNION ALL SELECT node, 1, f1, y FROM aj${l}_$b
        UNION ALL SELECT node, 2, f2, y FROM aj${l}_$b
        UNION ALL SELECT node, 3, f3, y FROM aj${l}_$b),
      g${l}_$b AS MATERIALIZED (SELECT node, ford, v, COUNT(*) AS n,
                     SUM(y) AS c1, COUNT(*) - SUM(y) AS c0
              FROM m${l}_$b GROUP BY node, ford, v),
      c${l}_$b AS MATERIALIZED (SELECT node, ford, v,
                     SUM(n)  OVER wc AS ln,  SUM(n)  OVER wa AS tn,
                     SUM(c0) OVER wc AS lc0, SUM(c0) OVER wa AS tc0,
                     SUM(c1) OVER wc AS lc1, SUM(c1) OVER wa AS tc1,
                     MIN(v)  OVER wa AS vmin
              FROM g${l}_$b
              WINDOW wc AS (PARTITION BY node, ford ORDER BY v
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                     wa AS (PARTITION BY node, ford)),
      s${l}_$b AS MATERIALIZED (SELECT node, ford, v,
                     ${TreeQueries.gainSql} AS gain
              FROM c${l}_$b
              WHERE v > vmin AND ln >= ${params.minSamplesLeaf}
                AND tn - ln >= ${params.minSamplesLeaf}),
      b${l}_$b AS MATERIALIZED (SELECT node, ford, v AS thr
              FROM s${l}_$b WHERE gain > 0
              QUALIFY row_number() OVER (PARTITION BY node
                ORDER BY gain DESC, ford ASC, v ASC) = 1),
      a${l + 1}_$b AS MATERIALIZED (
        SELECT a.f0, a.f1, a.f2, a.f3, a.y,
               CASE WHEN w.node IS NULL THEN a.node
                    WHEN ${valByFord("a", "w")} <= w.thr THEN 2*a.node+1
                    ELSE 2*a.node+2 END AS node
        FROM a${l}_$b a LEFT JOIN b${l}_$b w ON a.node = w.node)"""

  private def bagSql(b: Int): String = s"""
      a0_$b AS MATERIALIZED (
        SELECT f0, f1, f2, f3, y, 0 AS node FROM base WHERE h <> $b),
      ${(0 until params.maxDepth).map(levelSql(_, b)).mkString(",\n")},
      leaf_$b AS MATERIALIZED (SELECT node,
               CASE WHEN SUM(y) > COUNT(*) - SUM(y) THEN 1 ELSE 0 END AS pred
              FROM a${params.maxDepth}_$b GROUP BY node)"""

  /** Route every base row through bag b's winner tables level by level;
    * `src` is the upstream row CTE (base for bag 0, q{b-1} after).
    */
  private def routeSql(b: Int, src: String): String = {
    val levels = (0 until params.maxDepth).map { l =>
      val from = if (l == 0) src else s"p${l}_$b"
      val prev = if (l == 0) "0" else s"p.n${l}_$b"
      s"""
      p${l + 1}_$b AS MATERIALIZED (
        SELECT p.*, CASE WHEN w.node IS NULL THEN $prev
                         WHEN ${valByFord("p", "w")} <= w.thr
                           THEN 2*($prev)+1
                         ELSE 2*($prev)+2 END AS n${l + 1}_$b
        FROM $from p LEFT JOIN b${l}_$b w ON w.node = $prev)"""
    }.mkString(",\n")
    s"""$levels,
      q$b AS MATERIALIZED (
        SELECT p.*, l.pred AS pred_$b
        FROM p${params.maxDepth}_$b p
        JOIN leaf_$b l ON l.node = p.n${params.maxDepth}_$b)"""
  }

  private lazy val oracleSql: String = {
    val bags = (0 until nBags).map(bagSql).mkString(",\n")
    val routes = (0 until nBags)
      .map(b => routeSql(b, if (b == 0) "base" else s"q${b - 1}"))
      .mkString(",\n")
    val voteSum = (0 until nBags).map(b => s"pred_$b").mkString(" + ")
    s"""
      WITH base AS MATERIALIZED (
        SELECT CAST(l_quantity AS DOUBLE) AS f0,
               CAST(l_discount AS DOUBLE) AS f1,
               CAST(l_tax AS DOUBLE) AS f2,
               CAST(l_extendedprice AS DOUBLE) AS f3,
               CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y,
               CAST(concat('0x', substring(md5(
                 CAST(l_orderkey AS VARCHAR) || '|$hashSeed'), 1, 15))
                 AS BIGINT) % $nBags AS h
        FROM lineitem),
      $bags,
      $routes
      SELECT CAST(y AS BIGINT) AS label,
             CAST($voteSum AS BIGINT) AS votes,
             CAST(CASE WHEN $voteSum >= ${nBags / 2 + 1} THEN 1 ELSE 0 END
               AS BIGINT) AS pred,
             COUNT(*) AS n
      FROM q${nBags - 1}
      GROUP BY 1, 2, 3 ORDER BY label, votes"""
  }

  override def queries: Seq[GraftQuery] = Seq(baggedVote)
}
