package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{GraftQuery, QueryPack, Tables}
import graft.graph.{Bfs, KCore, LabelProp, PageRank, Triangles}

/** Graph analytics over the nation trade graph. PageRank, k-core, BFS and
  * label propagation run on [[graft.graph.VertexLoop]] to the fixpoint, capped
  * at their oracles' unrolls; triangles and Adamic–Adar are relational plans.
  * The connected-components dedup clusters, on the same loop, are in `DocQueries`.
  */
object GraphQueries extends QueryPack {

  /** The nation trade graph every query here reads: one directed edge
    * customer-nation -> supplier-nation per trading pair observed in
    * lineitem x orders, self-loops dropped, weighted by its order-line
    * count `w`. The big fact-fact join shuffles once on orderkey with
    * both dimension sides broadcast; the result is at most 25·24 rows on
    * full-lineitem lineage, so it is materialized once (r17: the
    * consumers read it several times — `tot` and both sides of an
    * undirected union — and each read would re-run the join).
    */
  private def tradePairs(s: SparkSession, dir: String): DataFrame = {
    val li = Tables(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
    val ord = Tables(s, dir, "orders").select("o_orderkey", "o_custkey")
    val cust = Tables(s, dir, "customer").select("c_custkey", "c_nationkey")
    val supp = Tables(s, dir, "supplier").select("s_suppkey", "s_nationkey")
    li.join(ord, li("l_orderkey") === ord("o_orderkey"))
      .join(broadcast(cust), ord("o_custkey") === cust("c_custkey"))
      .join(broadcast(supp), li("l_suppkey") === supp("s_suppkey"))
      .filter(col("c_nationkey") =!= col("s_nationkey"))
      .groupBy(col("c_nationkey").as("src"), col("s_nationkey").as("dst"))
      .agg(count(lit(1)).as("w"))
      .localCheckpoint()
  }

  /** Oracle of [[tradePairs]]: `pw(src, dst, w)`. */
  private def tradePairsSql: String = """pw AS MATERIALIZED (
        SELECT c.c_nationkey AS src, s.s_nationkey AS dst, COUNT(*) AS w
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        WHERE c.c_nationkey <> s.s_nationkey
        GROUP BY c.c_nationkey, s.s_nationkey)"""

  /** The above-average trade graph: the (src, dst) pairs whose weight is
    * strictly above the mean — a scale-invariant cut, `w * n_pairs >
    * total_w` in exact integers.
    */
  private def strongTrade(s: SparkSession, dir: String): DataFrame = {
    val pairW = tradePairs(s, dir)
    val tot = pairW.agg(sum("w").as("tw"), count(lit(1)).as("np"))
    pairW.crossJoin(broadcast(tot))
      .filter(col("w") * col("np") > col("tw"))
      .select("src", "dst")
  }

  /** Oracle of [[strongTrade]]: `pw` and `raw(src, dst)`. */
  private def strongTradeSql: String = s"""$tradePairsSql,
      tot AS (SELECT SUM(w) AS tw, COUNT(*) AS np FROM pw),
      raw AS (SELECT src, dst FROM pw, tot WHERE w * np > tw)"""

  /** A per-nation graph result keyed by nation id `id`, as
    * (nation name `nation`, `value`).
    */
  private def named(
      s: SparkSession, dir: String, byId: DataFrame,
      value: String): DataFrame = {
    val nation = Tables(s, dir, "nation").select("n_nationkey", "n_name")
    byId.join(broadcast(nation), byId("id") === nation("n_nationkey"))
      .select(col("n_name").as("nation"), col(value))
  }

  /** PageRank over the nation-level trade graph ([[tradePairs]];
    * `pageRankMicro` drops the weights and any duplicate). Integer
    * micro-unit arithmetic makes the 5 iterations hash-replayable in
    * DuckDB.
    */
  val nationPageRank: GraftQuery = GraftQuery(
    "pagerank_nation_trade",
    (s, dir) => named(s, dir,
        PageRank.pageRankMicro(tradePairs(s, dir), "src", "dst", iters = 5),
        "rank_micro")
      .orderBy(desc("rank_micro"), col("nation")),
    Some(s"""
      WITH $tradePairsSql,
      e AS (SELECT src, dst, 1 AS w FROM pw),
      ${PageRank.oracleCtesWeighted(iters = 5)}
      SELECT nn.n_name AS nation, r5.r AS rank_micro
      FROM r5 JOIN nation nn ON nn.n_nationkey = r5.id
      ORDER BY rank_micro DESC, nation"""))

  /** Triangle counts over the above-average trade graph: directed pair
    * weights (order-line counts) sparsify to edges strictly above the
    * mean weight — a scale-invariant cut (w * n_pairs > total_w in exact
    * integers) — then undirected degree-ordered triangle counting per
    * nation. The orientation step is what keeps the wedge join bounded
    * on hub-heavy graphs at scale.
    */
  val nationTriangles: GraftQuery = GraftQuery(
    "triangles_nation_trade",
    (s, dir) => named(s, dir,
        Triangles.perVertexTriangles(strongTrade(s, dir), "src", "dst"),
        "n_triangles")
      .orderBy("nation"),
    Some(s"""
      WITH $strongTradeSql,
      ${Triangles.oracleCtes}
      SELECT nn.n_name AS nation, pvt.n_triangles
      FROM pvt JOIN nation nn ON nn.n_nationkey = pvt.id
      ORDER BY nation"""))

  /** Weighted PageRank over the same trade graph, edge weight = order
    * line count: rank mass splits proportionally to trade volume. Same
    * integer micro-unit replay, with `(r * w) div W_src` contributions.
    */
  val nationPageRankWeighted: GraftQuery = GraftQuery(
    "pagerank_nation_weighted",
    (s, dir) => named(s, dir,
        PageRank.pageRankMicroWeighted(
          tradePairs(s, dir), "src", "dst", "w", iters = 5),
        "rank_micro")
      .orderBy(desc("rank_micro"), col("nation")),
    Some(s"""
      WITH $tradePairsSql,
      e AS (SELECT src, dst, w FROM pw),
      ${PageRank.oracleCtesWeighted(iters = 5)}
      SELECT nn.n_name AS nation, r5.r AS rank_micro
      FROM r5 JOIN nation nn ON nn.n_nationkey = r5.id
      ORDER BY rank_micro DESC, nation"""))

  /** 8-core of the strong trade graph: the dense trading club that
    * survives iterative peeling of low-degree nations. Same sparsified
    * edge set as the triangle gate; at most 12 peels, the oracle's
    * unroll (KCoreSpec pins that the harness graphs converge inside it).
    */
  val nationKCore: GraftQuery = GraftQuery(
    "kcore_nation_trade",
    (s, dir) => named(s, dir,
        KCore.kCoreVertices(strongTrade(s, dir), "src", "dst", k = 8), "deg")
      .orderBy("nation"),
    Some(s"""
      WITH $strongTradeSql,
      ${KCore.oracleCtes(k = 8)}
      SELECT nn.n_name AS nation, core.deg
      FROM core JOIN nation nn ON nn.n_nationkey = core.id
      ORDER BY nation"""))

  /** BFS hop distances over the strong trade graph (undirected) from
    * its minimum nation key — reachability + eccentricity in one gate;
    * at most 6 relaxation rounds, the oracle's unroll.
    */
  val nationBfs: GraftQuery = GraftQuery(
    "bfs_hops_nation_trade",
    (s, dir) => named(s, dir,
        Bfs.hopsFromMin(strongTrade(s, dir), "src", "dst"), "hop")
      .orderBy("hop", "nation"),
    Some(s"""
      WITH $strongTradeSql,
      e AS MATERIALIZED (SELECT src, dst FROM raw),
      ${Bfs.oracleCtes()}
      SELECT nn.n_name AS nation, b.hop
      FROM b${Bfs.DefaultRounds} b
      JOIN nation nn ON nn.n_nationkey = b.id
      ORDER BY b.hop, nation"""))

  /** Weighted label-propagation communities over the full trade graph
    * ([[LabelProp.propagate]], 4 synchronous rounds): each nation joins
    * the community carrying the largest total trade volume among its
    * neighbours, ties toward the smallest label. Complements the
    * component/PageRank views: CC answers "connected at all?", LPA
    * answers "which dense trading bloc?". All-integer, so at most 4
    * rounds replay verbatim as the oracle's unrolled DuckDB CTEs.
    */
  val nationCommunities: GraftQuery = GraftQuery(
    "label_prop_communities",
    (s, dir) => named(s, dir,
        LabelProp.propagate(tradePairs(s, dir), "src", "dst", "w", iters = 4),
        "community")
      .orderBy("nation"),
    Some(s"""
      WITH $tradePairsSql,
      sym AS MATERIALIZED (
        SELECT s, d, SUM(w) AS w FROM (
          SELECT src AS s, dst AS d, w FROM pw
          UNION ALL SELECT dst, src, w FROM pw)
        GROUP BY s, d),
      ${LabelProp.oracleCtes(iters = 4)}
      SELECT nn.n_name AS nation, l4.lab AS community
      FROM l4 JOIN nation nn ON nn.n_nationkey = l4.id
      ORDER BY nation"""))

  /** Adamic–Adar link prediction over the above-average trade graph
    * (same sparsification as `triangles_nation_trade`): for every
    * NON-adjacent nation pair, score = Σ over common neighbors z of
    * 1/ln(deg z) — the classic who-should-trade-next ranking
    * (Adamic & Adar 2003). Wedge join on the shared neighbor + an
    * anti-join against the edge set (never all-pairs); per-neighbor
    * terms are emitted in integer micro-units from integer degrees, so
    * the cross-neighbor sum and the top-10 ordering are exact
    * cross-engine. Common neighbors have degree ≥ 2 by construction, so
    * ln(deg) is never 0.
    */
  val nationAdamicAdar: GraftQuery = GraftQuery(
    "adamic_adar_trade_links",
    (s, dir) => {
      val strong = strongTrade(s, dir)
      val und = strong.select(col("src").as("a"), col("dst").as("b"))
        .unionByName(strong.select(col("dst").as("a"), col("src").as("b")))
        .distinct()
      val deg = und.groupBy("a").agg(count(lit(1)).as("deg"))
      val adjZ = und.select(col("a").as("z"), col("b").as("x"))
      val wedges = adjZ
        .join(adjZ.select(col("z"), col("x").as("y")), Seq("z"))
        .filter(col("x") < col("y"))
      val nonEdges = wedges.join(
        und.select(col("a").as("x"), col("b").as("y")),
        Seq("x", "y"), "left_anti")
      val top = nonEdges
        .join(deg.withColumnRenamed("a", "z"), Seq("z"))
        .groupBy("x", "y")
        .agg(
          count(lit(1)).as("n_common"),
          sum(floor(lit(1e6) / log(col("deg").cast("double")) + lit(0.5))
            .cast("long")).as("aa_micro"))
        .orderBy(desc("aa_micro"), col("x"), col("y"))
        .limit(10)
      val nation = Tables(s, dir, "nation").select("n_nationkey", "n_name")
      top
        .join(broadcast(nation), top("x") === nation("n_nationkey"))
        .withColumnRenamed("n_name", "nation_a").drop("n_nationkey")
        .join(broadcast(nation), top("y") === nation("n_nationkey"))
        .withColumnRenamed("n_name", "nation_b").drop("n_nationkey")
        .select(col("nation_a"), col("nation_b"), col("n_common"),
          col("aa_micro"))
        .orderBy(desc("aa_micro"), col("nation_a"), col("nation_b"))
    },
    Some(s"""
      WITH $strongTradeSql,
      und AS (
        SELECT DISTINCT a, b FROM (
          SELECT src AS a, dst AS b FROM raw
          UNION ALL SELECT dst AS a, src AS b FROM raw)),
      deg AS (SELECT a, COUNT(*) AS deg FROM und GROUP BY a),
      wed AS (
        SELECT u1.a AS z, u1.b AS x, u2.b AS y
        FROM und u1 JOIN und u2 ON u1.a = u2.a AND u1.b < u2.b),
      ne AS (
        SELECT w.z, w.x, w.y FROM wed w
        WHERE NOT EXISTS (SELECT 1 FROM und e
                          WHERE e.a = w.x AND e.b = w.y)),
      sc AS (
        SELECT x, y, COUNT(*) AS n_common,
               CAST(SUM(CAST(floor(1000000.0 / ln(CAST(d.deg AS DOUBLE))
                 + 0.5) AS BIGINT)) AS BIGINT) AS aa_micro
        FROM ne JOIN deg d ON d.a = ne.z GROUP BY x, y),
      top AS (SELECT * FROM sc ORDER BY aa_micro DESC, x, y LIMIT 10)
      SELECT na.n_name AS nation_a, nb.n_name AS nation_b,
             n_common, aa_micro
      FROM top
      JOIN nation na ON na.n_nationkey = top.x
      JOIN nation nb ON nb.n_nationkey = top.y
      ORDER BY aa_micro DESC, nation_a, nation_b"""))

  override def queries: Seq[GraftQuery] =
    Seq(nationPageRank, nationPageRankWeighted, nationTriangles, nationKCore,
      nationBfs, nationCommunities, nationAdamicAdar)
}
