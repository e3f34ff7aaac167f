package graft.queries

import graft.{GraftQuery, Q, QueryPack, Tables}
import graft.sim.Similarity
import org.apache.spark.sql.functions._

/** Embedding similarity-search queries. Brute-force cosine is
  * oracle-checked (unnest/subscript SQL); both LSH families — sign-bit
  * axis hyperplanes AND seeded random hyperplanes (coefficients replayed
  * into the SQL as literals) — hash-check end to end, and the IVF
  * quantizer hash-checks too via the deterministic Lloyd fit (seeded
  * MLlib k-means remains the production alternative).
  */
object SimQueries extends QueryPack {

  private val cosineTopSql = """
      WITH q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      qv AS (SELECT generate_subscripts(qe, 1) AS pos,
                    CAST(unnest(qe) AS DOUBLE) AS v FROM q),
      dv AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                    CAST(unnest(embedding) AS DOUBLE) AS v
             FROM embeddings WHERE vec_id <> 0),
      agg AS (SELECT dv.vec_id, SUM(dv.v * qv.v) AS dot,
                     SUM(dv.v * dv.v) AS nd
              FROM dv JOIN qv USING (pos) GROUP BY dv.vec_id),
      nq AS (SELECT SUM(v * v) AS nq FROM qv),
      top AS (SELECT vec_id, round(dot / (sqrt(nd) * sqrt(nq)), 6) AS cos
              FROM agg, nq
              ORDER BY cos DESC, vec_id LIMIT 10)"""

  val cosineTopK: GraftQuery = GraftQuery(
    "cosine_topk_vec0",
    (s, dir) => Similarity.cosineTopK(
      Tables(s, dir, "embeddings"), "vec_id", "embedding", 0L, 10),
    Some(s"$cosineTopSql SELECT vec_id, cos FROM top"))

  /** kNN classification: majority label among the exact top-10. */
  val knnVote: GraftQuery = GraftQuery(
    "knn_label_vote_vec0",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      Similarity.cosineTopK(emb, "vec_id", "embedding", 0L, 10)
        .join(emb.select("vec_id", "label"), Seq("vec_id"))
        .groupBy("label").agg(count(lit(1)).as("n"))
        .orderBy(desc("n"), col("label"))
        .limit(1)
    },
    Some(s"""$cosineTopSql
      SELECT label, COUNT(*) AS n
      FROM top JOIN embeddings USING (vec_id)
      GROUP BY label ORDER BY n DESC, label LIMIT 1"""))

  /** Embedding-cosine near-dup pairs, 100-TB shape: banded sign-bit LSH
    * blocking + exact cosine rerank — NO all-pairs crossJoin. Sign-bit
    * (axis-hyperplane) buckets are deterministic and SQL-expressible, so
    * the oracle replicates the ENTIRE pruned pipeline (blocking, candidate
    * dedup, rerank) — a full hash check on the scale path itself. The
    * O(n²) brute-force baseline (`Similarity.nearDupPairs`) is spec-only:
    * SimilaritySpec proves this query's output is a subset of it with
    * identical cosines.
    */
  private val ndBands = 8
  private val ndPlanes = 4
  private val bandBucketSql = (0 until ndBands).map { b =>
    val terms = (0 until ndPlanes).map(j =>
      s"CASE WHEN embedding[${b * ndPlanes + j + 1}] > 0 THEN ${1L << j} ELSE 0 END")
      .mkString(" + ")
    s"SELECT vec_id, $b AS band, CAST($terms AS BIGINT) AS bucket FROM embeddings"
  }.mkString(" UNION ALL ")

  val nearDup: GraftQuery = GraftQuery(
    "embedding_near_dup_pairs",
    (s, dir) => Similarity.nearDupPairsSignLsh(
      Tables(s, dir, "embeddings"), "vec_id", "embedding", 0.4,
      nBands = ndBands, planesPerBand = ndPlanes),
    Some(s"""
      WITH bk AS ($bandBucketSql),
      cand AS (SELECT DISTINCT a.vec_id AS ia, b2.vec_id AS ib
               FROM bk a JOIN bk b2
                 ON a.band = b2.band AND a.bucket = b2.bucket
                    AND a.vec_id < b2.vec_id),
      v AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings),
      n AS (SELECT vec_id, SUM(x * x) AS nr FROM v GROUP BY vec_id),
      d AS (SELECT ia, ib, SUM(va.x * vb.x) AS dot
            FROM cand JOIN v va ON va.vec_id = ia
                      JOIN v vb ON vb.vec_id = ib AND va.pos = vb.pos
            GROUP BY ia, ib),
      c AS (SELECT ia AS id_a, ib AS id_b,
                   round(dot / (sqrt(na.nr) * sqrt(nb.nr)), 6) AS cos
            FROM d JOIN n na ON na.vec_id = ia JOIN n nb ON nb.vec_id = ib)
      SELECT id_a, id_b, cos FROM c WHERE cos >= 0.4
      ORDER BY id_a, id_b"""))

  /** SemDeDup gate: the keep-list after dropping every vector with a
    * lower-id near-duplicate among its sign-LSH candidates — the
    * embedding-space twin of the MinHash drop-list. Oracle replays
    * blocking, rerank, and the min-id-wins anti-join.
    */
  val semanticDedup: GraftQuery = GraftQuery(
    "semantic_dedup_keep",
    (s, dir) => Similarity.semanticDedupKeep(
        Tables(s, dir, "embeddings"), "vec_id", "embedding", 0.4,
        nBands = ndBands, planesPerBand = ndPlanes)
      .select("vec_id", "label")
      .orderBy("vec_id"),
    Some(s"""
      WITH bk AS ($bandBucketSql),
      cand AS (SELECT DISTINCT a.vec_id AS ia, b2.vec_id AS ib
               FROM bk a JOIN bk b2
                 ON a.band = b2.band AND a.bucket = b2.bucket
                    AND a.vec_id < b2.vec_id),
      v AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings),
      n AS (SELECT vec_id, SUM(x * x) AS nr FROM v GROUP BY vec_id),
      d AS (SELECT ia, ib, SUM(va.x * vb.x) AS dot
            FROM cand JOIN v va ON va.vec_id = ia
                      JOIN v vb ON vb.vec_id = ib AND va.pos = vb.pos
            GROUP BY ia, ib),
      dropped AS (SELECT DISTINCT ib AS vec_id
                  FROM d JOIN n na ON na.vec_id = ia
                         JOIN n nb ON nb.vec_id = ib
                  WHERE round(dot / (sqrt(na.nr) * sqrt(nb.nr)), 6) >= 0.4)
      SELECT e.vec_id, e.label
      FROM embeddings e ANTI JOIN dropped USING (vec_id)
      ORDER BY e.vec_id"""))

  // --------------------------------------------------------------------
  // Seeded random-hyperplane LSH, fully oracle-checked: the hyperplanes
  // are generated driver-side from the seed, so the SAME coefficients are
  // embedded in the DuckDB SQL as DOUBLE[] literals (Double.toString
  // round-trips exactly) and the bucket computation is replayed verbatim.
  // Both engines take the dot product as a sequential left-to-right
  // double accumulation over identical operands (codegen'd DotProduct in
  // Spark, list_sum over the zipped list in DuckDB), so the sign — and
  // hence every bucket id — is bit-identical.
  // --------------------------------------------------------------------
  private def planeLit(p: Seq[Double]): String =
    p.map(java.lang.Double.toString).mkString("[", ", ", "]::DOUBLE[]")
  private def planeDotSql(p: Seq[Double]): String =
    s"list_sum(list_transform(list_zip(embedding, ${planeLit(p)}), " +
      "p -> CAST(p[1] AS DOUBLE) * p[2]))"
  private def hyperBucketSql(planes: Seq[Seq[Double]]): String =
    planes.zipWithIndex.map { case (p, j) =>
      s"(CASE WHEN ${planeDotSql(p)} > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("\n                 + ")

  /** Rotation-invariant near-dup variant: seeded random hyperplanes, same
    * banded blocking + exact-rerank shape as `embedding_near_dup_pairs` —
    * hash-checked end to end via literal-coefficient replay (above).
    */
  private val ndLshBands = 8
  private val ndLshPlanesPerBand = 4
  private val ndLshPlanes =
    Similarity.hyperplanes(ndLshBands * ndLshPlanesPerBand, dim = 64, seed = 42)
  private val ndLshBucketSql = (0 until ndLshBands).map { b =>
    val bucket = hyperBucketSql(
      ndLshPlanes.slice(b * ndLshPlanesPerBand, (b + 1) * ndLshPlanesPerBand))
    s"SELECT vec_id, $b AS band, CAST($bucket AS BIGINT) AS bucket FROM embeddings"
  }.mkString(" UNION ALL ")

  val nearDupLsh: GraftQuery = GraftQuery(
    "near_dup_lsh_pruned",
    (s, dir) => Similarity.nearDupPairsLsh(
      Tables(s, dir, "embeddings"), "vec_id", "embedding", 0.4,
      nBands = ndLshBands, planesPerBand = ndLshPlanesPerBand, dim = 64,
      seed = 42),
    Some(s"""
      WITH bk AS MATERIALIZED ($ndLshBucketSql),
      cand AS (SELECT DISTINCT a.vec_id AS ia, b2.vec_id AS ib
               FROM bk a JOIN bk b2
                 ON a.band = b2.band AND a.bucket = b2.bucket
                    AND a.vec_id < b2.vec_id),
      v AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings),
      n AS (SELECT vec_id, SUM(x * x) AS nr FROM v GROUP BY vec_id),
      d AS (SELECT ia, ib, SUM(va.x * vb.x) AS dot
            FROM cand JOIN v va ON va.vec_id = ia
                      JOIN v vb ON vb.vec_id = ib AND va.pos = vb.pos
            GROUP BY ia, ib),
      c AS (SELECT ia AS id_a, ib AS id_b,
                   round(dot / (sqrt(na.nr) * sqrt(nb.nr)), 6) AS cos
            FROM d JOIN n na ON na.vec_id = ia JOIN n nb ON nb.vec_id = ib)
      SELECT id_a, id_b, cos FROM c WHERE cos >= 0.4
      ORDER BY id_a, id_b"""))

  /** CORPUS-SCALED near-dup variant (VERDICT r13 task 2): the fixed
    * 4-plane/16-bucket parameterization of the family above is
    * small-sf-shaped — at 2M vectors expected bucket occupancy is 125k
    * and the candidate join goes quadratic (measured sf100 bound class).
    * Here planes-per-band GROWS with the corpus:
    * p = clamp(bitlen(ceil(n/32) - 1), 4, 20) — the smallest p with
    * 32 * 2^p >= n — so expected occupancy stays ~32 while per-row cost
    * grows only linearly in p. The plane POOL is a fixed seeded set of
    * nBands x maxP vectors (band b uses the first p planes of its pool
    * slice), so the oracle replays the exact same buckets from static
    * DOUBLE[] literals with p derived from COUNT(*) in SQL — the
    * integer bit-length form on both sides, no float-log2 boundary.
    * The corpus-count action is ONE driver-side scalar (the same
    * statistics lookup any adaptive parameterization needs); candidates
    * are exact-cosine reranked as in the whole family. Recall floor
    * spec-pinned in SimilaritySpec (the lockstep-update guard).
    */
  private val scBands = 4
  private val scMinP = 4
  private val scMaxP = 20
  private val scTarget = 32L
  private val scPool =
    Similarity.hyperplanes(scBands * scMaxP, dim = 64, seed = 43)
  private def scBucketSql(where: String) = (0 until scBands).map { b =>
    val terms = (0 until scMaxP).map { j =>
      val dot = planeDotSql(scPool(b * scMaxP + j))
      s"(CASE WHEN $j < pp.p AND $dot > 0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("\n                 + ")
    s"SELECT vec_id, $b AS band, CAST($terms AS BIGINT) AS bucket " +
      s"FROM embeddings, pp$where"
  }.mkString(" UNION ALL ")

  private def scNearDupSql(where: String): String = s"""
      WITH pp AS (
        SELECT LEAST(GREATEST(
                 CASE WHEN q <= 1 THEN 0
                      ELSE length(printf('%b', q - 1)) END, $scMinP),
               $scMaxP) AS p
        FROM (SELECT (COUNT(*) + ${scTarget - 1}) // $scTarget AS q
              FROM embeddings$where)),
      bk AS MATERIALIZED (${scBucketSql(where)}),
      cand AS (SELECT DISTINCT a.vec_id AS ia, b2.vec_id AS ib
               FROM bk a JOIN bk b2
                 ON a.band = b2.band AND a.bucket = b2.bucket
                    AND a.vec_id < b2.vec_id),
      v AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings$where),
      n AS (SELECT vec_id, SUM(x * x) AS nr FROM v GROUP BY vec_id),
      d AS (SELECT ia, ib, SUM(va.x * vb.x) AS dot
            FROM cand JOIN v va ON va.vec_id = ia
                      JOIN v vb ON vb.vec_id = ib AND va.pos = vb.pos
            GROUP BY ia, ib),
      c AS (SELECT ia AS id_a, ib AS id_b,
                   round(dot / (sqrt(na.nr) * sqrt(nb.nr)), 6) AS cos
            FROM d JOIN n na ON na.vec_id = ia JOIN n nb ON nb.vec_id = ib)
      SELECT id_a, id_b, cos FROM c WHERE cos >= 0.4
      ORDER BY id_a, id_b"""

  /** The scaled near-dup operator on any embedding subset: p from the
    * SUBSET's count (induced semantics, mirrored by the oracle's
    * COUNT(*) over the same filter), buckets from the static pool.
    */
  private def scNearDupRun(
      emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val p = Similarity.scaledPlaneCount(emb.count(), scTarget, scMinP, scMaxP)
    val buckets = (0 until scBands).map { b =>
      Similarity.lshBucket(
        col("embedding"), scPool.slice(b * scMaxP, b * scMaxP + p))
    }
    Similarity.nearDupFromBands(emb, "vec_id", "embedding", 0.4, buckets)
  }

  val nearDupScaled: GraftQuery = GraftQuery(
    "embedding_near_dup_scaled",
    (s, dir) => scNearDupRun(Tables(s, dir, "embeddings")),
    Some(scNearDupSql("")))

  /** 1% induced-subgraph slice of the scaled near-dup for sf100 VALUE
    * evidence: the full-corpus replay is a measured DuckDB disk bound
    * (487.4 s, `r14_oracle.out`) because the OUTPUT itself is ~200M
    * pairs — this corpus replicates every vector ~100x and all those
    * copies pass the exact cos >= 0.4 rerank, so the pair mass is
    * quadratic in duplicate count by the operator's own contract (the
    * Spark side completes; the parameterization fix removed only the
    * accidental bucket-occupancy quadratic). The slice keeps 20k of the
    * 2M sf100 vectors; p derives from the SLICED count in both engines,
    * so the whole adaptive pipeline — count, plane selection, banding,
    * rerank — replays value-level at sf100 data characteristics.
    */
  val nearDupScaledSlice: GraftQuery = GraftQuery(
    "embedding_near_dup_scaled_slice",
    (s, dir) => scNearDupRun(
      Tables(s, dir, "embeddings").filter(col("vec_id") % 100 === 7)),
    Some(scNearDupSql(" WHERE vec_id % 100 = 7")))

  /** SemDeDup DECISION over the corpus-scaled buckets — the linear-output
    * twin of `semantic_dedup_keep` the way `dedup_drop_components` twins
    * `dedup_drop_list`: drop every vector with a LOWER-id near-dup among
    * its scaled-LSH candidates, keep the rest. The candidate/rerank work
    * is the scaled family's (bucket occupancy ~32 at any corpus); the
    * OUTPUT is the kept-vector list — linear in the corpus, unlike the
    * pair queries whose result itself is quadratic in duplicate mass.
    * This is the production shape: a pipeline ships the keep-list, not
    * the pairs.
    */
  private def scSemanticKeepRun(
      emb: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val drop = scNearDupRun(emb).select(col("id_b").as("vec_id")).distinct()
    emb.join(drop, Seq("vec_id"), "left_anti")
      .select("vec_id", "label")
      .orderBy("vec_id")
  }

  private def scSemanticKeepSql(where: String): String = {
    // the scaled near-dup CTE chain, with the final pair select swapped
    // for the min-id-wins drop + anti-join
    val base = scNearDupSql(where)
    val cut = base.lastIndexOf("SELECT id_a, id_b, cos FROM c")
    // base ends "...)\n      SELECT id_a, ..." — splice a further CTE in
    base.substring(0, cut).trim.stripSuffix(")") + s"""),
      dropped AS (
        SELECT DISTINCT id_b AS vec_id FROM c WHERE cos >= 0.4)
      SELECT e.vec_id, e.label
      FROM (SELECT vec_id, label FROM embeddings$where) e
      ANTI JOIN dropped USING (vec_id)
      ORDER BY e.vec_id"""
  }

  val semanticDedupScaled: GraftQuery = GraftQuery(
    "semantic_dedup_scaled",
    (s, dir) => scSemanticKeepRun(Tables(s, dir, "embeddings")),
    Some(scSemanticKeepSql("")))

  /** 1% induced-subgraph slice of the scaled SemDeDup decision — the
    * sf100 value gate (the full oracle pays the same 200M-candidate
    * rerank as the pair query's measured disk bound).
    */
  val semanticDedupScaledSlice: GraftQuery = GraftQuery(
    "semantic_dedup_scaled_slice",
    (s, dir) => scSemanticKeepRun(
      Tables(s, dir, "embeddings").filter(col("vec_id") % 100 === 7)),
    Some(scSemanticKeepSql(" WHERE vec_id % 100 = 7")))

  /** LSH-bucketed ANN — the 100-TB path: each query scores one bucket.
    * Seeded hyperplanes replayed in the oracle as literal coefficients.
    */
  // Single source of truth for the seeded-hyperplane family's plane
  // count: the Scala annTopK calls and the oracle's replayed literal
  // coefficients both derive from it, so the two sides cannot drift
  // (ADVICE r12: the literal 4 was duplicated at the two call sites).
  private val annLshPlaneCount = 4
  private val annLshPlanes =
    Similarity.hyperplanes(annLshPlaneCount, dim = 64, seed = 42)

  val annTopK: GraftQuery = GraftQuery(
    "ann_lsh_topk_vec0",
    (s, dir) => Similarity.annTopK(
      Tables(s, dir, "embeddings"), "vec_id", "embedding", 0L, 10,
      nPlanes = annLshPlaneCount),
    Some(s"""
      WITH bk AS MATERIALIZED (
        SELECT vec_id,
               CAST(${hyperBucketSql(annLshPlanes)} AS BIGINT) AS bucket
        FROM embeddings),
      qb AS (SELECT bucket FROM bk WHERE vec_id = 0),
      cand AS (SELECT bk.vec_id FROM bk JOIN qb USING (bucket)
               WHERE bk.vec_id <> 0),
      q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      qv AS (SELECT generate_subscripts(qe, 1) AS pos,
                    CAST(unnest(qe) AS DOUBLE) AS v FROM q),
      dv AS (SELECT e.vec_id, generate_subscripts(e.embedding, 1) AS pos,
                    CAST(unnest(e.embedding) AS DOUBLE) AS v
             FROM embeddings e JOIN cand USING (vec_id)),
      agg AS (SELECT dv.vec_id, SUM(dv.v * qv.v) AS dot,
                     SUM(dv.v * dv.v) AS nd
              FROM dv JOIN qv USING (pos) GROUP BY dv.vec_id),
      nq AS (SELECT SUM(v * v) AS nq FROM qv)
      SELECT vec_id, round(dot / (sqrt(nd) * sqrt(nq)), 6) AS cos
      FROM agg, nq ORDER BY cos DESC, vec_id LIMIT 10"""))

  /** Same bucketed-ANN shape with deterministic sign-bit buckets — the
    * whole pruned pipeline (bucketing + exact rerank + top-k) hash-checks
    * against DuckDB, complementing the seeded-hyperplane variant above.
    */
  private val annSignPlanes = 4
  private val annSignBucketSql = (0 until annSignPlanes).map(j =>
    s"CASE WHEN embedding[${j + 1}] > 0 THEN ${1L << j} ELSE 0 END")
    .mkString(" + ")

  val annTopKSign: GraftQuery = GraftQuery(
    "ann_sign_topk_vec0",
    (s, dir) => Similarity.annTopKSign(
      Tables(s, dir, "embeddings"), "vec_id", "embedding", 0L, 10,
      nPlanes = annSignPlanes),
    Some(s"""
      WITH bk AS (SELECT vec_id,
                         CAST($annSignBucketSql AS BIGINT) AS bucket
                  FROM embeddings),
      qb AS (SELECT bucket FROM bk WHERE vec_id = 0),
      cand AS (SELECT bk.vec_id FROM bk JOIN qb USING (bucket)
               WHERE bk.vec_id <> 0),
      q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      qv AS (SELECT generate_subscripts(qe, 1) AS pos,
                    CAST(unnest(qe) AS DOUBLE) AS v FROM q),
      dv AS (SELECT e.vec_id, generate_subscripts(e.embedding, 1) AS pos,
                    CAST(unnest(e.embedding) AS DOUBLE) AS v
             FROM embeddings e JOIN cand USING (vec_id)),
      agg AS (SELECT dv.vec_id, SUM(dv.v * qv.v) AS dot,
                     SUM(dv.v * dv.v) AS nd
              FROM dv JOIN qv USING (pos) GROUP BY dv.vec_id),
      nq AS (SELECT SUM(v * v) AS nq FROM qv)
      SELECT vec_id, round(dot / (sqrt(nd) * sqrt(nq)), 6) AS cos
      FROM agg, nq ORDER BY cos DESC, vec_id LIMIT 10"""))

  /** Per-label embedding centroids in long form (label, pos, mean, n):
    * the vector-aggregation primitive behind class prototypes and
    * IVF/k-means seeding. posexplode + one groupBy — a plain aggregation
    * that scales like any other; long form keeps the oracle compare on
    * scalar columns instead of array cells.
    */
  val centroids: GraftQuery = GraftQuery(
    "embedding_centroid_per_label",
    (s, dir) => Tables(s, dir, "embeddings")
      .select(col("label"), posexplode(col("embedding")).as(Seq("p0", "x")))
      .select(col("label"), (col("p0") + 1).cast("long").as("pos"),
        col("x").cast("double").as("x"))
      .groupBy("label", "pos")
      .agg(Q.r6(sum("x") / count(lit(1))).as("mean"),
        count(lit(1)).as("n"))
      .orderBy("label", "pos"),
    Some("""
      SELECT label, CAST(pos AS BIGINT) AS pos,
             round(SUM(x) / COUNT(*), 6) AS mean, COUNT(*) AS n
      FROM (SELECT label, generate_subscripts(embedding, 1) AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM embeddings)
      GROUP BY label, pos ORDER BY label, pos"""))

  /** Johnson-Lindenstrauss random projection 64 -> 16 dims: seeded
    * Gaussian matrix (replayed into the oracle as literal coefficients),
    * projected norm scaled by 1/k so E[proj_norm2] = orig_norm2. The
    * report pins the distortion per vector — the JL contract a
    * dimensionality-reduced ANN index relies on. Pure projection
    * (16 codegen'd dot products per row), zero shuffle.
    */
  private val rpK = 16
  private val rpPlanes = Similarity.hyperplanes(rpK, dim = 64, seed = 7)
  val randomProjection: GraftQuery = GraftQuery(
    "embedding_random_projection",
    (s, dir) => {
      val dots = rpPlanes.map(p =>
        Similarity.dotD(col("embedding"), typedLit(p)))
      val projN2 = dots.map(d => d * d).reduce(_ + _) / rpK
      val origN2 = Similarity.dotD(col("embedding"), col("embedding"))
      Tables(s, dir, "embeddings").select(
        col("vec_id"),
        Q.r6(origN2).as("orig_norm2"),
        Q.r6(projN2).as("proj_norm2"),
        Q.r6(projN2 / origN2).as("distortion"))
        .orderBy("vec_id")
    },
    Some(s"""
      WITH p AS (
        SELECT vec_id,
               list_sum(list_transform(embedding,
                 x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))) AS orig_norm2,
               (${rpPlanes.map(p => s"(${planeDotSql(p)}) * (${planeDotSql(p)})")
                  .mkString("\n                + ")}) / $rpK AS proj_norm2
        FROM embeddings)
      SELECT vec_id, round(orig_norm2, 6) AS orig_norm2,
             round(proj_norm2, 6) AS proj_norm2,
             round(proj_norm2 / orig_norm2, 6) AS distortion
      FROM p ORDER BY vec_id"""))

  /** Nearest-centroid assignment (the k-means E-step against the fixed
    * per-label centroids above): every vector scored against all 10
    * centroids by sequential-fold squared distance (bit-identical
    * accumulation in both engines, so the argmin ordering replays
    * exactly), summarized as a true-label x assigned confusion. The
    * centroid side broadcasts; the corpus is never shuffled on data —
    * the scale shape of prototype classification / cluster refinement.
    */
  val assignCentroid: GraftQuery = GraftQuery(
    "embedding_assign_centroid",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val cent = Similarity.centroidsByLabel(emb, "embedding", "label")
      Similarity.assignToCentroids(emb, "vec_id", "embedding", cent)
        .join(emb.select("vec_id", "label"), Seq("vec_id"))
        .groupBy(col("label").cast("long").as("label"),
          col("assigned").cast("long").as("assigned"))
        .agg(count(lit(1)).as("n"))
        .orderBy("label", "assigned")
    },
    Some("""
      WITH m AS (
        SELECT label AS clabel, pos, round(SUM(x) / COUNT(*), 6) AS mean
        FROM (SELECT label, generate_subscripts(embedding, 1) AS pos,
                     CAST(unnest(embedding) AS DOUBLE) AS x
              FROM embeddings)
        GROUP BY clabel, pos),
      c AS (SELECT clabel, list(mean ORDER BY pos) AS centroid
            FROM m GROUP BY clabel),
      d AS (SELECT e.vec_id, e.label, c.clabel,
                   list_sum(list_transform(list_zip(e.embedding, c.centroid),
                     p -> (CAST(p[1] AS DOUBLE) - p[2])
                        * (CAST(p[1] AS DOUBLE) - p[2]))) AS dist2
            FROM embeddings e CROSS JOIN c),
      a AS (SELECT vec_id, label, clabel,
                   row_number() OVER (PARTITION BY vec_id
                                      ORDER BY dist2, clabel) AS rk
            FROM d)
      SELECT CAST(label AS BIGINT) AS label,
             CAST(clabel AS BIGINT) AS assigned, COUNT(*) AS n
      FROM a WHERE rk = 1
      GROUP BY label, clabel ORDER BY label, assigned"""))

  /** IVF ANN: coarse quantizer + 2-of-8 lists probed, exact cosine
    * rerank inside the probed lists. Parity mode uses the deterministic
    * Lloyd fit ([[Similarity.ivfFitLloyd]]: seed centroids = vec_id <
    * 8, three E/M rounds, r6'd means), so the ENTIRE index build —
    * seeding, three assignment rounds, re-means, probe selection,
    * rerank — replays verbatim in DuckDB below (the last formerly
    * rows-only non-MLlib query). MLlib's seeded k-means `ivfFit`
    * remains the library's production quantizer.
    */
  private val ivfIters = 3
  private def ivfAssignSql(t: Int, tbl: String = "embeddings"): String = s"""
      d$t AS (SELECT e.vec_id, c.clabel,
             list_sum(list_transform(list_zip(e.embedding, c.centroid),
               p -> (CAST(p[1] AS DOUBLE) - p[2])
                  * (CAST(p[1] AS DOUBLE) - p[2]))) AS dist2
            FROM $tbl e CROSS JOIN c${t - 1} c),
      a$t AS (SELECT vec_id, clabel AS list
            FROM (SELECT vec_id, clabel,
                         row_number() OVER (PARTITION BY vec_id
                                            ORDER BY dist2, clabel) AS rk
                  FROM d$t) WHERE rk = 1),
      m$t AS (SELECT a.list, u.pos, round(SUM(u.x) / COUNT(*), 6) AS mean
            FROM a$t a
            JOIN (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                         CAST(unnest(embedding) AS DOUBLE) AS x
                  FROM $tbl) u USING (vec_id)
            GROUP BY a.list, u.pos),
      c$t AS (SELECT list AS clabel, list(mean ORDER BY pos) AS centroid
            FROM m$t GROUP BY list)"""

  // the deterministic Lloyd fit is shared by ivf_ann_topk_vec0 and the
  // recall report through the session's registry (graft.ChainGuard)
  private def lloydIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): Similarity.IvfIndex =
    graft.ChainGuard.memo(s, s"ivf_lloyd $dir") {
      Similarity.ivfFitLloyd(Tables(s, dir, "embeddings"), "vec_id",
        "embedding", nLists = 8, iters = ivfIters)
    }

  val ivfTopK: GraftQuery = GraftQuery(
    "ivf_ann_topk_vec0",
    (s, dir) => Similarity.ivfTopK(lloydIndex(s, dir), 0L, 10, nProbe = 2),
    Some(s"""
      WITH c0 AS (
        SELECT CAST(vec_id AS INTEGER) AS clabel,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
        FROM embeddings WHERE vec_id < 8),
      ${(1 to ivfIters).map(t => ivfAssignSql(t)).mkString(",")},
      q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      pd AS (SELECT c.clabel,
               list_sum(list_transform(list_zip(c.centroid, q.qe),
                 p -> (p[1] - CAST(p[2] AS DOUBLE))
                    * (p[1] - CAST(p[2] AS DOUBLE)))) AS dist2
             FROM c$ivfIters c CROSS JOIN q),
      probe AS (SELECT clabel FROM pd ORDER BY dist2, clabel LIMIT 2),
      mem AS (SELECT a.vec_id FROM a$ivfIters a
              JOIN probe p ON a.list = p.clabel
              WHERE a.vec_id <> 0),
      qv AS (SELECT generate_subscripts(qe, 1) AS pos,
                    CAST(unnest(qe) AS DOUBLE) AS v FROM q),
      dv AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                    CAST(unnest(embedding) AS DOUBLE) AS v
             FROM embeddings WHERE vec_id IN (SELECT vec_id FROM mem)),
      agg AS (SELECT dv.vec_id, SUM(dv.v * qv.v) AS dot,
                     SUM(dv.v * dv.v) AS nd
              FROM dv JOIN qv USING (pos) GROUP BY dv.vec_id),
      nq AS (SELECT SUM(v * v) AS nq FROM qv)
      SELECT vec_id, round(dot / (sqrt(nd) * sqrt(nq)), 6) AS cos
      FROM agg, nq ORDER BY cos DESC, vec_id LIMIT 10"""))

  // ---- SemDeDup, the paper's cluster-based shape (VERDICT r14 task 2)

  // Corpus-scaled cluster count (VERDICT r15 task 1): k = ceil(n/1024)
  // clamped to [8, 2^20] keeps expected cluster size ~1024 at any
  // corpus, so the within-cluster pair mass is ~512n — linear — instead
  // of the fixed-8-list quadratic that cut the r15 sf100 run at 118
  // min. The floor of 8 makes every small-sf fit (n <= 8192) identical
  // to the historical 8-list parity fit, so sf0.001/0.01 hashes are
  // bit-unchanged; only at scale does k grow (sf100's 2M vectors ->
  // k = 1954, the paper's thousands-of-clusters regime). The oracle
  // derives k from COUNT(*) with the same integer arithmetic (`kk` CTE
  // in [[kmeansDropChainSql]]), so the whole adaptive fit — count,
  // list-count selection, seeding, E/M rounds — replays verbatim.
  private val kmTarget = 1024L
  private val kmMinK = 8
  private val kmMaxK = 1 << 20

  // shared like lloydIndex; delegates to it when the scaled k equals
  // the ANN family's fixed 8 (every small sf), so the sweep pays one fit
  private def scaledKmeansIndex(
      s: org.apache.spark.sql.SparkSession, dir: String): Similarity.IvfIndex =
    graft.ChainGuard.memo(s, s"km_scaled $dir") {
      val emb = Tables(s, dir, "embeddings")
      val k = Similarity.scaledListCount(emb.count(), kmTarget, kmMinK, kmMaxK)
      if (k == 8) lloydIndex(s, dir)
      else Similarity.ivfFitLloyd(emb, "vec_id", "embedding", nLists = k,
        iters = ivfIters)
    }

  /** The kmeans-dedup drop chain as CTE fragments over source table
    * `tbl`: the deterministic Lloyd assignment rounds (shared
    * [[ivfAssignSql]] blocks), within-cluster candidate pairs, exact
    * cosine rerank, and the min-id-wins drop set. Expects `v`
    * (per-vector components) and `n` (norms) CTEs over the same rows to
    * be defined by the caller — the agreement oracle shares them with
    * the sign-LSH chain.
    */
  private def kmeansDropChainSql(tbl: String): String = s"""
      kk AS (
        SELECT GREATEST($kmMinK, LEAST($kmMaxK,
                 (COUNT(*) + ${kmTarget - 1}) // $kmTarget)) AS k
        FROM $tbl),
      c0 AS (
        SELECT CAST(vec_id AS INTEGER) AS clabel,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
        FROM $tbl WHERE vec_id < (SELECT k FROM kk)),
      ${(1 to ivfIters).map(t => ivfAssignSql(t, tbl)).mkString(",")},
      kp AS (SELECT a.vec_id AS ia, b2.vec_id AS ib
             FROM a$ivfIters a JOIN a$ivfIters b2
               ON a.list = b2.list AND a.vec_id < b2.vec_id),
      kd AS (SELECT ia, ib, SUM(va.x * vb.x) AS dot
             FROM kp JOIN v va ON va.vec_id = ia
                     JOIN v vb ON vb.vec_id = ib AND va.pos = vb.pos
             GROUP BY ia, ib),
      kdrop AS (SELECT DISTINCT ib AS vec_id
                FROM kd JOIN n na ON na.vec_id = ia
                        JOIN n nb ON nb.vec_id = ib
                WHERE round(dot / (sqrt(na.nr) * sqrt(nb.nr)), 6) >= 0.4)"""

  private def kmeansDedupSql(where: String): String = s"""
      WITH se AS (SELECT * FROM embeddings$where),
      v AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS x FROM se),
      n AS (SELECT vec_id, SUM(x * x) AS nr FROM v GROUP BY vec_id),
      ${kmeansDropChainSql("se")}
      SELECT e.vec_id, e.label FROM se e ANTI JOIN kdrop USING (vec_id)
      ORDER BY e.vec_id"""

  /** SemDeDup in the paper's ACTUAL shape (Abbas et al. 2023: k-means
    * clusters, within-cluster cosine threshold, one representative kept
    * per duplicate relation — min-id-wins here): the deterministic
    * Lloyd index at the CORPUS-SCALED list count (`scaledListCount`,
    * k = ceil(n/1024) floored at 8 — the small-sf fit is therefore the
    * same index `ivf_ann_topk_vec0` fits, memoized) is the coarse
    * quantizer, so the WHOLE pipeline — count, list-count selection,
    * seeding, three E/M rounds, cluster assignment, within-cluster
    * pairs, exact rerank, min-id drop — replays verbatim in DuckDB.
    * The sign-LSH keep-list (`semantic_dedup_scaled`) is the same
    * greedy under band-blocking; `semantic_dedup_kmeans_agreement`
    * audits the two against each other. [[Similarity.ivfFit]] (seeded
    * MLlib) remains the library's production fit for arbitrary k.
    */
  val semanticDedupKmeans: GraftQuery = GraftQuery(
    "semantic_dedup_kmeans",
    (s, dir) => Similarity
      .semanticDedupKMeans(scaledKmeansIndex(s, dir), 0.4)
      .join(Tables(s, dir, "embeddings").select("vec_id", "label"),
        Seq("vec_id"))
      .orderBy("vec_id"),
    Some(kmeansDedupSql("")))

  /** Contiguous-prefix slice of the kmeans SemDeDup (`vec_id < 20000`)
    * — the sf100 value gate on a corpus small enough for the DuckDB
    * replay to stay green (the slice keeps the original id block, so
    * the Lloyd seed rule `vec_id < k` stays exact). At the small sfs
    * the slice equals the full table (max vec_id 1999), so the gate is
    * pure sf100 duty. INDUCED semantics: the fit — including the
    * scaled list count from the SLICED row count (20k rows -> k=20 at
    * sf100, k=8 floor at small sfs) — runs on the sliced corpus in
    * BOTH engines.
    */
  val semanticDedupKmeansSlice: GraftQuery = GraftQuery(
    "semantic_dedup_kmeans_slice",
    (s, dir) => Similarity
      .semanticDedupKMeans(
        {
          val sl = Tables(s, dir, "embeddings").filter(col("vec_id") < 20000)
          Similarity.ivfFitLloyd(sl, "vec_id", "embedding",
            nLists = Similarity.scaledListCount(
              sl.count(), kmTarget, kmMinK, kmMaxK),
            iters = ivfIters)
        },
        0.4)
      .join(Tables(s, dir, "embeddings").select("vec_id", "label"),
        Seq("vec_id"))
      .orderBy("vec_id"),
    Some(kmeansDedupSql(" WHERE vec_id < 20000")))

  /** Blocking-geometry agreement report: the kmeans keep-list vs the
    * corpus-scaled sign-LSH keep-list (`semantic_dedup_scaled`), the
    * way `lsh_quality_report` audits MinHash blocking — keep counts,
    * intersection, and Jaccard in ONE row. Both greedies share the
    * min-id-wins rule and the exact 0.4 rerank, so every disagreement
    * is attributable to blocking recall alone.
    */
  val semanticDedupAgreement: GraftQuery = GraftQuery(
    "semantic_dedup_kmeans_agreement",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val kk = Similarity.semanticDedupKMeans(scaledKmeansIndex(s, dir), 0.4)
        .withColumn("mk", lit(1L))
      val lk = scSemanticKeepRun(emb).select("vec_id")
        .withColumn("ml", lit(1L))
      kk.join(lk, Seq("vec_id"), "full_outer")
        .agg(
          sum("mk").as("nk"), sum("ml").as("nl"),
          sum(col("mk") * col("ml")).as("nb"))
        .select(
          col("nk").as("n_keep_kmeans"),
          col("nl").as("n_keep_lsh"),
          col("nb").as("n_keep_both"),
          Q.r6(col("nb") * 1.0 / (col("nk") + col("nl") - col("nb")))
            .as("keep_jaccard"))
    },
    Some {
      val base = scSemanticKeepSql("")
      val cut = base.lastIndexOf("SELECT e.vec_id, e.label")
      base.substring(0, cut).trim.stripSuffix(",") + s""",
      lsh_keep AS (
        SELECT e.vec_id FROM embeddings e ANTI JOIN dropped USING (vec_id)),
      ${kmeansDropChainSql("embeddings")},
      kkeep AS (
        SELECT e.vec_id FROM embeddings e ANTI JOIN kdrop USING (vec_id))
      SELECT (SELECT COUNT(*) FROM kkeep) AS n_keep_kmeans,
             (SELECT COUNT(*) FROM lsh_keep) AS n_keep_lsh,
             (SELECT COUNT(*) FROM kkeep JOIN lsh_keep USING (vec_id))
               AS n_keep_both,
             round((SELECT COUNT(*) FROM kkeep JOIN lsh_keep USING (vec_id))
               * 1.0 / ((SELECT COUNT(*) FROM kkeep)
                 + (SELECT COUNT(*) FROM lsh_keep)
                 - (SELECT COUNT(*) FROM kkeep JOIN lsh_keep USING (vec_id))),
               6) AS keep_jaccard"""
    })

  /** ANN recall@10 report — the acceptance gate an ANN rollout runs
    * before trading exactness for speed: the IVF (nProbe=2) top-10 for
    * the probe vector scored against the EXACT brute-force cosine
    * top-10. Both sides are deterministic (Lloyd fit + fixed
    * tiebreaks), so even the quality METRIC is hash-replayable — the
    * oracle re-derives both rankings and the overlap. The Lloyd index
    * is the memoized one `ivf_ann_topk_vec0` already fits; the exact
    * side is the `cosine_topk_vec0` scan. At 100 TB the exact side runs
    * on an audit sample; the IVF side is the production path unchanged.
    */
  val annRecall: GraftQuery = GraftQuery(
    "ann_recall_ivf_vec0",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", 0L, 10)
        .select("vec_id")
      val ann = Similarity.ivfTopK(lloydIndex(s, dir), 0L, 10, nProbe = 2)
        .select("vec_id")
      exact.join(ann, Seq("vec_id"))
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(10L).as("k"), col("n_overlap"),
          Q.r6(col("n_overlap") / 10.0).as("recall_at_k"))
    },
    Some(s"""
      WITH c0 AS (
        SELECT CAST(vec_id AS INTEGER) AS clabel,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
        FROM embeddings WHERE vec_id < 8),
      ${(1 to ivfIters).map(t => ivfAssignSql(t)).mkString(",")},
      q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      pd AS (SELECT c.clabel,
               list_sum(list_transform(list_zip(c.centroid, q.qe),
                 p -> (p[1] - CAST(p[2] AS DOUBLE))
                    * (p[1] - CAST(p[2] AS DOUBLE)))) AS dist2
             FROM c$ivfIters c CROSS JOIN q),
      probe AS (SELECT clabel FROM pd ORDER BY dist2, clabel LIMIT 2),
      mem AS (SELECT a.vec_id FROM a$ivfIters a
              JOIN probe p ON a.list = p.clabel
              WHERE a.vec_id <> 0),
      qv AS (SELECT generate_subscripts(qe, 1) AS pos,
                    CAST(unnest(qe) AS DOUBLE) AS v FROM q),
      dv AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                    CAST(unnest(embedding) AS DOUBLE) AS v
             FROM embeddings WHERE vec_id IN (SELECT vec_id FROM mem)),
      agg AS (SELECT dv.vec_id, SUM(dv.v * qv.v) AS dot,
                     SUM(dv.v * dv.v) AS nd
              FROM dv JOIN qv USING (pos) GROUP BY dv.vec_id),
      nq AS (SELECT SUM(v * v) AS nq FROM qv),
      itop AS (SELECT vec_id FROM (
                 SELECT vec_id, round(dot / (sqrt(nd) * sqrt(nq)), 6) AS cos
                 FROM agg, nq ORDER BY cos DESC, vec_id LIMIT 10)),
      xdv AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                     CAST(unnest(embedding) AS DOUBLE) AS v
              FROM embeddings WHERE vec_id <> 0),
      xagg AS (SELECT xdv.vec_id, SUM(xdv.v * qv.v) AS dot,
                      SUM(xdv.v * xdv.v) AS nd
               FROM xdv JOIN qv USING (pos) GROUP BY xdv.vec_id),
      xtop AS (SELECT vec_id FROM (
                 SELECT vec_id, round(dot / (sqrt(nd) * sqrt(nq)), 6) AS cos
                 FROM xagg, nq ORDER BY cos DESC, vec_id LIMIT 10))
      SELECT CAST(10 AS BIGINT) AS k,
             (SELECT COUNT(*) FROM itop JOIN xtop USING (vec_id))
               AS n_overlap,
             round((SELECT COUNT(*) FROM itop JOIN xtop USING (vec_id))
               / 10.0, 6) AS recall_at_k"""))

  /** Symmetric int8 quantization report over the embedding corpus —
    * scale, saturated codes, max reconstruction error per vector (all
    * order-independent reductions => exact cross-engine parity).
    */
  val quantizeInt8: GraftQuery = GraftQuery(
    "embedding_quantize_int8",
    (s, dir) => graft.sim.Quantize
      .reportInt8(Tables(s, dir, "embeddings"), "vec_id", "embedding")
      .select(col("vec_id"), Q.r6(col("scale")).as("scale"),
        col("n_saturated").cast("long").as("n_saturated"),
        Q.r6(col("max_abs_err")).as("max_abs_err"))
      .orderBy("vec_id"),
    Some("""
      WITH e AS (SELECT vec_id, embedding,
             list_max(list_transform(embedding,
               x -> abs(CAST(x AS DOUBLE)))) / 127.0 AS scale0
             FROM embeddings),
      s AS (SELECT vec_id, embedding, scale0,
             CASE WHEN scale0 = 0 THEN 1.0 ELSE scale0 END AS scale
            FROM e),
      q AS (SELECT vec_id, scale0, scale, embedding,
             list_transform(embedding,
               x -> CAST(round(CAST(x AS DOUBLE) / scale) AS INTEGER)) AS qv
            FROM s)
      SELECT vec_id, round(scale0, 6) AS scale,
             CAST(len(list_filter(qv, v -> abs(v) = 127)) AS BIGINT)
               AS n_saturated,
             round(list_max(list_transform(list_zip(embedding, qv),
               p -> abs(CAST(p[1] AS DOUBLE) - p[2] * scale))), 6)
               AS max_abs_err
      FROM q ORDER BY vec_id"""))

  /** MMR diversity selection oracle: the greedy argmax chain is replayed
    * as k chained CTEs — each step picks the best-scoring remaining
    * vector given the union of all previous picks (correlated MAX over
    * the pairwise-cosine CTE), with the same literal 0.7/0.3 weights
    * and (score desc, vec_id) tiebreak as the Spark loop.
    */
  private def mmrSql(k: Int): String = {
    val base = """
      WITH qv AS (SELECT generate_subscripts(embedding, 1) AS pos,
                         CAST(unnest(embedding) AS DOUBLE) AS v
                  FROM embeddings WHERE vec_id = 0),
      dv AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                    CAST(unnest(embedding) AS DOUBLE) AS v
             FROM embeddings WHERE vec_id <> 0),
      nq AS (SELECT SUM(v * v) AS n2 FROM qv),
      agg AS (SELECT dv.vec_id, SUM(dv.v * qv.v) AS dot,
                     SUM(dv.v * dv.v) AS nd
              FROM dv JOIN qv USING (pos) GROUP BY dv.vec_id),
      rel AS (SELECT vec_id, round(dot / (sqrt(nd) * sqrt(nq.n2)), 6) AS rel
              FROM agg, nq),
      nrm AS (SELECT vec_id, SUM(v * v) AS n2 FROM dv GROUP BY 1),
      pag AS (SELECT a.vec_id AS ia, b.vec_id AS ib, SUM(a.v * b.v) AS dot
              FROM dv a JOIN dv b ON a.pos = b.pos AND a.vec_id <> b.vec_id
              GROUP BY a.vec_id, b.vec_id),
      pcm AS (SELECT ia, ib,
                     round(dot / (sqrt(na.n2) * sqrt(nb.n2)), 6) AS cos
              FROM pag JOIN nrm na ON na.vec_id = ia
                       JOIN nrm nb ON nb.vec_id = ib),
      sel1 AS (SELECT CAST(1 AS BIGINT) AS rank, vec_id, rel
               FROM rel ORDER BY rel DESC, vec_id LIMIT 1),
      selu1 AS (SELECT * FROM sel1)"""
    val steps = (2 to k).map { i =>
      s"""
      sel$i AS (
        SELECT CAST($i AS BIGINT) AS rank, r.vec_id, r.rel FROM rel r
        WHERE r.vec_id NOT IN (SELECT vec_id FROM selu${i - 1})
        ORDER BY 0.7 * r.rel - 0.3 *
            (SELECT MAX(p.cos) FROM pcm p
             WHERE p.ia = r.vec_id
               AND p.ib IN (SELECT vec_id FROM selu${i - 1})) DESC,
          r.vec_id
        LIMIT 1),
      selu$i AS (SELECT * FROM selu${i - 1} UNION ALL SELECT * FROM sel$i)"""
    }.mkString(",", ",", "")
    s"$base$steps SELECT rank, vec_id, rel FROM selu$k ORDER BY rank"
  }

  /** Per-dimension embedding distribution diagnostics — mean, population
    * std, min, max for every coordinate: the collapsed-dimension /
    * scale-drift check run before an ANN index build. One posexplode +
    * one aggregation, keyed by dimension (64 groups here; dimension-
    * parallel at any corpus size). Same cross-engine float-sum envelope
    * as the (green) centroid query: double sums of float inputs,
    * r6-rounded.
    */
  val dimStats: GraftQuery = GraftQuery(
    "embedding_dim_stats",
    (s, dir) => Tables(s, dir, "embeddings")
      .select(posexplode(col("embedding")).as(Seq("pos", "x")))
      .select(col("pos").cast("long").as("pos"),
        col("x").cast("double").as("x"))
      .groupBy("pos")
      .agg(
        count(lit(1)).as("n"),
        Q.r6(sum("x") / count(lit(1))).as("mean"),
        Q.r6(sqrt(sum(col("x") * col("x")) / count(lit(1)) -
          (sum("x") / count(lit(1))) * (sum("x") / count(lit(1)))))
          .as("std"),
        Q.r6(min("x")).as("min_x"), Q.r6(max("x")).as("max_x"))
      .orderBy("pos"),
    Some("""
      WITH d AS (
        SELECT generate_subscripts(embedding, 1) - 1 AS pos,
               CAST(unnest(embedding) AS DOUBLE) AS x
        FROM embeddings)
      SELECT pos, COUNT(*) AS n,
             round(SUM(x) / COUNT(*), 6) AS mean,
             round(sqrt(SUM(x * x) / COUNT(*)
               - (SUM(x) / COUNT(*)) * (SUM(x) / COUNT(*))), 6) AS std,
             round(MIN(x), 6) AS min_x, round(MAX(x), 6) AS max_x
      FROM d GROUP BY pos ORDER BY pos"""))

  /** Diversity-aware top-5 (MMR) against the vec0 query. */
  val mmrDiverse: GraftQuery = GraftQuery(
    "mmr_diverse_top5",
    (s, dir) => Similarity.mmrSelect(
      Tables(s, dir, "embeddings"), "vec_id", "embedding", 0L, 5),
    Some(mmrSql(5)))

  /** One PQ Lloyd round in DuckDB: assign each (vec, sub) to its nearest
    * sub-centroid (row_number ties to the smaller label = Spark's
    * min(struct)), then re-mean the raw components per (sub, label, pos)
    * with the same round-6 convention.
    */
  private val pqM = 4
  private val pqSubDim = 16
  private val pqKSub = 8
  private val pqIters = 2
  private def pqAssignSql(t: Int): String = s"""
      pd$t AS (SELECT s.vec_id, s.sub, c.clabel,
             list_sum(list_transform(list_zip(s.subvec, c.centroid),
               p -> (CAST(p[1] AS DOUBLE) - p[2])
                  * (CAST(p[1] AS DOUBLE) - p[2]))) AS dist2
            FROM sv s JOIN pc${t - 1} c ON c.sub = s.sub),
      pa$t AS (SELECT vec_id, sub, clabel AS code
            FROM (SELECT vec_id, sub, clabel,
                         row_number() OVER (PARTITION BY vec_id, sub
                                            ORDER BY dist2, clabel) AS rk
                  FROM pd$t) WHERE rk = 1),
      pm$t AS (SELECT a.sub, a.code AS clabel, u.pos,
                      round(SUM(u.x) / COUNT(*), 6) AS mean
            FROM pa$t a
            JOIN (SELECT vec_id, sub, generate_subscripts(subvec, 1) AS pos,
                         CAST(unnest(subvec) AS DOUBLE) AS x
                  FROM sv) u
              ON u.vec_id = a.vec_id AND u.sub = a.sub
            GROUP BY a.sub, a.code, u.pos),
      pc$t AS (SELECT sub, clabel, list(mean ORDER BY pos) AS centroid
            FROM pm$t GROUP BY sub, clabel)"""

  /** Product-quantization ANN for vec 0 ([[Similarity.pqTopKAdc]]): 4
    * subspaces x 16 dims, 8 sub-centroids each from a 2-round
    * deterministic Lloyd fit, then ADC — the query's m*kSub lookup table
    * in integer micro-units, corpus vectors ranked by the Σ over their 4
    * codes. The ENTIRE pipeline (subvector split, per-subspace fit,
    * coding, table build, ranking) replays verbatim in DuckDB.
    */
  val pqTopK: GraftQuery = GraftQuery(
    "pq_ann_topk_vec0",
    (s, dir) => Similarity.pqTopKAdc(
      Tables(s, dir, "embeddings"), "vec_id", "embedding", 0L, 10,
      m = pqM, subDim = pqSubDim, kSub = pqKSub, iters = pqIters),
    Some(s"""
      WITH sv AS MATERIALIZED (
        SELECT vec_id, sub,
               list_slice(embedding, sub * $pqSubDim + 1,
                 sub * $pqSubDim + $pqSubDim) AS subvec
        FROM embeddings
        CROSS JOIN (SELECT unnest(generate_series(0, ${pqM - 1})) AS sub) g),
      pc0 AS (
        SELECT sub, CAST(vec_id AS INTEGER) AS clabel,
               list_transform(subvec, x -> CAST(x AS DOUBLE)) AS centroid
        FROM sv WHERE vec_id < $pqKSub),
      ${(1 to pqIters).map(pqAssignSql).mkString(",")},
      q AS (SELECT sub, subvec FROM sv WHERE vec_id = 0),
      tbl AS (SELECT c.sub, c.clabel,
               CAST(floor(list_sum(list_transform(
                 list_zip(q.subvec, c.centroid),
                 p -> (CAST(p[1] AS DOUBLE) - p[2])
                    * (CAST(p[1] AS DOUBLE) - p[2]))) * 1000000.0 + 0.5)
                 AS BIGINT) AS d2_micro
              FROM pc$pqIters c JOIN q ON q.sub = c.sub),
      adc AS (SELECT a.vec_id, CAST(SUM(t.d2_micro) AS BIGINT)
                       AS adc_d2_micro
              FROM pa$pqIters a
              JOIN tbl t ON t.sub = a.sub AND t.clabel = a.code
              WHERE a.vec_id <> 0
              GROUP BY a.vec_id)
      SELECT vec_id, adc_d2_micro, adc_d2_micro / 1000000.0 AS adc_dist2
      FROM adc ORDER BY adc_d2_micro, vec_id LIMIT 10"""))

  // shared exact-cosine-top-10 oracle tail for the recall audits: the
  // query vector's norm, every other vector's dot/norm, the top-10 by
  // (cos desc, vec_id) — the same xtop block ann_recall_ivf_vec0 uses.
  private val exactTopSqlTail = """
      qe0 AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      qv0 AS (SELECT generate_subscripts(qe, 1) AS pos,
                     CAST(unnest(qe) AS DOUBLE) AS v FROM qe0),
      nq0 AS (SELECT SUM(v * v) AS nq FROM qv0),
      xdv AS (SELECT vec_id, generate_subscripts(embedding, 1) AS pos,
                     CAST(unnest(embedding) AS DOUBLE) AS v
              FROM embeddings WHERE vec_id <> 0),
      xagg AS (SELECT xdv.vec_id, SUM(xdv.v * qv0.v) AS dot,
                      SUM(xdv.v * xdv.v) AS nd
               FROM xdv JOIN qv0 USING (pos) GROUP BY xdv.vec_id),
      xtop AS (SELECT vec_id FROM (
                 SELECT vec_id,
                        round(dot / (sqrt(nd) * sqrt(nq0.nq)), 6) AS cos
                 FROM xagg, nq0 ORDER BY cos DESC, vec_id LIMIT 10))"""

  private def recallSelectSql(annTop: String): String = s"""
      SELECT CAST(10 AS BIGINT) AS k,
             (SELECT COUNT(*) FROM $annTop JOIN xtop USING (vec_id))
               AS n_overlap,
             round((SELECT COUNT(*) FROM $annTop JOIN xtop USING (vec_id))
               / 10.0, 6) AS recall_at_k"""

  /** Recall@10 audit for the PQ/ADC index — the quality gate the
    * top-k parity oracle (`pq_ann_topk_vec0`) cannot provide: that
    * oracle replays the same codebooks, so a fit regression that
    * degrades recall would still hash-match. Scoring the ADC top-10
    * against the EXACT brute-force cosine top-10 pins the quality
    * itself. Both sides deterministic (Lloyd fit + fixed tiebreaks),
    * so the metric hash-replays. At 100 TB the exact side runs on an
    * audit sample; the PQ side is the production path unchanged.
    */
  val annRecallPq: GraftQuery = GraftQuery(
    "ann_recall_pq_vec0",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", 0L, 10)
        .select("vec_id")
      val ann = Similarity.pqTopKAdc(emb, "vec_id", "embedding", 0L, 10,
        m = pqM, subDim = pqSubDim, kSub = pqKSub, iters = pqIters)
        .select("vec_id")
      exact.join(ann, Seq("vec_id"))
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(10L).as("k"), col("n_overlap"),
          Q.r6(col("n_overlap") / 10.0).as("recall_at_k"))
    },
    Some(s"""
      WITH sv AS MATERIALIZED (
        SELECT vec_id, sub,
               list_slice(embedding, sub * $pqSubDim + 1,
                 sub * $pqSubDim + $pqSubDim) AS subvec
        FROM embeddings
        CROSS JOIN (SELECT unnest(generate_series(0, ${pqM - 1})) AS sub) g),
      pc0 AS (
        SELECT sub, CAST(vec_id AS INTEGER) AS clabel,
               list_transform(subvec, x -> CAST(x AS DOUBLE)) AS centroid
        FROM sv WHERE vec_id < $pqKSub),
      ${(1 to pqIters).map(pqAssignSql).mkString(",")},
      q AS (SELECT sub, subvec FROM sv WHERE vec_id = 0),
      tbl AS (SELECT c.sub, c.clabel,
               CAST(floor(list_sum(list_transform(
                 list_zip(q.subvec, c.centroid),
                 p -> (CAST(p[1] AS DOUBLE) - p[2])
                    * (CAST(p[1] AS DOUBLE) - p[2]))) * 1000000.0 + 0.5)
                 AS BIGINT) AS d2_micro
              FROM pc$pqIters c JOIN q ON q.sub = c.sub),
      adc AS (SELECT a.vec_id, CAST(SUM(t.d2_micro) AS BIGINT)
                       AS adc_d2_micro
              FROM pa$pqIters a
              JOIN tbl t ON t.sub = a.sub AND t.clabel = a.code
              WHERE a.vec_id <> 0
              GROUP BY a.vec_id),
      ptop AS (SELECT vec_id FROM (
                 SELECT vec_id FROM adc
                 ORDER BY adc_d2_micro, vec_id LIMIT 10)),
      $exactTopSqlTail
      ${recallSelectSql("ptop")}"""))

  /** Recall@10 audit for the sign-bit-bucketed ANN — same rationale as
    * the PQ audit: `ann_sign_topk_vec0`'s oracle replays the same
    * buckets, so only a recall-vs-exact-truth gate can catch a quality
    * regression in the blocking itself. With 4 sign planes the bucket
    * holds ~1/16 of the corpus, so recall well below 1.0 is the
    * EXPECTED trade — the report pins it rather than asserting it high.
    */
  val annRecallSign: GraftQuery = GraftQuery(
    "ann_recall_sign_vec0",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", 0L, 10)
        .select("vec_id")
      val ann = Similarity.annTopKSign(emb, "vec_id", "embedding", 0L, 10,
        nPlanes = annSignPlanes)
        .select("vec_id")
      exact.join(ann, Seq("vec_id"))
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(10L).as("k"), col("n_overlap"),
          Q.r6(col("n_overlap") / 10.0).as("recall_at_k"))
    },
    Some(s"""
      WITH bk AS (SELECT vec_id,
                         CAST($annSignBucketSql AS BIGINT) AS bucket
                  FROM embeddings),
      qb AS (SELECT bucket FROM bk WHERE vec_id = 0),
      cand AS (SELECT bk.vec_id FROM bk JOIN qb USING (bucket)
               WHERE bk.vec_id <> 0),
      q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      qv AS (SELECT generate_subscripts(qe, 1) AS pos,
                    CAST(unnest(qe) AS DOUBLE) AS v FROM q),
      dv AS (SELECT e.vec_id, generate_subscripts(e.embedding, 1) AS pos,
                    CAST(unnest(e.embedding) AS DOUBLE) AS v
             FROM embeddings e JOIN cand USING (vec_id)),
      agg AS (SELECT dv.vec_id, SUM(dv.v * qv.v) AS dot,
                     SUM(dv.v * dv.v) AS nd
              FROM dv JOIN qv USING (pos) GROUP BY dv.vec_id),
      nq AS (SELECT SUM(v * v) AS nq FROM qv),
      stop_ AS (SELECT vec_id FROM (
                 SELECT vec_id, round(dot / (sqrt(nd) * sqrt(nq)), 6) AS cos
                 FROM agg, nq ORDER BY cos DESC, vec_id LIMIT 10)),
      $exactTopSqlTail
      ${recallSelectSql("stop_")}"""))

  /** Recall@10 audit for the seeded-hyperplane-bucketed ANN — closes
    * the recall-gate family over all four ANN paths (IVF, PQ, sign,
    * seeded-LSH). Same rationale: `ann_lsh_topk_vec0`'s oracle replays
    * the same hyperplanes, so only recall-vs-exact-truth catches a
    * blocking-quality regression.
    */
  val annRecallLsh: GraftQuery = GraftQuery(
    "ann_recall_lsh_vec0",
    (s, dir) => {
      val emb = Tables(s, dir, "embeddings")
      val exact = Similarity.cosineTopK(emb, "vec_id", "embedding", 0L, 10)
        .select("vec_id")
      val ann = Similarity.annTopK(emb, "vec_id", "embedding", 0L, 10,
        nPlanes = annLshPlaneCount)
        .select("vec_id")
      exact.join(ann, Seq("vec_id"))
        .agg(count(lit(1)).as("n_overlap"))
        .select(lit(10L).as("k"), col("n_overlap"),
          Q.r6(col("n_overlap") / 10.0).as("recall_at_k"))
    },
    Some(s"""
      WITH bk AS MATERIALIZED (
        SELECT vec_id,
               CAST(${hyperBucketSql(annLshPlanes)} AS BIGINT) AS bucket
        FROM embeddings),
      qb AS (SELECT bucket FROM bk WHERE vec_id = 0),
      cand AS (SELECT bk.vec_id FROM bk JOIN qb USING (bucket)
               WHERE bk.vec_id <> 0),
      q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = 0),
      qv AS (SELECT generate_subscripts(qe, 1) AS pos,
                    CAST(unnest(qe) AS DOUBLE) AS v FROM q),
      dv AS (SELECT e.vec_id, generate_subscripts(e.embedding, 1) AS pos,
                    CAST(unnest(e.embedding) AS DOUBLE) AS v
             FROM embeddings e JOIN cand USING (vec_id)),
      agg AS (SELECT dv.vec_id, SUM(dv.v * qv.v) AS dot,
                     SUM(dv.v * dv.v) AS nd
              FROM dv JOIN qv USING (pos) GROUP BY dv.vec_id),
      nq AS (SELECT SUM(v * v) AS nq FROM qv),
      ltop AS (SELECT vec_id FROM (
                 SELECT vec_id, round(dot / (sqrt(nd) * sqrt(nq)), 6) AS cos
                 FROM agg, nq ORDER BY cos DESC, vec_id LIMIT 10)),
      $exactTopSqlTail
      ${recallSelectSql("ltop")}"""))

  override def queries: Seq[GraftQuery] =
    Seq(cosineTopK, knnVote, nearDup, semanticDedup, nearDupLsh,
      nearDupScaled, nearDupScaledSlice, semanticDedupScaled,
      semanticDedupScaledSlice, semanticDedupKmeans,
      semanticDedupKmeansSlice, semanticDedupAgreement, annTopK,
      annTopKSign,
      centroids, assignCentroid, randomProjection, ivfTopK, annRecall,
      annRecallPq, annRecallSign, annRecallLsh,
      quantizeInt8, mmrDiverse, dimStats, pqTopK)
}
