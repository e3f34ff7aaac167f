package graft.sim

import graft.Q
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over embedding columns (array<float>).
  *
  * Brute-force cosine top-k is the exactness baseline (one broadcast of the
  * query vector + a full scan — embarrassingly parallel, no shuffle until
  * the final top-k). The LSH variant is the scale path: random-hyperplane
  * signatures bucket the corpus so each query only scores its bucket.
  * All vector math is Catalyst `zip_with`/`aggregate` — codegen'd, no UDF.
  */
object Similarity {

  /** Double-precision dot product — native codegen'd loop (identical
    * sequential accumulation to the zip_with/aggregate fold it replaced,
    * ~20x faster; see graft.expressions.DotProduct).
    */
  def dotD(a: Column, b: Column): Column =
    graft.expressions.DotProduct.dot(a, b)

  def normD(a: Column): Column = sqrt(dotD(a, a))

  def cosine(a: Column, b: Column): Column = dotD(a, b) / (normD(a) * normD(b))

  // ---- DuckDB replays, in the `oracleCtes` idiom of graft.graph: CTE
  // lists that a query's oracle places after its own WITH, each next to
  // the operator it replays. All read `embeddings(vec_id, embedding)`;
  // `from` is a FROM-clause body such as "embeddings WHERE vec_id <> 0".

  /** One row per component of `embedding` in `from`: (`key`, pos, x),
    * pos 1-based and x as DOUBLE — the replay of a posexplode.
    */
  def oracleComponentsSql(from: String, key: String): String =
    s"""SELECT $key, generate_subscripts(embedding, 1) AS pos,
                   CAST(unnest(embedding) AS DOUBLE) AS x
            FROM $from"""

  /** `qv(vec_id, pos, x)` and `nq(nq)`: the components and squared norm
    * of stored vector `queryId`, the probe side of [[oracleCosineCtes]].
    */
  def oracleProbeCtes(queryId: Long): String = s"""qv AS (${oracleComponentsSql(s"embeddings WHERE vec_id = $queryId", "vec_id")}),
      nq AS (SELECT SUM(x * x) AS nq FROM qv)"""

  /** Exact top-k neighbors of one stored vector by cosine (rounded to 6
    * decimals; ties broken by id for determinism).
    */
  def cosineTopK(
      emb: DataFrame, idCol: String, vecCol: String, queryId: Long,
      k: Int): DataFrame = {
    val q = emb.filter(col(idCol) === queryId).select(col(vecCol).as("__qv"))
    emb.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(
        col(idCol),
        Q.r6(cosine(col(vecCol), col("__qv"))).as("cos"))
      .orderBy(desc("cos"), col(idCol))
      .limit(k)
  }

  /** Given [[oracleProbeCtes]]: `$name(vec_id, cos)`, the r6 cosine to
    * the probe of every vector in `from`, with their components in
    * `${name}_v(vec_id, pos, x)` — [[cosineTopK]] before its top-k cut
    * ([[oracleTopKSql]]).
    */
  def oracleCosineCtes(name: String, from: String): String = s"""${name}_v AS (${oracleComponentsSql(from, "vec_id")}),
      ${name}_a AS (SELECT d.vec_id, SUM(d.x * qv.x) AS dot,
                     SUM(d.x * d.x) AS nd
              FROM ${name}_v d JOIN qv USING (pos) GROUP BY d.vec_id),
      $name AS (SELECT vec_id, round(dot / (sqrt(nd) * sqrt(nq)), 6) AS cos
              FROM ${name}_a, nq)"""

  /** The top-k cut of [[cosineTopK]] over scores `name(vec_id, cos)`. */
  def oracleTopKSql(name: String, k: Int): String =
    s"SELECT vec_id, cos FROM $name ORDER BY cos DESC, vec_id LIMIT $k"

  /** Maximal Marginal Relevance selection: greedily pick k vectors
    * maximizing `0.7 * relevance - 0.3 * max-similarity-to-selected`
    * (relevance = rounded cosine to the query vector) — the
    * diversity-aware retrieval / diverse-exemplar sampling primitive.
    * Driver-orchestrated k-step loop, but each step is ONE distributed
    * scan scoring every candidate against the (tiny, literal) selected
    * set — no candidate collection. At corpus scale, pre-filter to the
    * top-N by relevance first; the loop shape is unchanged. Both
    * weights are LITERALS in both engines (0.3 is never computed as
    * 1 - 0.7, which is 0.30000000000000004 in binary and would break
    * cross-engine score equality).
    */
  def mmrSelect(
      emb: DataFrame, idCol: String, vecCol: String, queryId: Long,
      k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val q = emb.filter(col(idCol) === queryId).select(col(vecCol).as("__qv"))
    val rel = emb.filter(col(idCol) =!= queryId)
      .crossJoin(broadcast(q))
      .select(col(idCol).as("vec_id"), col(vecCol).as("vec"),
        Q.r6(cosine(col(vecCol), col("__qv"))).as("rel"))
      .localCheckpoint() // k consumers; frees the per-step recompute
    var selected = List.empty[(Long, Seq[Float], Double)]
    for (_ <- 1 to k) {
      val remaining = rel.filter(!col("vec_id").isin(selected.map(_._1): _*))
      val scored =
        if (selected.isEmpty) remaining.withColumn("score", col("rel"))
        else {
          val sims = selected.map { case (_, v, _) =>
            Q.r6(cosine(col("vec"), typedLit(v)))
          }
          remaining.withColumn("score",
            lit(0.7) * col("rel") -
              lit(0.3) * sims.reduceLeft((a, b) => greatest(a, b)))
        }
      val next = scored.orderBy(desc("score"), col("vec_id"))
        .select("vec_id", "vec", "rel").head()
      selected = selected :+
        ((next.getLong(0), next.getSeq[Float](1), next.getDouble(2)))
    }
    selected.zipWithIndex
      .map { case ((id, _, r), i) => (i + 1L, id, r) }
      .toDF("rank", "vec_id", "rel")
  }

  /** Embedding-cosine near-duplicate pairs, brute force all-pairs — the
    * exactness baseline for dedup (the LSH bucket path is the 100-TB
    * variant: identical rerank inside `annTopK`-style buckets). The
    * threshold compares the ROUNDED cosine so the cut is cross-engine
    * stable.
    */
  def nearDupPairs(
      emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    // norms once per vector, not once per pair
    val withNorm = emb.select(
      col(idCol), col(vecCol), normD(col(vecCol)).as("__n"))
    val a = withNorm.select(col(idCol).as("id_a"), col(vecCol).as("__va"),
      col("__n").as("__na"))
    val b = withNorm.select(col(idCol).as("id_b"), col(vecCol).as("__vb"),
      col("__n").as("__nb"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        Q.r6(dotD(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
          .as("cos"))
      .filter(col("cos") >= threshold)
      .orderBy("id_a", "id_b")
  }

  /** Near-duplicate pairs from per-band bucket expressions + EXACT cosine
    * rerank — the 100-TB shape shared by both LSH variants below:
    * explode to (id, band, bucket), self-equi-join per (band, bucket),
    * dedupe BARE id pairs across bands, then re-join vectors once for the
    * exact rerank. No all-pairs crossJoin anywhere; candidate volume is
    * bounded by bucket sizes.
    */
  def nearDupFromBands(
      emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
      bandBuckets: Seq[Column]): DataFrame = {
    val banded = emb.select(col(idCol),
      explode(array(bandBuckets.zipWithIndex.map { case (bk, b) =>
        struct(lit(b).as("band"), bk.as("bucket"))
      }: _*)).as("bb"))
      .select(col(idCol), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val cand = banded.select(col("band"), col("bucket"), col(idCol).as("id_a"))
      .join(banded.select(col("band"), col("bucket"), col(idCol).as("id_b")),
        Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    val withNorm = emb.select(
      col(idCol), col(vecCol), normD(col(vecCol)).as("__n"))
    cand
      .join(withNorm.select(col(idCol).as("id_a"), col(vecCol).as("__va"),
        col("__n").as("__na")), Seq("id_a"))
      .join(withNorm.select(col(idCol).as("id_b"), col(vecCol).as("__vb"),
        col("__n").as("__nb")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        Q.r6(dotD(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
          .as("cos"))
      .filter(col("cos") >= threshold)
      .orderBy("id_a", "id_b")
  }

  /** `v(vec_id, pos, x)` and `n(vec_id, nr)`: the components and squared
    * norms of the vectors in `from`, read by [[oracleRerankCtes]].
    */
  def oracleVectorCtes(from: String): String = s"""v AS (${oracleComponentsSql(from, "vec_id")}),
      n AS (SELECT vec_id, SUM(x * x) AS nr FROM v GROUP BY vec_id)"""

  /** Given [[oracleVectorCtes]]: `$name(id_a, id_b, cos)`, the r6 exact
    * cosine of every candidate pair in `pairs(ia, ib)` — the rerank of
    * [[nearDupFromBands]].
    */
  def oracleRerankCtes(name: String, pairs: String): String = s"""${name}_dot AS (SELECT ia, ib, SUM(va.x * vb.x) AS dot
            FROM $pairs JOIN v va ON va.vec_id = ia
                      JOIN v vb ON vb.vec_id = ib AND va.pos = vb.pos
            GROUP BY ia, ib),
      $name AS (SELECT ia AS id_a, ib AS id_b,
                   round(dot / (sqrt(na.nr) * sqrt(nb.nr)), 6) AS cos
            FROM ${name}_dot JOIN n na ON na.vec_id = ia
                             JOIN n nb ON nb.vec_id = ib)"""

  /** [[nearDupFromBands]] before its threshold, over the vectors in
    * `from`: `bk(vec_id, band, bucket)` from the UNION of per-band
    * selects `bucketSql`, the distinct candidate pairs `cand(ia, ib)`
    * sharing a band bucket, [[oracleVectorCtes]] and the reranked pairs
    * `c(id_a, id_b, cos)`.
    */
  def oracleBandedCtes(bucketSql: String, from: String): String = s"""bk AS MATERIALIZED ($bucketSql),
      cand AS (SELECT DISTINCT a.vec_id AS ia, b2.vec_id AS ib
               FROM bk a JOIN bk b2
                 ON a.band = b2.band AND a.bucket = b2.bucket
                    AND a.vec_id < b2.vec_id),
      ${oracleVectorCtes(from)},
      ${oracleRerankCtes("c", "cand")}"""

  /** Sign-bit banded LSH near-dup: band `b` buckets on the sign bits of
    * coordinates [b*p, (b+1)*p) — axis-aligned hyperplanes. Deterministic
    * and SQL-expressible, so the WHOLE pruned pipeline (blocking +
    * candidate dedup + exact rerank) is DuckDB-oracle-checkable, unlike
    * seeded random hyperplanes. Recall < 1 by design; returned cosines are
    * exact, and the pair set is exactly "pairs sharing ≥1 band bucket with
    * cos >= threshold".
    */
  def nearDupPairsSignLsh(
      emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
      nBands: Int = 8, planesPerBand: Int = 4): DataFrame = {
    val buckets = (0 until nBands).map { b =>
      (0 until planesPerBand).map { j =>
        when(element_at(col(vecCol), b * planesPerBand + j + 1) > 0,
          lit(1L << j)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    nearDupFromBands(emb, idCol, vecCol, threshold, buckets)
  }

  /** Random-hyperplane banded LSH near-dup (seeded, engine-internal) —
    * same shape, rotation-invariant buckets; rows-only checkable.
    */
  def nearDupPairsLsh(
      emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
      nBands: Int = 8, planesPerBand: Int = 4, dim: Int = 64,
      seed: Long = 42): DataFrame = {
    val planes = hyperplanes(nBands * planesPerBand, dim, seed)
    val buckets = (0 until nBands).map { b =>
      lshBucket(
        col(vecCol), planes.slice(b * planesPerBand, (b + 1) * planesPerBand))
    }
    nearDupFromBands(emb, idCol, vecCol, threshold, buckets)
  }

  /** IVF (inverted-file) ANN index: a k-means coarse quantizer assigns
    * each vector to a centroid list; queries score only the `nProbe`
    * nearest lists. At cluster scale the list id doubles as a partition/
    * bucketing key so a probe touches a bounded slice of the corpus.
    */
  final case class IvfIndex(
      assigned: DataFrame, // (id, vec, list)
      centroids: Seq[(Int, Seq[Double])],
      idCol: String, vecCol: String)

  def ivfFit(
      emb: DataFrame, idCol: String, vecCol: String, nLists: Int,
      seed: Long = 42): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val withVec = emb.withColumn("__fv", array_to_vector(col(vecCol)))
    val km = new KMeans().setK(nLists).setSeed(seed)
      .setFeaturesCol("__fv").setPredictionCol("__list")
    val model = km.fit(withVec)
    val assigned = model.transform(withVec)
      .select(col(idCol), col(vecCol), col("__list").as("list"))
    val cents = model.clusterCenters.zipWithIndex
      .map { case (c, i) => i -> c.toArray.toSeq }.toSeq
    IvfIndex(assigned, cents, idCol, vecCol)
  }

  /** Deterministic Lloyd IVF fit — the oracle-checkable coarse
    * quantizer: initial centroids are the vectors with the `nLists`
    * smallest ids (cast to double), then `iters` fixed E/M rounds. The
    * E-step is [[assignToCentroids]]'s sequential-fold argmin (ties to
    * the smaller list id); the M-step re-means the RAW float components
    * per (list, dim) and rounds to 6 decimals — float-as-double sums
    * are exact (dyadic rationals), so every operand is cross-engine
    * identical and the whole fit replays verbatim in SQL. MLlib's
    * seeded k-means ([[ivfFit]]) stays available; this fit is the
    * parity-mode quantizer. Per round: one broadcast E-step (no corpus
    * shuffle) + one (list, dim)-keyed mean — k*d rows — so the shape
    * holds at any corpus size.
    *
    * PRECONDITION: `idCol` must be contiguous and 0-based — the seed
    * filter `id < nLists` equals "the nLists smallest ids" only then.
    * Re-key with `row_number() - 1` first if ids are arbitrary.
    */
  def ivfFitLloyd(
      emb: DataFrame, idCol: String, vecCol: String, nLists: Int,
      iters: Int): IvfIndex = {
    val spark = emb.sparkSession
    import spark.implicits._
    // Centroids are MATERIALIZED to the driver after every M-step (k
    // rows of k*d doubles — trivially small) and re-parallelized as a
    // literal frame for the next E-step. Collected doubles round-trip
    // exactly, so every computed value — and therefore oracle parity —
    // is identical to the fully-lazy chain; what changes is the
    // LINEAGE: each E-step's plan depends on emb + a k-row literal
    // instead of the whole preceding E/M history, so the n*k E-step
    // (the fit's dominant cost at corpus-scaled k — 2M x 1954 rows at
    // sf100) executes once per round instead of once per round PER
    // downstream evaluation of the index (the final `assigned` frame
    // re-evaluates only its own round-`iters` E-step, not the chain).
    def centsDf(cs: Seq[(Int, Seq[Double])]): DataFrame =
      cs.toDF("clabel", "centroid")
    var centSeq: Seq[(Int, Seq[Double])] = emb
      .filter(col(idCol) < nLists)
      .select(col(idCol).cast("int").as("clabel"),
        transform(col(vecCol), x => x.cast("double")).as("centroid"))
      .collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toSeq.sortBy(_._1)
    var assigned: DataFrame = spark.emptyDataFrame
    for (_ <- 1 to iters) {
      assigned = assignToCentroids(emb, idCol, vecCol, centsDf(centSeq))
      centSeq = emb
        .join(assigned.select(col(idCol), col("assigned")), Seq(idCol))
        .select(col("assigned").as("clabel"),
          posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "x")))
        .groupBy("clabel", "pos")
        .agg(Q.r6(sum(col("x")) / count(lit(1))).as("mean"))
        .groupBy("clabel")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("mean")))),
          s => s.getField("mean")).as("centroid"))
        .collect()
        .map(r => r.getInt(0) -> r.getSeq[Double](1).toSeq).toSeq.sortBy(_._1)
    }
    IvfIndex(
      emb.join(assigned.select(col(idCol), col("assigned").as("list")),
        Seq(idCol)).select(col(idCol), col(vecCol), col("list")),
      centSeq, idCol, vecCol)
  }

  /** [[ivfFitLloyd]] over table `tbl` with `lists` lists (an SQL
    * expression) and `iters` rounds: seed centroids `c0`, then for each
    * round t the assignment `a$t(vec_id, list)` and the re-meaned
    * centroids `c$t(clabel, centroid)`.
    */
  def oracleLloydCtes(tbl: String, lists: String, iters: Int): String = {
    val rounds = (1 to iters).map { t => s"""
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
            JOIN (${oracleComponentsSql(tbl, "vec_id")}) u USING (vec_id)
            GROUP BY a.list, u.pos),
      c$t AS (SELECT list AS clabel, list(mean ORDER BY pos) AS centroid
            FROM m$t GROUP BY list)"""
    }
    s"""c0 AS (
        SELECT CAST(vec_id AS INTEGER) AS clabel,
               list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
        FROM $tbl WHERE vec_id < $lists),${rounds.mkString(",")}"""
  }

  /** Given [[oracleLloydCtes]] over `embeddings`: `mem(vec_id)`, the
    * vectors other than `queryId` in the `nProbe` lists nearest to it —
    * the candidates [[ivfTopK]] scores.
    */
  def oracleIvfProbeCtes(queryId: Long, nProbe: Int, iters: Int): String = s"""q AS (SELECT embedding AS qe FROM embeddings WHERE vec_id = $queryId),
      pd AS (SELECT c.clabel,
               list_sum(list_transform(list_zip(c.centroid, q.qe),
                 p -> (p[1] - CAST(p[2] AS DOUBLE))
                    * (p[1] - CAST(p[2] AS DOUBLE)))) AS dist2
             FROM c$iters c CROSS JOIN q),
      probe AS (SELECT clabel FROM pd ORDER BY dist2, clabel LIMIT $nProbe),
      mem AS (SELECT a.vec_id FROM a$iters a
              JOIN probe p ON a.list = p.clabel
              WHERE a.vec_id <> $queryId)"""

  def ivfTopK(index: IvfIndex, queryId: Long, k: Int, nProbe: Int): DataFrame = {
    val q = index.assigned.filter(col(index.idCol) === queryId)
      .select(col(index.vecCol).as("__qv")).head()
    val qv = q.getSeq[Float](0).map(_.toDouble)
    def dist2(c: Seq[Double]): Double =
      c.zip(qv).map { case (a, b) => (a - b) * (a - b) }.sum
    val probeLists = index.centroids.sortBy { case (i, c) => (dist2(c), i) }
      .take(nProbe).map(_._1)
    index.assigned
      .filter(col("list").isin(probeLists: _*) &&
        col(index.idCol) =!= queryId)
      .select(col(index.idCol),
        Q.r6(cosine(col(index.vecCol), typedLit(qv.map(_.toFloat))))
          .as("cos"))
      .orderBy(desc("cos"), col(index.idCol))
      .limit(k)
  }

  /** Per-label centroids as ordered double arrays, means rounded to 6
    * decimals so downstream distance math runs on cross-engine-identical
    * operands. One explode + one fixed-size agg; the result is k rows.
    */
  def centroidsByLabel(
      emb: DataFrame, vecCol: String, labelCol: String): DataFrame =
    emb.select(col(labelCol).as("clabel"),
        posexplode(col(vecCol)).as(Seq("pos", "x")))
      .groupBy("clabel", "pos")
      .agg(Q.r6(sum(col("x").cast("double")) / count(lit(1))).as("mean"))
      .groupBy("clabel")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("mean")))),
        s => s.getField("mean")).as("centroid"))

  /** Nearest-centroid assignment (the k-means E-step against fixed
    * centroids): each vector scored against all k centroids via a
    * sequential-fold squared distance (same left-to-right double
    * accumulation both engines use for the LSH dot products, so the
    * argmin ordering is bit-identical), ties broken by label. The
    * centroid side is k rows — broadcast, no shuffle on the corpus.
    */
  def assignToCentroids(
      emb: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame): DataFrame = {
    // codegen'd sequential fold of (x-y)^2 — bit-identical to the
    // zip_with/aggregate form (same double ops, same order), so the
    // argmin and oracle parity are unchanged; ~20x faster per row,
    // which matters now the E-step scores n*k rows at corpus-scaled k
    // (see graft.expressions.SqDist).
    val dist2 = graft.expressions.SqDist.sqDist(
      col(vecCol), col("centroid"))
    // argmin via min(struct): lexicographic struct ordering = (dist, label)
    // tie-break, map-side combinable — no per-id window sort.
    emb.crossJoin(broadcast(centroids))
      .withColumn("__d2", dist2)
      .groupBy(idCol)
      .agg(min(struct(col("__d2").as("d2"), col("clabel").as("cl"))).as("__m"))
      .select(col(idCol), col("__m.cl").as("assigned"), col("__m.d2").as("dist2"))
  }

  /** Corpus-scaled planes-per-band: the smallest p with
    * targetBucket * 2^p >= n, clamped to [minP, maxP] — bucket count
    * grows exponentially with p at constant per-row cost, so expected
    * occupancy stays ~targetBucket as the corpus scales instead of going
    * quadratic at a fixed parameterization (the measured sf100 bound of
    * the fixed-4-plane family). Integer-exact (bit length of the
    * ceil-divided quotient), replayable verbatim in SQL as
    * `length(printf('%b', q - 1))` — no float log2 boundary risk.
    */
  def scaledPlaneCount(
      n: Long, targetBucket: Long, minP: Int, maxP: Int): Int = {
    val q = (n + targetBucket - 1) / targetBucket
    val bits =
      if (q <= 1) 0 else 64 - java.lang.Long.numberOfLeadingZeros(q - 1)
    math.min(math.max(bits, minP), maxP)
  }

  /** Corpus-scaled k-means list count — [[scaledPlaneCount]]'s sibling
    * for the cluster-based SemDeDup family: `ceil(n / targetCluster)`
    * clamped to [minK, maxK], so expected cluster size stays
    * ~targetCluster as the corpus scales and the within-cluster pair
    * mass stays ~targetCluster/2 * n (linear in the corpus) instead of
    * going quadratic at a fixed k — exactly the regime the SemDeDup
    * paper runs (tens of thousands of clusters on billions of
    * embeddings). Unlike the LSH planes, cluster count is the unit
    * itself, so the scaling is plain ceil-division, not a bit length.
    * Integer-exact and replayable verbatim in SQL as
    * `GREATEST(minK, LEAST(maxK, (COUNT(*) + t - 1) // t))`.
    */
  def scaledListCount(
      n: Long, targetCluster: Long, minK: Int, maxK: Int): Int = {
    val k = (n + targetCluster - 1) / targetCluster
    math.min(math.max(k, minK.toLong), maxK.toLong).toInt
  }

  /** Seeded random hyperplanes (driver-side, deterministic). */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Seq[Seq[Double]] = {
    val rng = new scala.util.Random(seed)
    Seq.fill(nPlanes)(Seq.fill(dim)(rng.nextGaussian()))
  }

  /** Sign-bit LSH bucket id for a vector column against fixed planes. */
  def lshBucket(vec: Column, planes: Seq[Seq[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      when(dotD(vec, typedLit(p)) > 0, shiftleft(lit(1L), i)).otherwise(lit(0L))
    }.reduce(_ bitwiseOR _)

  /** Sign-bit bucket id from the first `nPlanes` coordinates — the
    * deterministic, SQL-expressible axis-hyperplane hash (same family as
    * `nearDupPairsSignLsh`), so ANN built on it is DuckDB-oracle-checkable
    * end to end.
    */
  def signBucket(vec: Column, nPlanes: Int): Column =
    (0 until nPlanes).map { j =>
      when(element_at(vec, j + 1) > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** ANN top-k with sign-bit (axis-hyperplane) buckets: score only vectors
    * sharing the query's bucket, exact cosine rerank inside it. Fully
    * deterministic and SQL-expressible — the whole pruned pipeline
    * (bucketing + rerank) hash-checks against DuckDB.
    */
  def annTopKSign(
      emb: DataFrame, idCol: String, vecCol: String, queryId: Long, k: Int,
      nPlanes: Int = 4): DataFrame = {
    val bucketed =
      emb.withColumn("__bucket", signBucket(col(vecCol), nPlanes))
    val q = bucketed.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qv"), col("__bucket"))
    bucketed.filter(col(idCol) =!= queryId)
      .join(broadcast(q), Seq("__bucket"))
      .select(col(idCol), Q.r6(cosine(col(vecCol), col("__qv"))).as("cos"))
      .orderBy(desc("cos"), col(idCol))
      .limit(k)
  }

  /** ANN top-k: score only vectors sharing the query's LSH bucket, exact
    * cosine rerank inside the bucket. Recall < 1 by design; nPlanes trades
    * bucket size vs recall.
    */
  def annTopK(
      emb: DataFrame, idCol: String, vecCol: String, queryId: Long, k: Int,
      nPlanes: Int = 8, dim: Int = 64, seed: Long = 42): DataFrame = {
    val planes = hyperplanes(nPlanes, dim, seed)
    val bucketed = emb.withColumn("__bucket", lshBucket(col(vecCol), planes))
    val q = bucketed.filter(col(idCol) === queryId)
      .select(col(vecCol).as("__qv"), col("__bucket"))
    bucketed.filter(col(idCol) =!= queryId)
      .join(broadcast(q), Seq("__bucket"))
      .select(col(idCol), Q.r6(cosine(col(vecCol), col("__qv"))).as("cos"))
      .orderBy(desc("cos"), col(idCol))
      .limit(k)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): drop
    * every vector that has a LOWER-id near-duplicate (cosine >=
    * threshold) among its sign-LSH candidates; keep the rest. The
    * min-id-wins greedy is the standard one-pass rule — no connected
    * components, so a chain a~b~c keeps a and drops b and c (c has the
    * smaller neighbor b regardless of b's own fate). Cost is the banded
    * candidate join plus one anti-join; nothing is all-pairs.
    */
  def semanticDedupKeep(
      emb: DataFrame, idCol: String, vecCol: String, threshold: Double,
      nBands: Int = 8, planesPerBand: Int = 4): DataFrame = {
    val pairs = nearDupPairsSignLsh(
      emb, idCol, vecCol, threshold, nBands, planesPerBand)
    val drop = pairs.select(col("id_b").as(idCol)).distinct()
    emb.join(drop, Seq(idCol), "left_anti")
  }

  /** SemDeDup in the PAPER's actual shape (Abbas et al. 2023 §2: k-means
    * cluster the embeddings, then threshold pairwise cosine WITHIN each
    * cluster and keep one representative per duplicate relation): pairs
    * are generated per cluster list from a fitted [[IvfIndex]], exact
    * cosine reranked, and every vector with a LOWER-id near-duplicate in
    * its cluster is dropped — the same min-id-wins greedy as
    * [[semanticDedupKeep]], so the two keep-lists differ only in the
    * BLOCKING geometry (centroid cells vs sign-LSH bands) and can be
    * audited against each other. Cluster count bounds the pair mass: the
    * paper scales k with the corpus (50k clusters on LAION); the
    * parity-mode gate reuses the deterministic 8-list Lloyd fit, and the
    * production path is the same composition over [[ivfFit]] (seeded
    * MLlib k-means) with k ∝ n. Cost: one shuffle on the list key + the
    * within-cluster join; nothing is all-pairs across clusters.
    */
  def semanticDedupKMeans(
      index: IvfIndex, threshold: Double, blocks: Int = 8): DataFrame = {
    val idCol = index.idCol
    val vecCol = index.vecCol
    // Triangular block decomposition of the within-cluster self-join:
    // a plain join on `list` caps parallelism at the CLUSTER COUNT (the
    // parity-mode fit has 8 lists, so a 2M-vector corpus ran 8-wide —
    // observed at sf100). Splitting each cluster into `blocks` id-hash
    // sub-blocks turns every cluster into blocks*(blocks+1)/2
    // independent block-pair tasks (8 lists x 36 tasks = 288-way), the
    // standard all-pairs triangle scheme. Each unordered vector pair
    // meets in exactly one block-pair task — except same-block pairs,
    // which meet in both orientations inside their diagonal task; the
    // drop rule (`greatest(id)` + distinct) absorbs the double hit. Dot
    // and norms are commutative, so the r6'd cosine is orientation-
    // independent and the drop SET — and every small-sf hash — is
    // unchanged; the oracle SQL needs no change.
    val withNorm = index.assigned.select(
      col("list"), col(idCol), col(vecCol), normD(col(vecCol)).as("__n"),
      pmod(col(idCol), lit(blocks.toLong)).as("__blk"))
    val a = withNorm
      .withColumn("__hi", explode(sequence(col("__blk"), lit(blocks - 1L))))
      .select(col("list"), col("__blk").as("__lo"), col("__hi"),
        col(idCol).as("id_a"), col(vecCol).as("__va"), col("__n").as("__na"))
    val b = withNorm
      .withColumn("__lo", explode(sequence(lit(0L), col("__blk"))))
      .select(col("list"), col("__lo"), col("__blk").as("__hi"),
        col(idCol).as("id_b"), col(vecCol).as("__vb"), col("__n").as("__nb"))
    val drop = a.join(b, Seq("list", "__lo", "__hi"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b"),
        Q.r6(dotD(col("__va"), col("__vb")) / (col("__na") * col("__nb")))
          .as("cos"))
      .filter(col("cos") >= threshold)
      .select(greatest(col("id_a"), col("id_b")).as(idCol)).distinct()
    index.assigned.select(col(idCol))
      .join(drop, Seq(idCol), "left_anti")
  }

  /** Per-vector subvector frame for product quantization: each vector
    * split into `m` contiguous `subDim`-wide slices — (id, sub, subvec).
    */
  def pqSubvectors(
      emb: DataFrame, idCol: String, vecCol: String, m: Int, subDim: Int)
      : DataFrame =
    emb.select(
        col(idCol), explode(sequence(lit(0), lit(m - 1))).as("sub"),
        col(vecCol))
      .select(col(idCol), col("sub"),
        expr(s"slice($vecCol, sub * $subDim + 1, $subDim)").as("subvec"))

  /** Product-quantization codebooks + codes (Jégou et al., "Product
    * Quantization for Nearest Neighbor Search", TPAMI 2011): per
    * subspace, a deterministic Lloyd fit in [[ivfFitLloyd]]'s convention
    * (seed sub-centroids = the `kSub` smallest ids' subvectors cast to
    * double, `iters` E/M rounds, means r6'd so every operand is
    * cross-engine identical), then each vector's code per subspace is its
    * nearest sub-centroid (ties to the smaller label). All m subspaces
    * fit in ONE dataflow: the E-step joins the subvector frame to the
    * m*kSub-row codebook on `sub` (broadcast — no corpus shuffle) and
    * argmins via min(struct); the M-step is a (sub, label, pos)-keyed
    * mean of m*kSub*subDim rows. Returns (codes (id, sub, code),
    * codebook (sub, clabel, centroid)).
    *
    * PRECONDITION (shared with [[ivfFitLloyd]]): `idCol` must be
    * contiguous and 0-based — the seed filter `id < kSub` equals "the
    * kSub smallest ids" only then; a sparse or 1-based id space yields
    * fewer (possibly zero) seed centroids. Re-key with
    * `row_number() - 1` first if ids are arbitrary. The bundled
    * embeddings table satisfies this by construction.
    */
  def pqFit(
      emb: DataFrame, idCol: String, vecCol: String, m: Int, subDim: Int,
      kSub: Int, iters: Int): (DataFrame, DataFrame) = {
    val subs = pqSubvectors(emb, idCol, vecCol, m, subDim)
    val dist2 = aggregate(
      zip_with(col("subvec"), col("centroid"),
        (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
      lit(0.0), (acc, v) => acc + v)
    var cents: DataFrame = subs.filter(col(idCol) < kSub)
      .select(col("sub"), col(idCol).cast("int").as("clabel"),
        transform(col("subvec"), x => x.cast("double")).as("centroid"))
    var codes: DataFrame = cents.sparkSession.emptyDataFrame
    for (_ <- 1 to iters) {
      codes = subs.join(broadcast(cents), Seq("sub"))
        .withColumn("__d2", dist2)
        .groupBy(idCol, "sub")
        .agg(min(struct(col("__d2").as("d2"), col("clabel").as("cl")))
          .as("__m"))
        .select(col(idCol), col("sub"), col("__m.cl").as("code"))
      cents = subs.join(codes, Seq(idCol, "sub"))
        .select(col("sub"), col("code").as("clabel"),
          posexplode(col("subvec").cast("array<double>"))
            .as(Seq("pos", "x")))
        .groupBy("sub", "clabel", "pos")
        .agg(Q.r6(sum(col("x")) / count(lit(1))).as("mean"))
        .groupBy("sub", "clabel")
        .agg(transform(
          array_sort(collect_list(struct(col("pos"), col("mean")))),
          s => s.getField("mean")).as("centroid"))
    }
    (codes, cents)
  }

  /** Replay of [[pqTopKAdc]] for stored vector `queryId` before its
    * top-k cut: the subvectors `sv(vec_id, sub, subvec)`, the `iters`
    * Lloyd rounds per subspace of [[pqFit]] (each round t assigns
    * `pa$t(vec_id, sub, code)` to the nearest sub-centroid, ties to the
    * smaller label like Spark's min(struct), and re-means `pc$t` with the
    * same round-6 convention), the query's lookup table and
    * `adc(vec_id, adc_d2_micro)` for every other vector.
    */
  def oraclePqAdcCtes(
      queryId: Long, m: Int, subDim: Int, kSub: Int, iters: Int): String = {
    val rounds = (1 to iters).map { t => s"""
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
    }
    s"""sv AS MATERIALIZED (
        SELECT vec_id, sub,
               list_slice(embedding, sub * $subDim + 1,
                 sub * $subDim + $subDim) AS subvec
        FROM embeddings
        CROSS JOIN (SELECT unnest(generate_series(0, ${m - 1})) AS sub) g),
      pc0 AS (
        SELECT sub, CAST(vec_id AS INTEGER) AS clabel,
               list_transform(subvec, x -> CAST(x AS DOUBLE)) AS centroid
        FROM sv WHERE vec_id < $kSub),${rounds.mkString(",")},
      q AS (SELECT sub, subvec FROM sv WHERE vec_id = $queryId),
      tbl AS (SELECT c.sub, c.clabel,
               CAST(floor(list_sum(list_transform(
                 list_zip(q.subvec, c.centroid),
                 p -> (CAST(p[1] AS DOUBLE) - p[2])
                    * (CAST(p[1] AS DOUBLE) - p[2]))) * 1000000.0 + 0.5)
                 AS BIGINT) AS d2_micro
              FROM pc$iters c JOIN q ON q.sub = c.sub),
      adc AS (SELECT a.vec_id, CAST(SUM(t.d2_micro) AS BIGINT)
                       AS adc_d2_micro
              FROM pa$iters a
              JOIN tbl t ON t.sub = a.sub AND t.clabel = a.code
              WHERE a.vec_id <> $queryId
              GROUP BY a.vec_id)"""
  }

  /** PQ ADC (asymmetric distance computation) top-k for one query id:
    * the query's RAW subvectors are scored against the codebook once
    * (m*kSub distances, emitted in exact integer micro-units), and every
    * corpus vector's approximate distance is then the Σ over its m codes
    * of that lookup table — a code-only broadcast join + an integer sum,
    * never touching the corpus floats again. That is the PQ memory/
    * bandwidth win at 100 TB: the scan reads m small ints per vector,
    * not the d-float embedding. Integer micro-unit terms make the
    * cross-subspace total order-independent, so the ranking is
    * hash-replayable cross-engine.
    */
  def pqTopKAdc(
      emb: DataFrame, idCol: String, vecCol: String, queryId: Long, k: Int,
      m: Int = 4, subDim: Int = 16, kSub: Int = 8, iters: Int = 2)
      : DataFrame = {
    val (codes, cents) = pqFit(emb, idCol, vecCol, m, subDim, kSub, iters)
    val dist2 = aggregate(
      zip_with(col("subvec"), col("centroid"),
        (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
      lit(0.0), (acc, v) => acc + v)
    val table = pqSubvectors(emb, idCol, vecCol, m, subDim)
      .filter(col(idCol) === queryId)
      .join(broadcast(cents), Seq("sub"))
      .select(col("sub"), col("clabel"),
        floor(dist2 * lit(1e6) + lit(0.5)).cast("long").as("d2_micro"))
    codes.filter(col(idCol) =!= queryId)
      .join(broadcast(table),
        codes("sub") === table("sub") && col("code") === col("clabel"))
      .groupBy(idCol)
      .agg(sum("d2_micro").as("adc_d2_micro"))
      .select(col(idCol), col("adc_d2_micro"),
        (col("adc_d2_micro") / lit(1000000.0)).as("adc_dist2"))
      .orderBy(col("adc_d2_micro"), col(idCol))
      .limit(k)
  }
}
