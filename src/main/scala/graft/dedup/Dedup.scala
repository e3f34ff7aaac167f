package graft.dedup

import graft.Q
import graft.graph.VertexLoop
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact (hash
  * groupBy), character-shingle Jaccard, MinHash+LSH, SimHash.
  *
  * Scale design: everything reduces through groupBy/join on
  * shingle/signature keys — no driver-side collection, no cross joins of
  * raw documents. MinHash-LSH turns the O(n²) pair problem into a
  * band-bucket equi-join; SimHash compresses each doc to 60 bits.
  *
  * Every hash is the md5-based cross-engine form, so each operator has a
  * DuckDB replay; the `oracle*` fragments below are those replays, shared
  * by every query whose oracle needs them.
  */
object Dedup {

  /** Unseeded 60-bit cross-engine hash: the first 15 hex chars of
    * md5(c), parsed base-16. Bit-identical to DuckDB [[oracleMd5Bits60]];
    * the seeded, mod-P31 and HLL hashes below are all this one.
    */
  def md5Bits60(c: Column): Column =
    conv(substring(md5(c), 1, 15), 16, 10).cast("long")

  /** The DuckDB twin of [[md5Bits60]] over the VARCHAR expression `s`
    * (`||`, not `concat`, so that a NULL input gives NULL, as in Spark:
    * `concat` skips NULLs and the cast of a bare '0x' fails).
    */
  def oracleMd5Bits60(s: String): String =
    s"CAST('0x' || substring(md5($s), 1, 15) AS BIGINT)"

  /** Seeded 60-bit cross-engine hash: [[md5Bits60]] of `c || '|' || seed`,
    * which makes MinHash/SimHash pipelines fully DuckDB-oracle-checkable.
    * ~3x the CPU of xxhash64 — still a per-token projection that scales.
    */
  val md5Hash60: (Column, Int) => Column = (c, seed) =>
    md5Bits60(concat(c, lit("|" + seed)))

  /** The DuckDB twin of [[md5Hash60]] over the VARCHAR expression `s`. */
  def oracleMd5Hash60(s: String, seed: Int): String =
    oracleMd5Bits60(s"$s || '|$seed'")

  /** Modulus for the universal-hash permutation family: the Mersenne
    * prime 2^31-1. Keeps a*(h mod p)+b under 2^62, so the arithmetic is
    * exact in both Spark (wrapping) and DuckDB (overflow-checked) BIGINT.
    */
  val P31 = 2147483647L

  /** Deterministic (a_i, b_i) pairs for the permutation family
    * h_i = (a_i * h + b_i) mod P31, a_i in [1, P31-1], b_i in [0, P31-1].
    */
  def permConstants(n: Int): Seq[(Long, Long)] = (0 until n).map { i =>
    val a = ((1103515245L * (i + 1) + 12345L) % (P31 - 1)) + 1L
    val b = (1000003L * i + 12345L) % P31
    (a, b)
  }

  /** [[md5Bits60]] reduced mod P31 — ONE md5 per input; the permutations
    * above fan it out arithmetically. DuckDB twin: [[oracleMd5Base]].
    */
  def md5Base(c: Column): Column = md5Bits60(c) % P31

  /** The DuckDB twin of [[md5Base]] over the VARCHAR expression `s`. */
  def oracleMd5Base(s: String): String = s"${oracleMd5Bits60(s)} % $P31"

  /** Exact duplicate groups by an arbitrary key expression: group size and
    * kept (minimum) id per group with >1 member.
    */
  def exactDupGroups(df: DataFrame, idCol: String, key: Column): DataFrame =
    df.groupBy(key.as("key"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("keep_id"))
      .filter(col("n") > 1)

  /** Deduplicated table: keep the lowest-id row per key (one shuffle —
    * the actual "drop duplicates" companion to `exactDupGroups`).
    */
  def dedupKeepFirst(df: DataFrame, idCol: String, key: Column): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(key).orderBy(col(idCol))
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn")
  }

  /** Distinct character k-shingles, one row per (id, shingle). */
  def shingleSet(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame =
    df.select(col(idCol), explode(shingleArray(textCol, k)).as("sh"))

  /** Exact Jaccard for given candidate id pairs (pairs with empty
    * intersection are dropped — they'd be 0 anyway).
    * `pairs` must have columns (id_a, id_b).
    */
  def jaccardForPairs(shingles: DataFrame, pairs: DataFrame): DataFrame = {
    val a = shingles.toDF("id_a", "sh")
    val b = shingles.toDF("id_b", "sh")
    val sz = shingles.toDF("id", "sh")
      .groupBy("id").agg(count(lit(1)).as("n"))
    val inter = a.join(pairs, Seq("id_a"))
      .join(b, Seq("id_b", "sh"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    inter
      .join(sz.toDF("id_a", "n_a"), Seq("id_a"))
      .join(sz.toDF("id_b", "n_b"), Seq("id_b"))
      .select(
        col("id_a"), col("id_b"),
        Q.r6(col("inter") * 1.0 / (col("n_a") + col("n_b") - col("inter")))
          .as("jaccard"))
  }

  /** Cross-group duplicate "leakage matrix": for every unordered pair of
    * groups (corpus sources, train/eval shards), the number of duplicate
    * DOC PAIRS sharing a fingerprint key — the shard-contamination
    * report run before a training/eval split ships. Counting happens on
    * the (key, group)->count frame, so the join is over dup-group
    * cardinalities, never raw documents: within-group pairs are
    * c*(c-1)/2, cross-group pairs c_a*c_b — all exact integers.
    */
  def dupLeakageMatrix(
      df: DataFrame, key: Column, groupCol: String): DataFrame = {
    val g = df.groupBy(key.as("fp"), col(groupCol).as("grp"))
      .agg(count(lit(1)).as("c"))
    g.toDF("fp", "grp_a", "c_a")
      .join(g.toDF("fp", "grp_b", "c_b"), Seq("fp"))
      .filter(col("grp_a") <= col("grp_b"))
      .select(col("grp_a"), col("grp_b"),
        when(col("grp_a") === col("grp_b"),
          expr("c_a * (c_a - 1) div 2")).otherwise(col("c_a") * col("c_b"))
          .as("pairs"))
      .groupBy("grp_a", "grp_b").agg(sum("pairs").as("dup_pairs"))
      .filter(col("dup_pairs") > 0)
      .orderBy("grp_a", "grp_b")
  }

  /** EXACT all-pairs Jaccard >= t via prefix filtering (the AllPairs /
    * PPJoin candidate scheme, Bayardo et al. WWW'07 shape): order each
    * set's shingles by ascending global document frequency (rarest
    * first, shingle tiebreak), keep only the first
    * `|S| - ceil(t*|S|) + 1` as the set's PREFIX, and equi-join prefixes
    * on the shingle. Lossless: J(A,B) >= t implies the globally-smallest
    * shared shingle sits inside BOTH prefixes (else one side would have
    * more than `|S| - t*|S|` exclusive shingles before it, capping the
    * intersection below `t*|S|`). So candidate generation never goes
    * all-pairs — rare shingles drive the join and frequency-heavy
    * shingles never fan out — and exact Jaccard verification runs on
    * candidates only. Plan: one frequency agg, one per-set sort window
    * (partitioned by id — never a global rank), one prefix equi-join,
    * then `jaccardForPairs`.
    */
  def allPairsJaccard(
      shingles: DataFrame, threshold: Double): DataFrame = {
    // Four consumers read the shingle frame (frequency agg, prefix rank,
    // and both sides of the verification join): localCheckpoint
    // materializes the explode once and frees its lineage — blocks are
    // released with the RDD, no caller-managed unpersist needed.
    val df = shingles.toDF("id", "sh").localCheckpoint()
    val freq = df.groupBy("sh").agg(count(lit(1)).as("df"))
    val wDoc = Window.partitionBy("id").orderBy("df", "sh")
    val ranked = df.join(freq, Seq("sh"))
      .select(col("id"), col("sh"), row_number().over(wDoc).as("pos"),
        count(lit(1)).over(Window.partitionBy("id")).as("n"))
    val prefix = ranked
      .filter(col("pos") <= col("n") - ceil(lit(threshold) * col("n")) + 1)
      .select("id", "sh")
    val cand = prefix.toDF("id_a", "sh")
      .join(prefix.toDF("id_b", "sh"), Seq("sh"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    jaccardForPairs(df, cand).filter(col("jaccard") >= threshold)
  }

  /** MinHash via the universal-hash permutation family over ONE md5 base
    * hash per shingle: h_i = (a_i*h + b_i) mod P31. 32x fewer hash
    * evaluations than hashing per seed, and every step is expressible in
    * DuckDB SQL verbatim — the oracle-checkable production path.
    */
  def minhashSignaturesPerm(
      shingles: DataFrame, numHashes: Int): DataFrame = {
    val aggs = permConstants(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("__h") + lit(b)) % P31).as(s"__m$i")
    }
    shingles.toDF("id", "sh")
      .withColumn("__h", md5Base(col("sh")))
      .groupBy("id").agg(aggs.head, aggs.tail: _*)
      .select(
        col("id"),
        array((0 until numHashes).map(i => col(s"__m$i")): _*).as("sig"))
  }

  /** Distinct k-shingle ARRAY of a text column — the same value set
    * [[shingleSet]] explodes, kept per-row so consumers can compute
    * whole-document statistics (signatures, intersections) without a
    * Generate + re-group round trip. Compiled kernel
    * ([[graft.expressions.ShingleSet]]): one O(bytes) scan instead of
    * the composed form's interpreted per-position lambdas with O(n^2)
    * substring re-scans.
    */
  def shingleArray(textCol: String, k: Int): Column =
    graft.expressions.ShingleMinHash.shingleSet(col(textCol), k)

  /** MinHash signatures computed PER ROW — the same integer arithmetic
    * as [[minhashSignaturesPerm]] over [[shingleSet]] (one md5 per
    * distinct shingle, then min of (a_i*h + b_i) mod P31 per
    * permutation), but evaluated as ONE compiled projection over the doc
    * table ([[graft.expressions.MinHashSig]]): no Generate, no exchange,
    * nothing shuffled at all. The exploded path shuffles ~|shingles|
    * hashed rows per doc to regroup what was already grouped — per-row
    * evaluation keeps the signature derivation where the text is (guide
    * §2.4: remove shuffles outright). Null texts are dropped, exactly as
    * the explode drops them. Per-row transient state is O(doc length) —
    * the same order as the text itself.
    */
  def minhashSigsPerRow(
      df: DataFrame, idCol: String, textCol: String, k: Int,
      numHashes: Int): DataFrame =
    df
      .filter(col(textCol).isNotNull)
      .select(
        col(idCol).as("id"),
        graft.expressions.ShingleMinHash
          .minhashSig(col(textCol), k, permConstants(numHashes))
          .as("sig"))

  /** (id, sig, band, bucket) banding of a signature frame — the shared
    * blocking step of the self-join and cross-set LSH variants below.
    */
  private def banded(sigs: DataFrame, bands: Int): DataFrame = {
    // bucket key per band: the band's signature slice joined to a string —
    // bit-identical to DuckDB string_agg(m, ',' ORDER BY perm)
    val sliceExpr =
      s"slice(sig, band * (size(sig) div $bands) + 1, size(sig) div $bands)"
    val bucketCol =
      expr(s"array_join(transform($sliceExpr, x -> cast(x as string)), ',')")
    sigs
      .select(col("id"), col("sig"),
        explode(sequence(lit(0), lit(bands - 1))).as("band"))
      .select(col("id"), col("sig"), col("band"), bucketCol.as("bucket"))
  }

  /** Estimated similarity of two joined signature columns: fraction of
    * matching minhash positions.
    */
  private def estJaccard: Column =
    Q.r6(
      expr("size(filter(zip_with(sig_a, sig_b, (x, y) -> x = y), z -> z))") *
        1.0 / expr("size(sig_a)"))

  /** LSH candidate pairs: split signatures into `bands` bands, bucket by
    * band hash, emit distinct id pairs sharing any bucket, with estimated
    * similarity = fraction of matching minhashes. `sigs` is read three
    * times (banding and two joins back), so pass a materialized frame
    * (a `localCheckpoint` or a memoized `ChainGuard.frame`): its upstream
    * shingling and hashing is the pipeline's most expensive stage.
    */
  def lshCandidates(sigs: DataFrame, bands: Int): DataFrame = {
    val bk = banded(sigs, bands)
    // dedupe bare id pairs first (cheap shuffle), then join signatures
    // back — never shuffle signature arrays through the pair distinct
    val a = bk.select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = bk.select(col("band"), col("bucket"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    pairs
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), estJaccard.as("est_jaccard"))
  }

  /** Star-reduced LSH bucket edges — the SCALE-MODE input to connected
    * components: within one (band, bucket) every member pair is an LSH
    * candidate, but component connectivity only needs the bucket
    * SPANNED, so one hub star (min id -> each other member) replaces
    * the C(n,2) pair set. Edge volume is O(corpus x bands) instead of
    * O(duplicate-mass^2) — at the adversarial sf1 corpus that is ~200k
    * edges where the verified-pair chain materializes 36.7M. The
    * components over these edges equal the components over the FULL
    * unverified candidate-pair graph (star spans each bucket; the
    * transitive closure is identical) — what is dropped is the
    * per-pair est_jaccard >= t verification, which is exactly the
    * production trade ("bucket-connectivity dedup"): banding
    * parameters, not a post-filter, set the similarity bar.
    */
  def lshBucketStarEdges(sigs: DataFrame, bands: Int): DataFrame = {
    val bk = banded(sigs, bands)
    bk.select(col("band"), col("bucket"), col("id"))
      .withColumn("id_a",
        min(col("id")).over(Window.partitionBy("band", "bucket")))
      .filter(col("id") =!= col("id_a"))
      .select(col("id_a"), col("id").as("id_b"))
      .distinct()
  }

  /** SCALE-MODE incremental ingest flags: ids from `newSigs` that share at
    * least one (band, bucket) with ANY member of `oldSigs` — the
    * bucket-connectivity twin of [[lshCandidatesAcross]]. The corpus side
    * collapses to its DISTINCT bucket set before the join and the new
    * side is a semi-join probe, so nothing is ever pair-materialized:
    * cost is O(corpus x bands) to build the bucket index (precomputable,
    * incrementally maintainable) + O(shard x bands) to probe it, where
    * the verified-pair form is quadratic in per-bucket duplicate mass
    * (the measured sf100 disk kill). What is given up is the per-pair
    * est_jaccard >= t verification: banding parameters set the
    * similarity bar, same trade as [[lshBucketStarEdges]].
    */
  def lshBucketHitIds(
      newSigs: DataFrame, oldSigs: DataFrame, bands: Int): DataFrame = {
    val probe = banded(newSigs, bands)
      .select(col("band"), col("bucket"), col("id"))
    val index = banded(oldSigs, bands)
      .select(col("band"), col("bucket")).distinct()
    probe.join(index, Seq("band", "bucket"), "left_semi")
      .select("id").distinct()
  }

  /** Cross-set LSH: candidate (id_a from `newSigs`, id_b from `oldSigs`)
    * pairs sharing any band bucket — the INCREMENTAL ingest shape, where
    * a new shard is deduped against the existing corpus instead of
    * against itself. Same banding, pair-dedup-before-signature-join, and
    * estimate as `lshCandidates`; at scale the old side's banded buckets
    * are a precomputed index the daily shard joins against.
    * Both signature frames are materialized once via localCheckpoint
    * (consumed twice each) — blocks free with RDD GC, no caller contract.
    */
  def lshCandidatesAcross(
      newSigs: DataFrame, oldSigs: DataFrame, bands: Int): DataFrame = {
    val ns = newSigs.localCheckpoint()
    val os = oldSigs.localCheckpoint()
    val a = banded(ns, bands)
      .select(col("band"), col("bucket"), col("id").as("id_a"))
    val b = banded(os, bands)
      .select(col("band"), col("bucket"), col("id").as("id_b"))
    val pairs = a.join(b, Seq("band", "bucket"))
      .select("id_a", "id_b").distinct()
    pairs
      .join(ns.select(col("id").as("id_a"), col("sig").as("sig_a")), Seq("id_a"))
      .join(os.select(col("id").as("id_b"), col("sig").as("sig_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"), estJaccard.as("est_jaccard"))
  }

  /** Connected components over an undirected edge list `(id_a, id_b)` by
    * min-label propagation: every vertex's label converges to the smallest
    * vertex id in its component — the canonical "keep this doc, drop the
    * rest" cluster id that turns near-dup PAIRS into dedup DECISIONS. An
    * edge with a null endpoint is dropped: a null id is not a vertex.
    *
    * [[graft.graph.VertexLoop.minProgram]] run to the fixpoint: at most
    * diameter + 1 rounds, one Spark job each. The sf0.01 LSH verified-pair
    * graph (378 vertices, 3,351 edges) takes 7 rounds, the bucket-star
    * graph (380 vertices, 559 edges) 10.
    */
  def connectedComponents(edges: DataFrame): DataFrame = {
    val e = edges.select(
      col("id_a").cast("long"), col("id_b").cast("long"), lit(1L)).na.drop()
    val labels = VertexLoop.run[Long, Long](e, undirected = true, Int.MaxValue)(
      VertexLoop.minProgram(identity, identity))
    edges.sparkSession.createDataFrame(labels).toDF("id", "comp")
  }

  /** STREAMING exact dedup: the same keep-first-arrival semantics as
    * `exactDupGroups`, but over a Structured Streaming read —
    * `dropDuplicates` keeps per-key state (one md5 fingerprint per
    * distinct doc) across micro-batches, so late duplicates are dropped
    * exactly once no matter which batch they arrive in. The survivors
    * drain to a memory sink and are summarized per language batch-side;
    * the oracle is the batch COUNT(DISTINCT text) per lang.
    */
  def streamingDistinctCounts(
      spark: SparkSession, sfDir: String): DataFrame = {
    val firsts = graft.sources.StreamRead.table(spark, sfDir, "documents")
      .select(col("lang"), md5(col("text").cast("binary")).as("fp"))
      .dropDuplicates("lang", "fp")
    graft.streaming.Streams
      .drain(firsts, "append", s"$sfDir/documents.parquet")
      .groupBy("lang").agg(count(lit(1)).as("n_distinct"))
      .orderBy("lang")
  }

  /** Watermark-bounded streaming exact dedup over the event stream —
    * the production form of [[streamingDistinctCounts]]: per-key state
    * is EVICTED once the event-time watermark passes, so state stays
    * proportional to the dedup window instead of the whole history.
    * Duplicates arriving inside the delay dedupe exactly; the harness
    * file source drains in order, so the drained table equals the batch
    * per-type distinct-user count (the gate's oracle).
    */
  def streamingDistinctUsersWithinWatermark(
      spark: SparkSession, sfDir: String): DataFrame = {
    val firsts = graft.streaming.EventOps.streamingEvents(spark, sfDir)
      .select(col("event_type"), col("user_id"),
        expr("timestamp_micros(ts div 1000)").as("ts_event"))
      .withWatermark("ts_event", "1 hour")
      .dropDuplicatesWithinWatermark("event_type", "user_id")
    graft.streaming.Streams
      .drain(firsts, "append", s"$sfDir/events.parquet")
      .groupBy("event_type").agg(count(lit(1)).as("n_users"))
      .orderBy("event_type")
  }

  /** SimHash fingerprint width: the 60 bits of one [[md5Hash60]]. */
  private val SimhashBits = 60

  /** SimHash over whitespace tokens weighted by in-doc frequency:
    * [[SimhashBits]]-bit fingerprints from [[md5Hash60]] token hashes, so
    * they replay in DuckDB ([[oracleSimhashCtes]]). One explode + one
    * wide aggregation; fingerprint assembled bitwise.
    */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(
        col(idCol).as("id"),
        explode(split(col(textCol), " ")).as("tok"))
      .groupBy("id", "tok").agg(count(lit(1)).as("w"))
      .withColumn("h", md5Hash60(col("tok"), 0))
    val bitSums = (0 until SimhashBits).map { i =>
      sum(when(shiftright(col("h"), i).bitwiseAND(lit(1L)) === 1L, col("w"))
        .otherwise(-col("w"))).as(s"s$i")
    }
    val fp = (0 until SimhashBits)
      .map(i => when(col(s"s$i") > 0, shiftleft(lit(1L), i)).otherwise(lit(0L)))
      .reduce(_ bitwiseOR _)
    toks.groupBy("id").agg(bitSums.head, bitSums.tail: _*)
      .select(col("id"), fp.as("simhash"))
  }

  /** All pairs within `maxDist` Hamming distance of each other's SimHash,
    * found EXACTLY without an all-pairs compare: split each fingerprint
    * into `nBands` contiguous `bandBits`-bit bands and equi-join on
    * (band, bucket). Pigeonhole: two fingerprints differing in at most
    * nBands-1 bits must agree on at least one full band, so with
    * maxDist < nBands the banded candidate set provably contains every
    * qualifying pair — banding here is a lossless pruning, unlike
    * MinHash-LSH's probabilistic recall. Candidates are verified with
    * one bit_count(xor) projection. Shuffle carries (id, fingerprint,
    * bucket) only.
    */
  def simhashHammingPairs(
      sh: DataFrame, nBands: Int, bandBits: Int, maxDist: Int): DataFrame = {
    require(maxDist < nBands,
      s"pigeonhole guarantee needs maxDist < nBands (got $maxDist >= $nBands)")
    val mask = (1L << bandBits) - 1
    val banded = sh.select(
        col("id"), col("simhash"),
        explode(array((0 until nBands).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("simhash"), b * bandBits).bitwiseAND(lit(mask))
              .as("bucket"))): _*)).as("bb"))
      .select(col("id"), col("simhash"), col("bb.band"), col("bb.bucket"))
    val a = banded.select(col("id").as("ia"), col("simhash").as("sa"),
      col("band"), col("bucket"))
    val b = banded.select(col("id").as("ib"), col("simhash").as("sb"),
      col("band"), col("bucket"))
    a.join(b, Seq("band", "bucket")).filter(col("ia") < col("ib"))
      .select(col("ia").as("id_a"), col("ib").as("id_b"),
        bit_count(col("sa").bitwiseXOR(col("sb"))).cast("long").as("dist"))
      .distinct()
      .filter(col("dist") <= maxDist)
  }

  // ---- DuckDB replays, in the `oracleCtes` idiom of graft.graph: each is
  // a CTE list that a query's oracle places after its own WITH. `where`
  // selects documents ("" or " WHERE <predicate>"); `pair` is a predicate
  // over the two join sides `a` and `b` (e.g. "a.id < b.id").

  /** The DuckDB twin of the positions `sequence(1, greatest(len - k + 1,
    * 0))` the shingle kernels take over `text` ([[graft.expressions.Shingles]]):
    * when the text has fewer than k chars the series descends to [1, 0],
    * and `substr` at either position is the whole text ('' included) —
    * one shingle of a short text, two occurrences of it. A NULL text has
    * no positions.
    */
  def oracleShinglePositions(k: Int): String =
    s"generate_series(1, greatest(length(text) - ${k - 1}, 0), if(length(text) < $k, -1, 1))"

  /** `sh(id, sh)`: the distinct character 3-shingles of the documents
    * `where` selects ([[shingleSet]] with k = 3).
    */
  def oracleShingleCtes(where: String): String = s"""sh AS MATERIALIZED (
        SELECT DISTINCT doc_id AS id, substr(text, CAST(i AS INTEGER), 3) AS sh
        FROM (SELECT doc_id, text, unnest(${oracleShinglePositions(3)}) AS i
              FROM documents$where))"""

  /** Given `sh`: `jac(id_a, id_b, jaccard)`, the r6 exact Jaccard of each
    * shingle-sharing document pair that `pair` admits
    * ([[jaccardForPairs]]: pairs with no shared shingle are absent).
    */
  def oracleJaccardCtes(pair: String): String = s"""sz AS (SELECT id, COUNT(*) AS n FROM sh GROUP BY id),
      inter AS (
        SELECT a.id AS id_a, b.id AS id_b, COUNT(*) AS inter
        FROM sh a JOIN sh b ON a.sh = b.sh AND $pair
        GROUP BY 1, 2),
      jac AS (
        SELECT id_a, id_b,
               round(inter * 1.0 / (sa.n + sb.n - inter), 6) AS jaccard
        FROM inter
        JOIN sz sa ON sa.id = id_a
        JOIN sz sb ON sb.id = id_b)"""

  /** `sh` plus `mh(id, sig)` and `bk(id, band, bucket)`: the 32-long
    * MinHash signature list of each document `where` selects
    * ([[minhashSigsPerRow]] with k = 3: one [[md5Base]] per distinct
    * shingle, then each permutation's min over the document's hash list),
    * and its 4 bands of 8 as bucket strings — the `banded` keys of
    * [[lshCandidates]], [[lshBucketStarEdges]] and [[lshBucketHitIds]].
    * The hash list keeps every CTE at the distinct-shingle row count:
    * crossing each shingle with the 32 permutations as rows ran DuckDB
    * out of temp disk on the sf100 10% slice.
    */
  def oracleMinhashCtes(where: String): String = {
    val mins = permConstants(32).map { case (a, b) =>
      s"list_min(list_transform(hs, x -> ($a * x + $b) % $P31))"
    }.mkString(",\n                ")
    s"""${oracleShingleCtes(where)},
      mh AS MATERIALIZED (
        SELECT id,
               [$mins] AS sig
        FROM (SELECT id, list(${oracleMd5Base("sh")}) AS hs
              FROM sh GROUP BY id)),
      bk AS (
        SELECT id, band,
               array_to_string(list_slice(sig, band * 8 + 1, band * 8 + 8), ',')
                 AS bucket
        FROM mh CROSS JOIN range(0, 4) r(band))"""
  }

  /** The number of equal positions of two 32-long signature lists. */
  def oracleSigMatches(a: String, b: String): String =
    s"len(list_filter(range(1, 33), i -> $a[i] = $b[i]))"

  /** Given `mh` and `bk`: the pairs sharing a bucket that `pair` admits
    * as `cand(id_a, id_b)`, and `est(id_a, id_b, est_jaccard)` —
    * [[lshCandidates]] (pair "a.id < b.id") and [[lshCandidatesAcross]]
    * with 4 bands.
    */
  def oracleLshCtes(pair: String): String = s"""cand AS (
        SELECT DISTINCT a.id AS id_a, b.id AS id_b
        FROM bk a JOIN bk b ON a.band = b.band AND a.bucket = b.bucket
                               AND $pair),
      est AS (
        SELECT c.id_a, c.id_b,
               round(${oracleSigMatches("ma.sig", "mb.sig")} / 32.0, 6)
                 AS est_jaccard
        FROM cand c
        JOIN mh ma ON ma.id = c.id_a
        JOIN mh mb ON mb.id = c.id_b)"""

  /** Given `bk`: `edges(id_a, id_b)`, the hub star of every bucket
    * ([[lshBucketStarEdges]]).
    */
  val oracleBucketStarCtes: String = """edges AS (
        SELECT DISTINCT id_a, id_b
        FROM (SELECT MIN(id) OVER (PARTITION BY band, bucket) AS id_a,
                     id AS id_b
              FROM bk)
        WHERE id_a <> id_b)"""

  /** Given `edges(id_a, id_b)`: `comp(id, component)`, the labels
    * [[connectedComponents]] converges to. `sym` is the symmetrised edge
    * set plus a self-loop per vertex and `l0` labels each vertex with
    * itself; round `l<k>` gives each vertex the min label over `sym`, i.e.
    * of its own and its neighbours' labels — the Spark rounds' step, one
    * O(edges) join each — to a fixed depth of 20. The depth is
    * guarded: one extra round must change no label, else the oracle
    * raises an error rather than report an unconverged labelling
    * (comparing the output round with the one before it would misfire on
    * a graph that converges exactly at the last round). Rounds that
    * change a label, measured at sf0.01: 6 for the LSH verified-pair
    * graph, 9 for the bucket-star graph and 1 for the SimHash graph (the
    * Spark loop runs one more, which changes nothing); the sf100 10%
    * bucket-star slice needed 16.
    */
  val oracleComponentsCtes: String = {
    val depth = 20
    val rounds = (1 to depth + 1).map { k =>
      s"""l$k AS MATERIALIZED (
        SELECT e.d AS id, MIN(p.lbl) AS lbl
        FROM sym e JOIN l${k - 1} p ON p.id = e.s
        GROUP BY e.d)"""
    }.mkString(",\n      ")
    s"""sym AS MATERIALIZED (
        SELECT id_a AS s, id_b AS d FROM edges
        UNION SELECT id_b, id_a FROM edges
        UNION SELECT id_a, id_a FROM edges
        UNION SELECT id_b, id_b FROM edges),
      l0 AS MATERIALIZED (SELECT DISTINCT s AS id, s AS lbl FROM sym),
      $rounds,
      comp AS (
        SELECT id,
               CASE WHEN (SELECT COUNT(*)
                          FROM l${depth + 1} a JOIN l$depth b USING (id)
                          WHERE a.lbl <> b.lbl) > 0
                    THEN error('components oracle unconverged at depth $depth')
                    ELSE lbl END AS component
        FROM l$depth)"""
  }

  /** `fp(id, simhash)`: the [[simhash]] fingerprint of every document. */
  val oracleSimhashCtes: String = {
    val bitSums = (0 until SimhashBits).map(i =>
      s"SUM(CASE WHEN (h >> $i) & 1 = 1 THEN w ELSE -w END) AS s$i")
      .mkString(",\n               ")
    val assemble = (0 until SimhashBits).map(i =>
      s"(CASE WHEN s$i > 0 THEN ${1L << i} ELSE 0 END)").mkString(" + ")
    s"""toks AS (
        SELECT id, tok, COUNT(*) AS w
        FROM (SELECT doc_id AS id, unnest(string_split(text, ' ')) AS tok
              FROM documents)
        GROUP BY id, tok),
      h AS (
        SELECT id, w,
               ${oracleMd5Hash60("tok", 0)} AS h
        FROM toks),
      b AS (
        SELECT id,
               $bitSums
        FROM h GROUP BY id),
      fp AS MATERIALIZED (
        SELECT id, $assemble AS simhash FROM b)"""
  }

  /** Given `fp`: `ham(id_a, id_b, dist)`, the pairs within `maxDist`
    * bits — [[simhashHammingPairs]].
    */
  def oracleHammingCtes(nBands: Int, bandBits: Int, maxDist: Int): String =
    s"""bands AS (
        SELECT id, simhash, band,
               (simhash >> (band * $bandBits)) & ${(1L << bandBits) - 1}
                 AS bucket
        FROM fp CROSS JOIN range(0, $nBands) r(band)),
      hcand AS (
        SELECT DISTINCT a.id AS id_a, b2.id AS id_b,
               a.simhash AS sa, b2.simhash AS sb
        FROM bands a JOIN bands b2
          ON a.band = b2.band AND a.bucket = b2.bucket AND a.id < b2.id),
      ham AS (
        SELECT id_a, id_b, CAST(bit_count(xor(sa, sb)) AS BIGINT) AS dist
        FROM hcand WHERE bit_count(xor(sa, sb)) <= $maxDist)"""
}
