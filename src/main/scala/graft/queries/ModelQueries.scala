package graft.queries

import graft.{GraftQuery, Q, QueryPack, Tables}
import graft.metrics.Metrics
import graft.model.Models
import graft.multimodal.MediaOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MLlib model + multimodal-plumbing queries. Model training is
  * rows-only (not SQL-expressible); the media-metadata stub is fully
  * oracle-checked because the fake decode is deterministic arithmetic on
  * the blob length.
  */
object ModelQueries extends QueryPack {

  private def labeled(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_quantity"), col("l_discount"), col("l_tax"),
      col("l_extendedprice"),
      when(col("l_returnflag") === "R", 1L).otherwise(0L).as("label"))

  private val feats = Seq("l_quantity", "l_discount", "l_tax", "l_extendedprice")

  private def trainValid(s: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val d = labeled(s, dir)
    (d.filter(pmod(col("l_orderkey"), lit(5)) =!= 0),
      d.filter(pmod(col("l_orderkey"), lit(5)) === 0))
  }

  // `rf_train_eval` and `model_comparison` evaluate the IDENTICAL RF
  // configuration (5 trees, depth 4, seed 42, balanced weights, same
  // hash split) — the fitted model is shared through the session's
  // registry (graft.ChainGuard) so a sweep pays one RF training pass, not
  // two. Deterministic: same data + params + seed => same model either way.
  private def rfKey(dir: String) = s"rf_model $dir"
  private def rfModel(s: SparkSession, dir: String)
      : org.apache.spark.ml.PipelineModel =
    graft.ChainGuard.memo(s, rfKey(dir)) {
      val (train, _) = trainValid(s, dir)
      // materialize the weighted frame for the fit's passes (the same
      // reasoning as crossValidate), then release it
      val w = Models.withBalancedWeights(train, "label")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      w.count()
      try Models.randomForest(feats, "label", numTrees = 5, maxDepth = 4)
        .fit(w)
      finally w.unpersist(blocking = false)
    }

  /** Multimodal: opaque binary column -> typed metadata via partition-wise
    * stub decode; oracle mirrors the deterministic fake arithmetic.
    */
  val mediaMeta: GraftQuery = GraftQuery(
    "media_metadata_stub",
    (s, dir) => MediaOps.decodeMetadata(
        Tables(s, dir, "documents").select(
          col("doc_id"), col("text").cast("binary").as("media")),
        "doc_id", "media")
      .toDF().orderBy("media_id"),
    Some("""
      SELECT doc_id AS media_id,
             octet_length(encode(text)) AS byte_len,
             octet_length(encode(text)) % 640 AS width,
             (octet_length(encode(text)) * 7) % 480 AS height,
             octet_length(encode(text)) * 3 AS duration_ms
      FROM documents ORDER BY media_id"""))

  /** Multimodal REAL image decode (VERDICT r14 task 1): for a
    * deterministic subset of documents (doc_id % 29 = 3), synthesize a
    * real PNG/BMP blob from the arithmetic pixel generator, then decode
    * it with the JDK's `javax.imageio` reader — dimensions come from the
    * container HEADER and pixels from the real decoder, nothing else
    * crosses the encode/decode boundary. The oracle recomputes the
    * expected dimensions and the md5 of the exact RGB buffer from pure
    * arithmetic (`chr`/`string_agg`), so a decoder that misreads the
    * header or any pixel cannot hash-match. Both formats are lossless
    * truecolor; even ids exercise the PNG reader, odd ids the BMP
    * reader. Scale shape: one narrow projection + `mapPartitions` per
    * side, no shuffle at all — decode is embarrassingly parallel, which
    * is the whole multimodal-ingest story at 100 TB.
    */
  val mediaMetaReal: GraftQuery = GraftQuery(
    "media_metadata_real",
    (s, dir) => MediaOps.imageRoundTrip(
        Tables(s, dir, "documents").filter(col("doc_id") % 29 === 3)
          .select(col("doc_id")),
        "doc_id")
      .orderBy("media_id"),
    Some("""
      WITH sel AS (SELECT doc_id FROM documents WHERE doc_id % 29 = 3),
      dims AS (
        SELECT doc_id, 8 + doc_id % 17 AS w, 8 + doc_id % 13 AS h,
               CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'bmp' END AS fmt
        FROM sel),
      px AS (
        SELECT doc_id, w, h, fmt,
               unnest(generate_series(0, w * h * 3 - 1)) AS i
        FROM dims),
      b AS (
        SELECT doc_id, w, h, fmt, i,
               ((doc_id % 127) * 2654435761 + i * 1013904223) % 127 + 1 AS v
        FROM px)
      SELECT doc_id AS media_id, fmt,
             CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             md5(string_agg(chr(CAST(v AS INTEGER)), '' ORDER BY i))
               AS pixel_md5
      FROM b GROUP BY doc_id, fmt, w, h ORDER BY media_id"""))

  /** Multimodal REAL decode-derived embedding (VERDICT r15 task 4): the
    * embedding kernel's image path, flattened for the oracle. For the
    * same subset as `media_metadata_real`, synthesize a real PNG/BMP
    * blob, decode it with `javax.imageio`, and featurize the DECODED
    * RGB buffer into per-(2x2-block, channel) integer moments — pixel
    * count, byte sum, and the quantized mean `sum * 1000 / count`
    * (integer floor). Every value is integer arithmetic over the real
    * decoder's output, so the oracle — which rebuilds the pixel stream
    * arithmetically and re-derives the same block geometry with integer
    * division — cannot match if the decode OR the featurization is
    * wrong anywhere. This makes the embedding column genuinely
    * decode-derived (the former rolling-hash kernel never looked inside
    * the container). Same scale shape as the decode round trips:
    * narrow projection + `mapPartitions`, no shuffle.
    */
  val mediaEmbeddingReal: GraftQuery = GraftQuery(
    "media_embedding_real",
    (s, dir) => MediaOps.imageEmbeddingReal(
        Tables(s, dir, "documents").filter(col("doc_id") % 29 === 3)
          .select(col("doc_id")),
        "doc_id")
      .orderBy("media_id", "blk", "ch"),
    Some("""
      WITH sel AS (SELECT doc_id FROM documents WHERE doc_id % 29 = 3),
      dims AS (
        SELECT doc_id, 8 + doc_id % 17 AS w, 8 + doc_id % 13 AS h
        FROM sel),
      px AS (
        SELECT doc_id, w, h,
               unnest(generate_series(0, w * h * 3 - 1)) AS i
        FROM dims),
      b AS (
        SELECT doc_id,
               ((i // 3) // w) * 2 // h * 2 + ((i // 3) % w) * 2 // w AS blk,
               i % 3 AS ch,
               ((doc_id % 127) * 2654435761 + i * 1013904223) % 127 + 1 AS v
        FROM px)
      SELECT doc_id AS media_id, CAST(blk AS BIGINT) AS blk,
             CAST(ch AS BIGINT) AS ch,
             COUNT(*) AS n_px, CAST(SUM(v) AS BIGINT) AS px_sum,
             CAST(SUM(v) * 1000 // COUNT(*) AS BIGINT) AS mean_q
      FROM b GROUP BY doc_id, blk, ch ORDER BY media_id, blk, ch"""))

  /** Multimodal REAL audio decode: for a deterministic subset of
    * documents (doc_id % 31 = 4), synthesize a real RIFF/WAVE 16-bit PCM
    * mono blob from the shared arithmetic byte generator, then decode it
    * with the JDK's `javax.sound.sampled` reader — sample rate, channel
    * count, and bit depth come from the RIFF HEADER, the frame count
    * from the data chunk, and the hash from the decoded PCM stream;
    * nothing but the blob crosses the encode/decode boundary. The oracle
    * recomputes every field plus the md5 of the exact byte stream from
    * pure arithmetic, so a decoder that misreads the header or any
    * sample cannot hash-match. Even ids exercise 8 kHz, odd ids 16 kHz.
    * Same scale shape as the image round trip: narrow projection +
    * `mapPartitions`, no shuffle — embarrassingly parallel ingest.
    */
  val audioMetaReal: GraftQuery = GraftQuery(
    "audio_metadata_real",
    (s, dir) => MediaOps.audioRoundTrip(
        Tables(s, dir, "documents").filter(col("doc_id") % 31 === 4)
          .select(col("doc_id")),
        "doc_id")
      .orderBy("media_id"),
    Some("""
      WITH sel AS (SELECT doc_id FROM documents WHERE doc_id % 31 = 4),
      dims AS (
        SELECT doc_id,
               CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END AS rate,
               64 + doc_id % 101 AS n
        FROM sel),
      b AS (
        SELECT doc_id, rate, n,
               unnest(generate_series(0, n * 2 - 1)) AS j
        FROM dims),
      v AS (
        SELECT doc_id, rate, n, j,
               ((doc_id % 127) * 2654435761 + j * 1013904223) % 127 + 1 AS v
        FROM b)
      SELECT doc_id AS media_id, CAST(rate AS BIGINT) AS sample_rate,
             CAST(1 AS BIGINT) AS channels, CAST(16 AS BIGINT) AS bits,
             CAST(n AS BIGINT) AS n_samples,
             CAST(n * 1000 // rate AS BIGINT) AS duration_ms,
             md5(string_agg(chr(CAST(v AS INTEGER)), '' ORDER BY j))
               AS pcm_md5
      FROM v GROUP BY doc_id, rate, n ORDER BY media_id"""))

  /** Multimodal REAL video decode: for a deterministic subset of
    * documents (doc_id % 37 = 5), synthesize a real RIFF/AVI blob —
    * uncompressed 24-bit DIB frames in the true wire layout (bottom-up
    * rows, BGR order, 4-byte row stride padding, proper avih/strh/strf
    * headers) — and hand ONLY the blob to the hand-rolled chunk-tree
    * parser. Dimensions, frame count, and frame interval come from the
    * container HEADERS; the hash covers the concatenated logical
    * top-down RGB frame stream the parser reconstructs, so a parser
    * that misreads a header or mishandles the DIB layout (row flip,
    * BGR swap, stride padding) cannot hash-match. The oracle recomputes
    * every field and the stream md5 from pure arithmetic. Even ids run
    * at 25 fps (40000 us/frame), odd at 30 (33333). Scale shape: narrow
    * projection + `mapPartitions`, no shuffle — embarrassingly parallel
    * ingest, same as the image/audio round trips.
    */
  val videoMetaReal: GraftQuery = GraftQuery(
    "video_metadata_real",
    (s, dir) => MediaOps.videoRoundTrip(
        Tables(s, dir, "documents").filter(col("doc_id") % 37 === 5)
          .select(col("doc_id")),
        "doc_id")
      .orderBy("media_id"),
    Some("""
      WITH sel AS (SELECT doc_id FROM documents WHERE doc_id % 37 = 5),
      dims AS (
        SELECT doc_id, 8 + doc_id % 11 AS w, 6 + doc_id % 7 AS h,
               3 + doc_id % 5 AS n,
               CASE WHEN doc_id % 2 = 0 THEN 40000 ELSE 33333 END AS usec
        FROM sel),
      px AS (
        SELECT doc_id, w, h, n, usec,
               unnest(generate_series(0, n * w * h * 3 - 1)) AS i
        FROM dims),
      b AS (
        SELECT doc_id, w, h, n, usec, i,
               ((doc_id % 127) * 2654435761 + i * 1013904223) % 127 + 1 AS v
        FROM px)
      SELECT doc_id AS media_id,
             CAST(w AS BIGINT) AS width, CAST(h AS BIGINT) AS height,
             CAST(n AS BIGINT) AS n_frames,
             CAST(usec AS BIGINT) AS usec_per_frame,
             CAST(n * usec // 1000 AS BIGINT) AS duration_ms,
             md5(string_agg(chr(CAST(v AS INTEGER)), '' ORDER BY i))
               AS frames_md5
      FROM b GROUP BY doc_id, w, h, n, usec ORDER BY media_id"""))

  /** Multimodal REAL video frame sampling: the row-expanding (1 -> many)
    * decode shape over the real AVI parser — every 2nd decoded frame's
    * logical-RGB md5, one row per kept frame. Exercises per-frame
    * boundaries inside the container (a parser that misplaces a single
    * '00db' chunk boundary or frame index cannot hash-match), where
    * `video_metadata_real` pins the whole-stream hash.
    */
  val videoFramesReal: GraftQuery = GraftQuery(
    "video_frames_real",
    (s, dir) => MediaOps.videoFramesReal(
        Tables(s, dir, "documents").filter(col("doc_id") % 37 === 5)
          .select(col("doc_id")),
        "doc_id", everyN = 2)
      .orderBy("media_id", "frame_idx"),
    Some("""
      WITH sel AS (SELECT doc_id FROM documents WHERE doc_id % 37 = 5),
      dims AS (
        SELECT doc_id, 8 + doc_id % 11 AS w, 6 + doc_id % 7 AS h,
               3 + doc_id % 5 AS n
        FROM sel),
      px AS (
        SELECT doc_id, w, h,
               unnest(generate_series(0, n * w * h * 3 - 1)) AS i
        FROM dims),
      b AS (
        SELECT doc_id, i // (w * h * 3) AS f, i,
               ((doc_id % 127) * 2654435761 + i * 1013904223) % 127 + 1 AS v
        FROM px)
      SELECT doc_id AS media_id, CAST(f AS BIGINT) AS frame_idx,
             md5(string_agg(chr(CAST(v AS INTEGER)), '' ORDER BY i))
               AS frame_md5
      FROM b WHERE f % 2 = 0
      GROUP BY doc_id, f ORDER BY media_id, frame_idx"""))

  /** Multimodal frame-sampling plumbing, CONTENT-hash-checked: the
    * row-expanding stub decode (every 4th 32-byte chunk of the blob
    * stands in for a keyframe) with each frame's md5 compared against a
    * DuckDB replay on text substrings — byte-identical because the
    * corpus is ASCII. This pins the 1->many decode shape AND the exact
    * frame boundaries, not just row counts.
    */
  val mediaFrames: GraftQuery = GraftQuery(
    "media_frames_hashed",
    (s, dir) => MediaOps.sampleFrames(
        Tables(s, dir, "documents").select(
          col("doc_id"), col("text").cast("binary").as("media")),
        "doc_id", "media", everyN = 4, frameSize = 32)
      .toDF()
      .select(col("media_id"), col("frame_idx").cast("long").as("frame_id"),
        md5(col("frame_bytes")).as("frame_md5"))
      .orderBy("media_id", "frame_id"),
    Some("""
      WITH g AS (
        SELECT doc_id, text,
               unnest(generate_series(0,
                 CAST(ceil(length(text) / 32.0) AS BIGINT) - 1)) AS i
        FROM documents)
      SELECT doc_id AS media_id, i AS frame_id,
             md5(substring(text, CAST(i * 32 + 1 AS INTEGER), 32))
               AS frame_md5
      FROM g WHERE i % 4 = 0 ORDER BY media_id, frame_id"""))

  /** M10: balanced random forest, hash-split 80/20, evaluated with
    * accuracy + macro-F1 + AUC (rows-only).
    */
  val rfEval: GraftQuery = GraftQuery(
    "rf_train_eval",
    (s, dir) => {
      val (_, valid) = trainValid(s, dir)
      val model = rfModel(s, dir)
      val scored = model.transform(valid).select(
        col("label"), col("prediction").cast("long").as("pred"))
      Metrics.macroAvg(scored, "label", "pred")
        .crossJoin(Metrics.accuracy(scored, "label", "pred"))
    },
    None)

  /** M7: L1 feature selection — surviving features + coefficients.
    * Runs on a deterministic 10% hash sample: feature SELECTION (which
    * coefficients are nonzero) is a population-level property the sample
    * preserves — ModelsSpec pins sample-vs-full selected-feature equality
    * and keeps the full-data path covered; the solver cost (elasticNet=1
    * iterations) scales with rows, so the registered query stays a plan
    * check instead of a solver benchmark.
    */
  val l1Select: GraftQuery = GraftQuery(
    "l1_feature_selection",
    (s, dir) => {
      val spark = s
      import spark.implicits._
      // coalesce the thin sample: the L1 solver (OWLQN) runs ~25 passes,
      // and 32 tasks of ~2k rows each per pass is pure scheduling
      // overhead — 8 partitions keeps task size proportional to the data
      val sampled = graft.split.Splits.hashSample(
        labeled(s, dir), col("l_orderkey"), pct = 10).coalesce(8)
      Models.l1FeatureSelection(sampled, feats, "label", regParam = 0.001)
        .map { case (f, c) => (f, Q.r6Double(c)) }
        .toDF("feature", "coef").orderBy("feature")
    },
    None)

  /** Cross-media frame-level dedup: pairs of media objects sharing
    * identical sampled-frame hashes (the video/image twin of the text
    * dup-leakage matrix — how a pipeline finds re-uploads and clipped
    * copies without decoding). Frames from the same stub decode as
    * `media_frames_hashed`, deduped to distinct (media, hash), then a
    * per-hash self-join bounded by a df <= 100 skew cap (ubiquitous
    * frames — black frames, title cards — would otherwise fan out
    * quadratically; same cap discipline as the trigram index). Output:
    * shared-frame count per pair plus each side's distinct-frame count
    * and the containment fraction.
    */
  val mediaDedup: GraftQuery = GraftQuery(
    "media_dedup_by_frame_hash",
    (s, dir) => {
      val frames = MediaOps.sampleFrames(
          Tables(s, dir, "documents").select(
            col("doc_id"), col("text").cast("binary").as("media")),
          "doc_id", "media", everyN = 4, frameSize = 32)
        .toDF()
        .select(col("media_id"), md5(col("frame_bytes")).as("h"))
        .distinct()
      val shared = frames.groupBy("h").agg(count(lit(1)).as("df"))
        .filter(col("df").between(2, 100)).select("h")
      val f2 = frames.join(shared, Seq("h"))
      val perDoc = frames.groupBy("media_id").agg(count(lit(1)).as("n_frames"))
      f2.select(col("h"), col("media_id").as("media_a"))
        .join(f2.select(col("h"), col("media_id").as("media_b")), Seq("h"))
        .filter(col("media_a") < col("media_b"))
        .groupBy("media_a", "media_b").agg(count(lit(1)).as("n_shared"))
        .join(perDoc.select(col("media_id").as("media_a"),
          col("n_frames").as("frames_a")), Seq("media_a"))
        .join(perDoc.select(col("media_id").as("media_b"),
          col("n_frames").as("frames_b")), Seq("media_b"))
        .select(col("media_a"), col("media_b"), col("n_shared"),
          col("frames_a"), col("frames_b"),
          Q.r6(col("n_shared") * 1.0 /
            least(col("frames_a"), col("frames_b"))).as("overlap_frac"))
        .orderBy("media_a", "media_b")
    },
    Some("""
      WITH g AS (
        SELECT doc_id, text,
               unnest(generate_series(0,
                 CAST(ceil(length(text) / 32.0) AS BIGINT) - 1)) AS i
        FROM documents),
      f AS (
        SELECT DISTINCT doc_id AS media_id,
               md5(substring(text, CAST(i * 32 + 1 AS INTEGER), 32)) AS h
        FROM g WHERE i % 4 = 0),
      hdf AS (SELECT h FROM f GROUP BY h
              HAVING COUNT(*) BETWEEN 2 AND 100),
      f2 AS (SELECT f.media_id, f.h FROM f JOIN hdf USING (h)),
      pd AS (SELECT media_id, COUNT(*) AS n_frames FROM f GROUP BY media_id),
      p AS (SELECT a.media_id AS media_a, b.media_id AS media_b,
                   COUNT(*) AS n_shared
            FROM f2 a JOIN f2 b ON a.h = b.h AND a.media_id < b.media_id
            GROUP BY 1, 2)
      SELECT media_a, media_b, n_shared,
             pa.n_frames AS frames_a, pb.n_frames AS frames_b,
             round(n_shared * 1.0 / least(pa.n_frames, pb.n_frames), 6)
               AS overlap_frac
      FROM p
      JOIN pd pa ON pa.media_id = media_a
      JOIN pd pb ON pb.media_id = media_b
      ORDER BY media_a, media_b"""))

  /** M12: 3-model comparison report on sf data (rows-only). */
  val comparison: GraftQuery = GraftQuery(
    "model_comparison",
    (s, dir) => {
      val (train, valid) = trainValid(s, dir)
      // consume the shared RF if rf_train_eval already fitted it; else
      // fit it here INSIDE the concurrent section (keeping the three
      // fits overlapped) and publish it for rf_train_eval via onFit
      Models.comparisonReport(train, valid, "label", Seq(
        "logreg" -> Models.logReg(feats, "label"),
        "random_forest" -> Models.randomForest(feats, "label", numTrees = 5,
          maxDepth = 4),
        "gbt" -> Models.gbt(feats, "label", maxIter = 5, maxDepth = 3)),
        fitted = graft.ChainGuard.built[org.apache.spark.ml.PipelineModel](
          s, rfKey(dir)).map("random_forest" -> _).toMap,
        onFit = (name, m) =>
          if (name == "random_forest") graft.ChainGuard.memo(s, rfKey(dir))(m))
    },
    None)

  override def queries: Seq[GraftQuery] = Seq(
    mediaMeta, mediaMetaReal, mediaEmbeddingReal, audioMetaReal,
    videoMetaReal, videoFramesReal, mediaFrames, mediaDedup,
    rfEval, l1Select,
    comparison)
}
