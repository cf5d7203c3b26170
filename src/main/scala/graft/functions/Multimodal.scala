package graft.functions

import graft.{QueryModule, QuerySpec, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, plus batched decode / feature-extract /
  * resize / frame-sample transforms.
  *
  * The decode step is STUBBED (this container has no image/audio
  * libraries): [[FakeDecoder.decode]] produces a deterministic feature
  * vector from the bytes. Everything around it — the schema, the
  * per-partition batching (the Scala analog of `mapInPandas`: amortize
  * per-batch setup like a JNI decoder handle across rows), the UDF
  * signature, and the downstream composition into similarity search —
  * is real and tested. Swap [[FakeDecoder]] for a real codec and
  * nothing else changes.
  *
  * 100 TB notes: media bytes never visit the driver; decode is a narrow
  * per-partition pass; metadata transforms are pure column algebra; the
  * binary column stays pruned away unless a transform asks for it.
  */
object Multimodal extends QueryModule {

  case class MediaMeta(width: Int, height: Int, sampleRate: Int,
      nFrames: Int, mime: String)
  case class MediaRow(media_id: Long, kind: String, content: Array[Byte],
      width: Int, height: Int, sample_rate: Int, n_frames: Int, mime: String)
  case class MediaFeatures(media_id: Long, kind: String,
      features: Array[Float])

  implicit val mediaEnc: Encoder[MediaRow] = Encoders.product[MediaRow]
  implicit val featEnc: Encoder[MediaFeatures] = Encoders.product[MediaFeatures]

  /** Deterministic media lake synthesized from `documents` (the binary
    * payload is the text's bytes — a stand-in for real object storage;
    * the SQL oracle mirrors the integer metadata derivations). */
  def syntheticMedia(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("content"),
      (lit(64) + (col("doc_id") % 8) * 32).cast("int").as("width"),
      (lit(64) + (col("doc_id") % 5) * 32).cast("int").as("height"),
      (lit(8000) * ((col("doc_id") % 3) + 1)).cast("int").as("sample_rate"),
      ((col("n_chars") % 100) + 1).cast("int").as("n_frames"),
      concat(lit("x-fake/"),
        element_at(array(lit("png"), lit("wav"), lit("mp4")),
          (col("doc_id") % 3 + 1).cast("int"))).as("mime"))

  // ── stubbed decode ──────────────────────────────────────────────────
  /** Deterministic fake decoder. A real build would call the codec
    * library here (per-partition handle, batch decode); the signature
    * bytes→features and the batching contract are what downstream code
    * depends on. */
  object FakeDecoder extends Serializable {
    val FeatureDim = 8
    /** Real implementation intentionally absent (no codec libs in this
      * container): features are a deterministic fold of the bytes so
      * tests can assert exact values. */
    def decode(content: Array[Byte]): Array[Float] = {
      val out = new Array[Float](FeatureDim)
      var i = 0
      while (i < content.length) {
        out(i % FeatureDim) += (content(i) & 0xff) / 255.0f
        i += 1
      }
      out
    }
    /** Batch entry point — one call per partition-batch, mirroring a
      * vectorized `mapInPandas` body. */
    def decodeBatch(rows: Iterator[MediaRow]): Iterator[MediaFeatures] =
      rows.map(r => MediaFeatures(r.media_id, r.kind, decode(r.content)))
  }

  /** Batched feature extraction: one decoder invocation per partition
    * (the `mapInPandas` shape), output is a typed Dataset that composes
    * with the Similarity operators. */
  def extractFeatures(media: DataFrame): Dataset[MediaFeatures] =
    media.as[MediaRow].mapPartitions(FakeDecoder.decodeBatch _)

  // ── metadata transforms (pure column algebra) ───────────────────────
  /** Resize plan: integer target box scaling, aspect preserved via
    * integer arithmetic (no FP). */
  def withResizePlan(media: DataFrame, maxSide: Int): DataFrame =
    media
      .withColumn("out_width", expr(
        s"CAST(CAST(width AS BIGINT) * $maxSide div greatest(width, height) AS INT)"))
      .withColumn("out_height", expr(
        s"CAST(CAST(height AS BIGINT) * $maxSide div greatest(width, height) AS INT)"))

  /** Frame sampling: every `stride`-th frame index per video. */
  def sampledFrames(media: DataFrame, stride: Int): DataFrame =
    media.filter(col("kind") === "video")
      .select(col("media_id"), col("n_frames"),
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride)))
          .as("frame_idx"))

  /** Clip segmentation: split each video's frame range into
    * fixed-length clips (the temporal analog of token-window chunking —
    * the unit a video encoder or captioner consumes). Pure integer
    * algebra + one explode; no shuffle. */
  def clipSegments(media: DataFrame, clipLen: Int): DataFrame =
    media.filter(col("kind") === "video")
      .withColumn("n_clips",
        expr(s"CAST((n_frames + $clipLen - 1) div $clipLen AS INT)"))
      .select(col("media_id"), col("n_frames"),
        explode(expr(s"transform(sequence(0, n_clips - 1), " +
          s"i -> struct(i * $clipLen AS first_frame, " +
          s"least((i + 1) * $clipLen, n_frames) - 1 AS last_frame))"))
          .as("clip"))
      .select(col("media_id"), col("n_frames"),
        col("clip.first_frame").as("first_frame"),
        col("clip.last_frame").as("last_frame"))
      .orderBy("media_id", "first_frame")

  def mmClipSegments(spark: SparkSession, dir: String): DataFrame =
    clipSegments(syntheticMedia(spark, dir), clipLen = 24)

  val mmClipSegmentsSql: String =
    """WITH media AS (
      |  SELECT doc_id AS media_id,
      |    ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
      |    CAST((n_chars % 100) + 1 AS INT) AS n_frames
      |  FROM documents),
      |v AS (SELECT media_id, n_frames,
      |        CAST((n_frames + 23) // 24 AS INT) AS n_clips
      |      FROM media WHERE kind = 'video')
      |SELECT media_id, n_frames,
      |  CAST(unnest(list_transform(range(0, n_clips), i -> i * 24)) AS INT)
      |    AS first_frame,
      |  CAST(unnest(list_transform(range(0, n_clips),
      |    i -> least((i + 1) * 24, n_frames) - 1)) AS INT) AS last_frame
      |FROM v ORDER BY media_id, first_frame""".stripMargin

  // ── queries ─────────────────────────────────────────────────────────
  /** Metadata plumbing end-to-end (oracle-checked): synthesis, resize
    * planning, frame-sample counts — all exact integer arithmetic. */
  def mmMetaExtract(spark: SparkSession, dir: String): DataFrame = {
    val media = withResizePlan(syntheticMedia(spark, dir), 256)
    val frames = sampledFrames(media, 7)
      .groupBy("media_id").agg(count(lit(1)).as("n_sampled"))
    media.join(frames, Seq("media_id"), "left")
      .select(col("media_id"), col("kind"), col("width"), col("height"),
        col("out_width"), col("out_height"), col("sample_rate"),
        col("n_frames"), length(col("content")).as("n_bytes"),
        coalesce(col("n_sampled"), lit(0L)).as("n_sampled"))
      .orderBy("media_id")
  }

  val mmMetaExtractSql: String =
    """WITH media AS (
      |  SELECT doc_id AS media_id,
      |    ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
      |    CAST(64 + (doc_id % 8) * 32 AS INT) AS width,
      |    CAST(64 + (doc_id % 5) * 32 AS INT) AS height,
      |    CAST(8000 * ((doc_id % 3) + 1) AS INT) AS sample_rate,
      |    CAST((n_chars % 100) + 1 AS INT) AS n_frames,
      |    CAST(length(text) AS INT) AS n_bytes
      |  FROM documents)
      |SELECT media_id, kind, width, height,
      |  CAST(CAST(width AS BIGINT) * 256 // greatest(width, height) AS INT) AS out_width,
      |  CAST(CAST(height AS BIGINT) * 256 // greatest(width, height) AS INT) AS out_height,
      |  sample_rate, n_frames, n_bytes,
      |  CASE WHEN kind = 'video'
      |    THEN CAST((n_frames + 6) // 7 AS BIGINT) ELSE 0 END AS n_sampled
      |FROM media ORDER BY media_id""".stripMargin

  /** Batched stub decode → features, ORACLED: the deterministic fake
    * fold is plain IEEE float32 arithmetic, so DuckDB can repeat it
    * exactly — per-lane `CAST(a + x AS FLOAT)` folds in byte order
    * reproduce the `out(i % 8) += b/255.0f` accumulation bit-for-bit
    * (additions hitting one lane happen in ascending `i` in both), and
    * the cross-lane summary promotes each float32 lane to double
    * exactly before a lane-ordered double fold. The sum ships as an
    * integral milli value (`floor(s·1000 + 0.5)` on the identical
    * double in both engines) so the comparator sees BIGINT, not a
    * decimal-rounding contract. This closes the last rows-only row:
    * the stub's plumbing — schema, batching, the fold itself — is now
    * hash-gated end-to-end, and swapping [[FakeDecoder]] for a real
    * codec invalidates only this oracle, nothing else.
    *
    * CORPUS ASSUMPTION (shared with [[mmMetaExtractSql]]): the oracle
    * equates UTF-8 bytes with code points — [[FakeDecoder]] folds
    * `content(i) & 0xff` over the byte length while the SQL folds
    * `ord(text[i+1])` over the character length — and a document with
    * empty text produces no `b`-CTE row in DuckDB (range(0,0)) while
    * Spark still emits a zero-feature media row. Both hold on every
    * driver corpus (all-ASCII, no empty texts — verified at
    * sf0.001/0.01/0.1); a non-ASCII or empty-text corpus needs an
    * octet-level oracle (and a LEFT JOIN back to documents with
    * COALESCE(f0, 0)) instead. */
  def mmDecodeFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    extractFeatures(syntheticMedia(spark, dir))
      .select(col("media_id"), col("kind"),
        col("features")(0).as("f0"),
        floor(aggregate(col("features"),
          lit(0.0d), (a, x) => a + x) * 1000 + lit(0.5))
          .as("f_sum_milli"))
      .orderBy("media_id")
  }

  val mmDecodeFeaturesSql: String =
    """WITH b AS (
      |  SELECT doc_id AS media_id, i,
      |    CAST(ord(text[CAST(i + 1 AS INT)]) AS FLOAT) AS byte,
      |    CAST(i % 8 AS INT) AS lane
      |  FROM (SELECT doc_id, text, unnest(range(0, length(text))) AS i
      |        FROM documents)),
      |lanes AS (
      |  SELECT media_id, lane,
      |    list_reduce(list_prepend(CAST(0 AS FLOAT),
      |      list(CAST(byte / CAST(255 AS FLOAT) AS FLOAT) ORDER BY i)),
      |      (a, x) -> CAST(a + x AS FLOAT)) AS v
      |  FROM b GROUP BY media_id, lane),
      |feats AS (
      |  SELECT media_id,
      |    COALESCE(MAX(CASE WHEN lane = 0 THEN v END), CAST(0 AS FLOAT))
      |      AS f0,
      |    list_reduce(list_prepend(CAST(0 AS DOUBLE),
      |      list(CAST(v AS DOUBLE) ORDER BY lane)), (a, x) -> a + x) AS s
      |  FROM lanes GROUP BY media_id)
      |SELECT media_id,
      |  ['image','audio','video'][CAST(media_id % 3 + 1 AS INT)] AS kind,
      |  f0,
      |  CAST(FLOOR(s * 1000 + 0.5) AS BIGINT) AS f_sum_milli
      |FROM feats ORDER BY media_id""".stripMargin

  /** Exact binary-asset dedup by content digest — the first pass of any
    * media pipeline (an asset stored under N ids decodes N times unless
    * deduped at the byte level). md5 runs where the bytes live; the
    * groupBy shuffles 16-byte digests, never content. Every asset comes
    * back with its canonical copy (min media_id) and the copy count. */
  def contentDedup(media: DataFrame): DataFrame = {
    val d = media.select(col("media_id"), md5(col("content")).as("digest"))
    val groups = d.groupBy("digest")
      .agg(min("media_id").as("canonical_id"), count(lit(1)).as("n_copies"))
    d.join(groups, "digest")
      .select(col("media_id"), col("digest"), col("canonical_id"),
        col("n_copies"),
        (col("media_id") === col("canonical_id")).as("is_canonical"))
      .orderBy("media_id")
  }

  def mmContentDedup(spark: SparkSession, dir: String): DataFrame =
    contentDedup(syntheticMedia(spark, dir))

  val mmContentDedupSql: String =
    """WITH d AS (
      |  SELECT doc_id AS media_id, md5(text) AS digest FROM documents),
      |g AS (
      |  SELECT digest, MIN(media_id) AS canonical_id,
      |    COUNT(*) AS n_copies
      |  FROM d GROUP BY digest)
      |SELECT media_id, d.digest, canonical_id, n_copies,
      |  media_id = canonical_id AS is_canonical
      |FROM d JOIN g ON d.digest = g.digest ORDER BY media_id""".stripMargin

  /** Standalone letterbox plan to a square target box — builds on
    * [[withResizePlan]] (already oracled inside `mm_meta_extract`) and
    * adds what a vision-ingest batcher needs BEFORE any decode:
    * letterbox padding from the dim deficits, a byte estimate at
    * 3 bytes/px, the upscale flag, and the visual-only filter. Pure
    * integer arithmetic over metadata rows — at 100 TB the plan never
    * touches content. */
  def resizePlan(media: DataFrame, target: Int): DataFrame =
    withResizePlan(media.filter(col("kind") =!= "audio"), target)
      .select(col("media_id"), col("kind"), col("width"), col("height"),
        col("out_width").as("out_w"), col("out_height").as("out_h"))
      .withColumn("pad_x", lit(target) - col("out_w"))
      .withColumn("pad_y", lit(target) - col("out_h"))
      .withColumn("out_bytes",
        (lit(target.toLong) * target * 3L).cast("long"))
      .withColumn("upscaled",
        greatest(col("width"), col("height")) < target)
      .orderBy("media_id")

  def mmResizePlan(spark: SparkSession, dir: String): DataFrame =
    resizePlan(syntheticMedia(spark, dir), target = 224)

  val mmResizePlanSql: String =
    """WITH m AS (
      |  SELECT doc_id AS media_id,
      |    ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)]
      |      AS kind,
      |    CAST(64 + (doc_id % 8) * 32 AS INT) AS width,
      |    CAST(64 + (doc_id % 5) * 32 AS INT) AS height
      |  FROM documents)
      |SELECT media_id, kind, width, height,
      |  CAST((width * 224) // greatest(width, height) AS INT) AS out_w,
      |  CAST((height * 224) // greatest(width, height) AS INT) AS out_h,
      |  224 - CAST((width * 224) // greatest(width, height) AS INT)
      |    AS pad_x,
      |  224 - CAST((height * 224) // greatest(width, height) AS INT)
      |    AS pad_y,
      |  CAST(224 * 224 * 3 AS BIGINT) AS out_bytes,
      |  greatest(width, height) < 224 AS upscaled
      |FROM m WHERE kind <> 'audio' ORDER BY media_id""".stripMargin

  val specs: Seq[QuerySpec] = Seq(
    QuerySpec("mm_resize_plan", mmResizePlan, mmResizePlanSql),
    QuerySpec("mm_meta_extract", mmMetaExtract, mmMetaExtractSql),
    QuerySpec("mm_clip_segments", mmClipSegments, mmClipSegmentsSql),
    QuerySpec("mm_content_dedup", mmContentDedup, mmContentDedupSql),
    QuerySpec("mm_decode_features", mmDecodeFeatures, mmDecodeFeaturesSql))
}
