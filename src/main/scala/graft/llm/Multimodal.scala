package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal columns for training-data pipelines: media as opaque
  * `binary` payloads plus a typed metadata struct, with
  * decode/feature/resize/frame-sample stages as columnar transforms.
  *
  * Decode is REAL for every modality, on the JDK's own codecs inside
  * native scan-projection expressions: [[decodeImage]] runs
  * `javax.imageio` (PNG/JPEG/BMP/GIF —
  * [[graft.plans.ImageMeanPoolExpr]]), [[decodeAudio]] runs
  * `javax.sound.sampled` (WAV/AIFF/AU PCM —
  * [[graft.plans.AudioMeanPoolExpr]]), and [[decodeVideoFrames]]
  * decodes MJPEG video pixel-for-pixel in BOTH major containers
  * (RIFF/AVI chunk walk and ISO-BMFF MOV/MP4 sample-table walk +
  * per-frame `javax.imageio` — [[graft.plans.VideoFramePoolExpr]]),
  * each pooling the decoded payload to fixed-dim feature vectors.
  * Only video CODECS the JDK lacks (H.264/VP9/AV1 …; this container
  * has no external media libraries) stay behind [[decodeStub]], a
  * deterministic payload-hash fake kept for those and for tests; a
  * deployment swaps it through [[extractFeaturesWith]] for a codec
  * producing the same array<double> column shape. Everything
  * around the decoders is shared and tested: the schema contract,
  * per-stage column signatures, the partitioning story (media rows
  * are large — repartition by byte-size budget before wide stages),
  * and the frame explosion shape.
  */
object Multimodal {

  /** Typed metadata carried next to every payload. */
  val MetaType: StructType = StructType(Seq(
    StructField("mime", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType)))

  val MediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("content", BinaryType),
    StructField("meta", MetaType)))

  /** Wrap raw binary files (spark.read.format("binaryFile")) into the
    * media schema, deriving ids and mime from the path. */
  def fromBinaryFiles(files: DataFrame): DataFrame =
    files.select(
      xxhash64(col("path")).as("media_id"),
      col("content"),
      struct(
        when(col("path").endsWith(".png"), "image/png")
          .when(col("path").endsWith(".jpg"), "image/jpeg")
          .when(col("path").endsWith(".wav"), "audio/wav")
          .when(col("path").endsWith(".mp4"), "video/mp4")
          .otherwise("application/octet-stream").as("mime"),
        lit(null).cast("int").as("width"),
        lit(null).cast("int").as("height"),
        lit(null).cast("long").as("duration_ms")).as("meta"))

  /** REAL image decode + feature pooling: payload bytes through
    * `javax.imageio` (PNG/JPEG/BMP/GIF), channel-mean pooled over a
    * `grid`×`grid` cell split to an array<double> of length
    * `grid*grid*3` in [0, 1] — NULL for undecodable payloads (a
    * crawl-scale corpus always carries corrupt files; they surface as
    * null features, never a crash).
    *
    * Dropping the nulls: do NOT `filter(col("features").isNotNull)`
    * directly on the derived column — Catalyst collapses the filter
    * onto the projection as a SECOND `decode(content)` evaluation
    * (fallback expressions get no subexpression reuse across the
    * filter/project pair; measured 1.6× the decode cost on the heavy
    * composite). Downstream explodes (LSH buckets, posexplode) drop
    * null rows for free; if an explicit filter is genuinely needed,
    * apply it after the features column has crossed an exchange or
    * been materialized. */
  def decodeImage(content: Column, grid: Int): Column = {
    graft.plans.ImageMeanPoolExpr.register(
      org.apache.spark.sql.SparkSession.active)
    call_function(graft.plans.ImageMeanPoolExpr.Name, content, lit(grid))
  }

  /** [[extractFeaturesWith]] instantiated with the REAL image decoder —
    * the image-corpus embedding stage (dim = grid²·3). */
  def extractFeaturesImage(media: DataFrame, grid: Int = 2): DataFrame =
    extractFeaturesWith(media, grid * grid * 3,
      (content, _) => decodeImage(content, grid))

  /** REAL audio decode + feature pooling: payload bytes through
    * `javax.sound.sampled` (WAV/AIFF/AU 16-bit PCM), channel-0 samples
    * mean-pooled over `dim` equal time buckets to an array<double> in
    * [-1, 1) — NULL for undecodable payloads (drop with a filter).
    * Runs as one compiled expression in the scan projection. */
  def decodeAudio(content: Column, dim: Int): Column = {
    graft.plans.AudioMeanPoolExpr.register(
      org.apache.spark.sql.SparkSession.active)
    call_function(graft.plans.AudioMeanPoolExpr.Name, content, lit(dim))
  }

  /** [[extractFeaturesWith]] instantiated with the REAL audio decoder —
    * the audio-corpus embedding stage. */
  def extractFeaturesAudio(media: DataFrame, dim: Int = 8): DataFrame =
    extractFeaturesWith(media, dim, decodeAudio)

  /** REAL audio QUALITY stats: decode channel 0 and return exact
    * integer amplitude statistics as a `stats` struct(n_samples, peak,
    * sum_sq, zero_crossings) — what audio curation filters on (silence
    * = near-zero sum_sq/n, clipping = peak pinned at full scale,
    * stuck-DC = ~0 zero crossings). NULL stats for undecodable
    * payloads (drop with a filter — on the STRUCT column, which is
    * cheap; the decode ran once in this projection). */
  def audioStats(media: DataFrame): DataFrame = {
    graft.plans.AudioStatsExpr.register(
      org.apache.spark.sql.SparkSession.active)
    media.withColumn("stats",
      call_function(graft.plans.AudioStatsExpr.Name, col("content")))
  }

  /** STUB decode for video CODECS the JDK ships no decoder for
    * (H.264/VP9/AV1 … — this container has no external media
    * libraries) and for decoder-agnosticism tests. Deterministic
    * fake — features are seeded by the payload hash, so tests and
    * oracles are stable. Returns array<double> of length `dim`.
    * Every modality has a REAL decode path for at least one genuine
    * format: images [[decodeImage]] (PNG/JPEG/BMP/GIF), audio
    * [[decodeAudio]] (WAV/AIFF/AU PCM), video [[decodeVideoFrames]]
    * (MJPEG in AVI and in MOV/MP4, per-frame JPEG) — the stub covers
    * only what the JDK genuinely cannot. */
  def decodeStub(content: Column, dim: Int): Column =
    transform(sequence(lit(0), lit(dim - 1)),
      i => (pmod(xxhash64(content, i), lit(1000)).cast("double") / 500.0) - 1.0)

  /** Feature extraction stage with the STUB decoder: payload →
    * fixed-dim embedding for audio/video payloads and tests. Image
    * corpora use [[extractFeaturesImage]] (real decode). */
  def extractFeatures(media: DataFrame, dim: Int = 16): DataFrame =
    extractFeaturesWith(media, dim, decodeStub _)

  /** THE decoder swap seam: `decoder` maps (payload column, dim) to an
    * array<double> feature column — [[decodeStub]] for codecs the JDK
    * lacks, or any codec-backed implementation producing the same
    * column shape (the REAL in-repo decoders [[decodeImage]]/
    * [[decodeAudio]] plug through this same seam — see
    * [[extractFeaturesImage]]). Every downstream stage —
    * near-dup pairing, ANN, clustering — consumes only the `features`
    * column, so swapping the decoder changes WHAT is embedded, never
    * the pipeline around it; MultimodalSpec pins that contract with a
    * fake decoder of deliberately different byte→feature behavior. */
  def extractFeaturesWith(media: DataFrame, dim: Int,
                          decoder: (Column, Int) => Column): DataFrame =
    media.withColumn("features", decoder(col("content"), dim))

  /** REAL video pixel decode + per-frame feature pooling: an MJPEG
    * payload's frames (each a plain JPEG) through `javax.imageio`,
    * every frame pooled exactly like [[decodeImage]]. Both major
    * containers decode for real — RIFF/AVI (`00dc` chunk walk) and
    * ISO-BMFF MOV/MP4 with the `jpeg` sample-entry codec
    * (`stsz`/`stsc`/`stco` sample-table walk). Returns
    * array<array<double>> — one `grid*grid*3` vector per frame, NULL
    * for payloads in neither decodable family, NULL elements for
    * corrupt frames (drop with a filter). Runs as one compiled
    * expression in the scan projection. */
  def decodeVideoFrames(content: Column, grid: Int): Column = {
    graft.plans.VideoFramePoolExpr.register(
      org.apache.spark.sql.SparkSession.active)
    call_function(graft.plans.VideoFramePoolExpr.Name, content, lit(grid))
  }

  /** The video-corpus embedding stage: one row per decoded frame
    * (media_id, frame_idx, features) — [[sampleFrames]]' explode shape
    * with REAL pixels behind it. The payload is never replicated per
    * frame: the explode runs on the decoded feature vectors, not the
    * video bytes. */
  def extractFrameFeaturesVideo(media: DataFrame,
                                grid: Int = 2): DataFrame =
    media.select(col("media_id"),
      posexplode(decodeVideoFrames(col("content"), grid))
        .as(Seq("frame_idx", "features")))

  /** Fill the media schema's width/height from the ACTUAL payload via
    * the real header probe (`image_dims` — no pixel decode): binary-
    * file ingest ([[fromBinaryFiles]]) has no dims, and resize/filter
    * stages need them. Undecodable payloads keep null dims. */
  def refreshImageMeta(media: DataFrame): DataFrame = {
    graft.plans.ImageDimsExpr.register(media.sparkSession)
    media
      .withColumn("__d",
        call_function(graft.plans.ImageDimsExpr.Name, col("content")))
      .withColumn("meta", struct(
        col("meta.mime").as("mime"),
        coalesce(col("__d.width"), col("meta.width")).as("width"),
        coalesce(col("__d.height"), col("meta.height")).as("height"),
        col("meta.duration_ms").as("duration_ms")))
      .drop("__d")
  }

  /** Fill width/height/duration_ms from a VIDEO payload's real
    * container metadata (`video_meta` — ISO-BMFF/MP4 box parse, no
    * codec): the duration [[sampleFrames]] explodes over comes from
    * the actual bytes, like [[refreshImageMeta]]'s dims for images.
    * Non-ISO-BMFF payloads keep their existing meta. */
  def refreshVideoMeta(media: DataFrame): DataFrame = {
    graft.plans.VideoMetaExpr.register(media.sparkSession)
    media
      .withColumn("__v",
        call_function(graft.plans.VideoMetaExpr.Name, col("content")))
      .withColumn("meta", struct(
        col("meta.mime").as("mime"),
        coalesce(col("__v.width"), col("meta.width")).as("width"),
        coalesce(col("__v.height"), col("meta.height")).as("height"),
        coalesce(col("__v.duration_ms"), col("meta.duration_ms"))
          .as("duration_ms")))
      .drop("__v")
  }

  /** Resize stage: pure metadata + (stubbed) payload transform. The
    * real contract is the signature: same schema out, width/height
    * updated. */
  def resize(media: DataFrame, w: Int, h: Int): DataFrame =
    media.withColumn("meta",
      struct(col("meta.mime").as("mime"), lit(w).as("width"),
             lit(h).as("height"), col("meta.duration_ms").as("duration_ms")))

  /** Frame sampling: one row per sampled frame timestamp — an explode
    * over the duration, payload NOT replicated (frame decode is the
    * stub; carrying the full video bytes per frame would blow the
    * shuffle). */
  def sampleFrames(media: DataFrame, everyMs: Long): DataFrame =
    media
      // > 0, not just non-null: sequence(0, -1, step) rejects the
      // inverted bounds at runtime for zero-duration media.
      .filter(col("meta.duration_ms") > 0)
      .select(col("media_id"), col("meta"),
        explode(sequence(lit(0L), col("meta.duration_ms") - 1, lit(everyMs)))
          .as("frame_ms"))
      .withColumn("frame_id",
        xxhash64(col("media_id"), col("frame_ms")))

  /** Large-blob hygiene before any wide stage: AQE's REBALANCE hint
    * sizes the post-shuffle partitions to
    * `spark.sql.adaptive.advisoryPartitionSizeInBytes` from the ACTUAL
    * runtime byte sizes — no up-front count, no eager action, and
    * skewed media batches split automatically. */
  def rebalanceBySize(media: DataFrame): DataFrame =
    media.hint("rebalance", col("media_id"))
}
