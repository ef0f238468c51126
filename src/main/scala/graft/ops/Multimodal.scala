package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Encoders}
import org.apache.spark.sql.functions._

import graft.functions.ImageExpressions

/** Multimodal-column plumbing: images/audio/video ride through the engine
  * as opaque `binary` payloads with typed metadata; decode/feature steps
  * are scan-local expressions.
  *
  * Two decode tiers:
  *  - REAL decode on public JDK APIs (no native deps): images via
  *    javax.imageio + Graphics2D ([[imageFeaturesExpr]] / [[resize]],
  *    golden-fixture q110) and audio via javax.sound.sampled
  *    ([[audioFeaturesExpr]], golden-fixture q111). At 100 TB the
  *    decode stage is partition-parallel with no shuffle: features
  *    attach to rows in place. [[resize]]'s mapPartitions shape is
  *    where a heavier JNI/FFI codec (video, audio) would slot in with
  *    per-partition init.
  *  - The opaque-payload tier ([[withPayload]] + [[decodeFeaturesExpr]]):
  *    deterministic pseudo-features over ARBITRARY binary — the schema
  *    smoke path for payloads that are not images at all (q25 runs it
  *    over text-derived bytes corpus-wide).
  */
object Multimodal {

  /** Golden image fixture (checked in): deterministic PNG/JPEG bytes +
    * the expected decode results, both produced by graft.MakeImageFixtures
    * with the SAME JDK decoder the engine runs — so the DuckDB oracle
    * can read expectations no SQL engine could compute itself. The
    * fixture paths resolve against the JVM's working directory, the
    * checkout root under `dev/run.sh`, sbt and the forked test JVM. */
  val ImageFixture = new java.io.File("fixtures/images.parquet").getAbsolutePath

  /** Expression-path real decode: one scan, decode in place, null-row
    * for undecodable payloads (dropped here — a corrupt object must
    * not fail a 100 TB stage, and the caller can anti-join to audit). */
  def imageFeaturesExpr(media: DataFrame): DataFrame =
    media
      .select(col("doc_id"), col("media_type"),
        length(col("payload")).cast("long").as("n_bytes"),
        ImageExpressions.image_decode(col("payload")).as("d"))
      .where(col("d").isNotNull)
      .select(col("doc_id"), col("media_type"), col("n_bytes"),
        col("d.width").cast("long").as("width"),
        col("d.height").cast("long").as("height"),
        col("d.channels").cast("long").as("channels"),
        col("d.pixel_md5").as("pixel_md5"))

  final case class MediaRow(doc_id: Long, payload: Array[Byte],
                            media_type: String)

  /** Synthesize a binary payload column from text (stand-in for real image
    * bytes; the engine treats it as opaque either way). */
  def withPayload(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(
      col("doc_id"),
      to_binary(col(textCol), lit("utf-8")).as("payload"),
      concat(lit("image/fake-"), col("doc_id") % 3).as("media_type"))

  /** Golden audio fixture (checked in): deterministic WAV bytes + the
    * expected decode results, both from graft.MakeAudioFixtures with
    * the SAME javax.sound.sampled stack the engine runs. */
  val AudioFixture = new java.io.File("fixtures/audio.parquet").getAbsolutePath

  /** Expression-path real audio decode — [[imageFeaturesExpr]]'s
    * pattern on the second modality; undecodable payloads drop. */
  def audioFeaturesExpr(media: DataFrame): DataFrame =
    media
      .select(col("doc_id"), col("media_type"),
        length(col("payload")).cast("long").as("n_bytes"),
        graft.functions.AudioExpressions.audio_decode(col("payload")).as("d"))
      .where(col("d").isNotNull)
      .select(col("doc_id"), col("media_type"), col("n_bytes"),
        col("d.sample_rate").cast("long").as("sample_rate"),
        col("d.channels").cast("long").as("channels"),
        col("d.bits").cast("long").as("bits"),
        col("d.n_frames").as("n_frames"),
        col("d.pcm_md5").as("pcm_md5"))

  final case class ResizedMedia(doc_id: Long, media_type: String,
                                width: Int, height: Int,
                                thumbnail: Array[Byte])

  /** Real resize: bilinear Graphics2D scale to (targetW, targetH),
    * PNG-re-encoded thumbnail bytes ([[ImageExpressions.resizeToPng]]).
    * Undecodable payloads are dropped, same null semantics as the
    * decode paths; output bytes are deterministic (software raster,
    * spec-asserted). A per-partition batch boundary (the place a
    * native codec's init would go) — scan-local, no shuffle. */
  def resize(media: DataFrame, targetW: Int, targetH: Int): Dataset[ResizedMedia] = {
    implicit val enc = Encoders.product[ResizedMedia]
    media.select(col("doc_id"), col("payload"), col("media_type"))
      .as[MediaRow](Encoders.product[MediaRow]).mapPartitions { rows =>
        rows.flatMap { r =>
          ImageExpressions.resizeToPng(r.payload, targetW, targetH).map(png =>
            ResizedMedia(r.doc_id, r.media_type, targetW, targetH, png))
        }
      }
  }

  /** Frame sampling: treat the payload as a sequence of fixed-size
    * frames, keep every `every`-th, one output row per sampled frame
    * (the video-keyframe extraction shape: generator fan-out, per-frame
    * checksum, no shuffle). */
  def frameSample(docs: DataFrame, textCol: String = "text",
                  frameChars: Int = 64, every: Int = 4): DataFrame = {
    val frames = expr(
      s"""CASE WHEN length($textCol) = 0 THEN array()
          ELSE transform(
            sequence(0, cast(ceil(length($textCol) / $frameChars.0) as int) - 1),
            i -> substring($textCol, i * $frameChars + 1, $frameChars)) END""")
    docs.select(col("doc_id"), posexplode(frames).as(Seq("frame_idx", "frame")))
      .where(col("frame_idx") % every === 0)
      .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
        md5(to_binary(col("frame"), lit("utf-8"))).as("frame_md5"))
  }

  /** Deterministic pseudo-features over an opaque payload: byte count,
    * pseudo-dimensions (n % 640, 7n % 480) and md5 checksum, pure
    * Catalyst — the oracle-checked q25 path. */
  def decodeFeaturesExpr(media: DataFrame): DataFrame =
    media.select(
      col("doc_id"), col("media_type"),
      length(col("payload")).cast("long").as("n_bytes"),
      (length(col("payload")) % 640).cast("long").as("width"),
      ((length(col("payload")) * 7) % 480).cast("long").as("height"),
      md5(col("payload")).as("checksum"))
}
