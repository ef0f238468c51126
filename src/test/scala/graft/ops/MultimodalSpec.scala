package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class MultimodalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "hello world"),
    (1L, "a" * 700),           // exercises width wrap-around (% 640)
    (2L, "")
  ).toDF("doc_id", "text")

  test("binary payload plumbing: opaque bytes + typed metadata") {
    val media = Multimodal.withPayload(docs)
    val r = media.where(col("doc_id") === 0).head()
    assert(new String(r.getAs[Array[Byte]]("payload"), "UTF-8") === "hello world")
    assert(r.getAs[String]("media_type") === "image/fake-0")
  }

  /** Real image rows: deterministic synthetic PNG/JPEG bytes from the
    * fixture generator (in-memory — the spec must not depend on the
    * checked-in parquet, which q110 covers). */
  private lazy val images = {
    import graft.MakeImageFixtures
    MakeImageFixtures.rows()
      .map(r => (r.doc_id, r.payload, r.media_type))
      .toDF("doc_id", "payload", "media_type")
  }

  test("real decode: expression path matches the generator; corrupt rows dropped") {
    val viaExpr = Multimodal.imageFeaturesExpr(images)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bytes"),
        r.getAs[Long]("width"), r.getAs[Long]("height"),
        r.getAs[Long]("channels"), r.getAs[String]("pixel_md5"))).toSet
    // the 48 valid images decode; the 2 corrupt payloads (doc_id 1000+)
    // drop without failing the job
    assert(viaExpr.size === 48)
    assert(!viaExpr.exists(_._1 >= 1000L))
    // decode reproduces the generator's own expectations
    val exp = graft.MakeImageFixtures.rows().filter(_.exp_pixel_md5.isDefined)
      .map(r => (r.doc_id, r.exp_n_bytes, r.exp_width.get, r.exp_height.get,
        r.exp_channels.get, r.exp_pixel_md5.get)).toSet
    assert(viaExpr === exp)
  }

  test("real resize: bilinear thumbnail with target dims, deterministic, PNG round-trips") {
    val out = Multimodal.resize(images, 16, 12).collect()
      .map(r => r.doc_id -> r).toMap
    assert(out.size === 48 && !out.contains(1000L))  // corrupt rows dropped
    assert(out(1L).width === 16 && out(1L).height === 12)
    // deterministic: same input → same thumbnail bytes
    val again = Multimodal.resize(images, 16, 12).collect()
      .map(r => r.doc_id -> r.thumbnail.toSeq).toMap
    assert(out.view.mapValues(_.thumbnail.toSeq).toMap === again)
    // the thumbnail is a real PNG that decodes back to the target dims
    val (w, h, c, _) =
      graft.functions.ImageExpressions.decodeImage(out(5L).thumbnail).get
    assert((w, h, c) === (16, 12, 3))
  }

  test("real audio decode: matches the generator; format metadata exact; corrupt rows dropped") {
    import graft.MakeAudioFixtures
    val clips = MakeAudioFixtures.rows()
      .map(r => (r.doc_id, r.payload, r.media_type))
      .toDF("doc_id", "payload", "media_type")
    val viaExpr = Multimodal.audioFeaturesExpr(clips)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bytes"),
        r.getAs[Long]("sample_rate"), r.getAs[Long]("channels"),
        r.getAs[Long]("bits"), r.getAs[Long]("n_frames"),
        r.getAs[String]("pcm_md5"))).toSet
    assert(viaExpr.size === 24 && !viaExpr.exists(_._1 >= 1000L))
    // decode reproduces the generator's expectations exactly — incl.
    // the synthesis parameters it can cross-check (rate/channels/frames)
    val exp = MakeAudioFixtures.rows().filter(_.exp_pcm_md5.isDefined)
      .map(r => (r.doc_id, r.exp_n_bytes, r.exp_sample_rate.get,
        r.exp_channels.get, r.exp_bits.get, r.exp_n_frames.get,
        r.exp_pcm_md5.get)).toSet
    assert(viaExpr === exp)
    val clip3 = viaExpr.find(_._1 == 3L).get
    assert(clip3._3 === 8000L && clip3._4 === 2L && clip3._5 === 16L)
  }

  test("frame sampling keeps every 2nd of 8-char frames with checksums") {
    val frames = Multimodal.frameSample(docs, frameChars = 8, every = 2)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("frame_idx")))
    // doc 1 has 700 chars → 88 frames → 44 sampled (even indices)
    assert(frames.count(_._1 == 1L) === 44)
    assert(frames.filter(_._1 == 1L).forall(_._2 % 2 == 0))
    assert(!frames.exists(_._1 == 2L))   // empty doc yields no frames
  }

  test("opaque-payload features: byte count and width wrap-around") {
    val media = Multimodal.withPayload(docs)
    val viaExpr = Multimodal.decodeFeaturesExpr(media)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bytes").toInt,
        r.getAs[Long]("width").toInt, r.getAs[Long]("height").toInt,
        r.getAs[String]("checksum"))).toSet
    val wide = viaExpr.find(_._1 == 1L).get
    assert(wide._2 === 700)
    assert(wide._3 === 60)     // 700 % 640
  }
}
