package graft

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream

import javax.imageio.ImageIO

import graft.functions.ImageExpressions
import graft.ops.Multimodal

/** Dev tool: (re)generate the golden image fixture at
  * `fixtures/images.parquet` — deterministic synthetic PNG/JPEG bytes
  * PLUS the expected decode results, both produced here with the same
  * javax.imageio decoder the engine runs.
  *
  * Why expectations ride in the fixture: the q110 oracle is DuckDB,
  * which cannot decode an image — so the oracle reads the expected
  * (width, height, channels, pixel digest) columns this tool computed
  * at generation time, while the Spark side decodes the payload bytes
  * at query time. Golden-file semantics: any regression in the engine's
  * decode plumbing (byte handling, column mapping, digest order,
  * null-drop semantics) diverges from the checked-in expectations and
  * fails the hash compare. Run once, commit the parquet; rerun only to
  * change the corpus (the bytes are fully deterministic functions of
  * doc_id, so a rerun on the same JDK is byte-stable).
  *
  * Corpus: 48 images (PNG/JPEG alternating 2:1, sizes 8..64 × 8..48,
  * per-pixel RGB a linear function of (x, y, doc_id)) + 2 corrupt
  * payloads (truncated PNG, non-image bytes) whose expectations are
  * NULL — exercising the decode paths' drop-don't-fail contract end
  * to end. */
object MakeImageFixtures {
  val NumImages = 48

  def synthImage(i: Int): BufferedImage = {
    val w = 8 + (i * 5) % 57
    val h = 8 + (i * 7) % 41
    val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = (x * 3 + y * 5 + i * 11) % 256
        val g = (x * 7 + y * 2 + i * 13) % 256
        val b = (x + y * 3 + i * 17) % 256
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  def encode(img: BufferedImage, fmt: String): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    ImageIO.write(img, fmt, out)
    out.toByteArray
  }

  final case class FixtureRow(doc_id: Long, media_type: String,
                              payload: Array[Byte], exp_n_bytes: Long,
                              exp_width: Option[Long], exp_height: Option[Long],
                              exp_channels: Option[Long],
                              exp_pixel_md5: Option[String])

  def rows(): Seq[FixtureRow] = {
    val imgs = (0 until NumImages).map { i =>
      val fmt = if (i % 3 == 0) "jpg" else "png"
      val mime = if (i % 3 == 0) "image/jpeg" else "image/png"
      val bytes = encode(synthImage(i), fmt)
      // expectations from DECODING the encoded bytes (not from the
      // synthesis parameters): JPEG is lossy, so the truth is what the
      // decoder reproduces, which is exactly what the engine will see
      val (w, h, c, md5) = ImageExpressions.decodeImage(bytes).get
      FixtureRow(i.toLong, mime, bytes, bytes.length.toLong,
        Some(w.toLong), Some(h.toLong), Some(c.toLong), Some(md5))
    }
    val truncatedPng = encode(synthImage(1), "png").take(20)
    val notAnImage = Array.tabulate[Byte](257)(j => (j * 31 + 7).toByte)
    val corrupt = Seq(
      FixtureRow(1000L, "image/png", truncatedPng,
        truncatedPng.length.toLong, None, None, None, None),
      FixtureRow(1001L, "application/octet-stream", notAnImage,
        notAnImage.length.toLong, None, None, None, None))
    imgs ++ corrupt
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("graft-image-fixtures", cores = 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    rows().toDF().coalesce(1)
      .write.mode("overwrite").parquet(Multimodal.ImageFixture)
    // keep the fixture dir clean for version control: the data file is
    // the artifact, the write-protocol droppings are not
    val dir = new java.io.File(Multimodal.ImageFixture)
    dir.listFiles().filter(f => f.getName == "_SUCCESS" || f.getName.endsWith(".crc"))
      .foreach(_.delete())
    println(s"wrote ${rows().size} rows to ${Multimodal.ImageFixture}: " +
      dir.listFiles().map(_.getName).mkString(", "))
    spark.stop()
  }
}
