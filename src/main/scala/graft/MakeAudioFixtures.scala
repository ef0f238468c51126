package graft

import java.io.ByteArrayOutputStream

import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import graft.functions.AudioExpressions
import graft.ops.Multimodal

/** Dev tool: (re)generate the golden audio fixture at
  * `fixtures/audio.parquet` — deterministic synthetic WAV bytes PLUS
  * the expected decode results, both via the same javax.sound.sampled
  * stack the engine runs. The audio sibling of
  * [[graft.MakeImageFixtures]]: the q111 oracle is DuckDB, which
  * cannot parse a WAV container, so it reads the expectations this
  * tool computed at generation time while the engine decodes the
  * payload at query time (golden-file semantics).
  *
  * Corpus: 24 clips — 16-bit PCM, mono/stereo alternating, sample
  * rates cycling {8000, 16000, 22050}, 400-2700 frames of a
  * deterministic two-tone sine keyed on doc_id — plus 2 corrupt
  * payloads (truncated container, non-audio bytes) with NULL
  * expectations, exercising drop-don't-fail end to end. */
object MakeAudioFixtures {
  val NumClips = 24

  def synthWav(i: Int): Array[Byte] = {
    val rates = Array(8000f, 16000f, 22050f)
    val rate = rates(i % rates.length)
    val channels = 1 + (i % 2)
    val frames = 400 + (i * 97) % 2300
    val fmt = new AudioFormat(rate, 16, channels, true, false)
    val pcm = new Array[Byte](frames * channels * 2)
    var f = 0
    while (f < frames) {
      var c = 0
      while (c < channels) {
        val v = (8000 * math.sin(f * (0.02 + 0.003 * i) + c) +
          4000 * math.sin(f * 0.11 + i)).toInt
        val off = (f * channels + c) * 2
        pcm(off) = (v & 0xff).toByte
        pcm(off + 1) = ((v >> 8) & 0xff).toByte
        c += 1
      }
      f += 1
    }
    val out = new ByteArrayOutputStream()
    val stream = new AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, frames.toLong)
    AudioSystem.write(stream, AudioFileFormat.Type.WAVE, out)
    out.toByteArray
  }

  final case class AudioRow(doc_id: Long, media_type: String,
                            payload: Array[Byte], exp_n_bytes: Long,
                            exp_sample_rate: Option[Long],
                            exp_channels: Option[Long],
                            exp_bits: Option[Long],
                            exp_n_frames: Option[Long],
                            exp_pcm_md5: Option[String])

  def rows(): Seq[AudioRow] = {
    val clips = (0 until NumClips).map { i =>
      val bytes = synthWav(i)
      val (sr, ch, b, fr, md5) = AudioExpressions.decodeAudio(bytes).get
      AudioRow(i.toLong, "audio/wav", bytes, bytes.length.toLong,
        Some(sr.toLong), Some(ch.toLong), Some(b.toLong), Some(fr),
        Some(md5))
    }
    val truncated = synthWav(2).take(30)
    val notAudio = Array.tabulate[Byte](129)(j => (j * 37 + 11).toByte)
    clips ++ Seq(
      AudioRow(1000L, "audio/wav", truncated, truncated.length.toLong,
        None, None, None, None, None),
      AudioRow(1001L, "application/octet-stream", notAudio,
        notAudio.length.toLong, None, None, None, None, None))
  }

  def main(args: Array[String]): Unit = {
    val spark = GraftSession.builder("graft-audio-fixtures", cores = 4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    rows().toDF().coalesce(1)
      .write.mode("overwrite").parquet(Multimodal.AudioFixture)
    val dir = new java.io.File(Multimodal.AudioFixture)
    dir.listFiles().filter(f => f.getName == "_SUCCESS" || f.getName.endsWith(".crc"))
      .foreach(_.delete())
    println(s"wrote ${rows().size} rows to ${Multimodal.AudioFixture}: " +
      dir.listFiles().map(_.getName).mkString(", "))
    spark.stop()
  }
}
