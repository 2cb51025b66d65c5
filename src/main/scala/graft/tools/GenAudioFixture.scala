package graft.tools

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import java.nio.file.{Files, Paths, StandardCopyOption}

import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

import graft.functions.AudioUtil
import graft.sources.Artifacts

/** Generator for the checked-in REAL-audio fixture
  * (`tools/artifacts/audio_fixture.parquet`) behind q370 — deterministic
  * LCG sample streams encoded to actual WAV bytes with
  * `javax.sound.sampled` (pure JDK, no external codec), plus hostile
  * rows.
  *
  * GOLDEN DISCIPLINE (the q368 image-fixture pattern): WAV is a
  * LOSSLESS PCM container, so every golden is computed from the raw
  * sample array BEFORE encoding — a green hash-compare proves the
  * engine's decode byte-exactly inverts an independent encode
  * (`AudioSystem.write` is the encoder, [[AudioUtil]] the decoder).
  * Hostile rows (truncated header, truncated DATA chunk, garbage,
  * foreign magic, empty, an out-of-contract a-law-style encoding tag, a
  * forged-frame-count bomb, NULL payload) golden to NULL, and
  * generation FAILS unless the kernel returns NULL for each.
  *
  * Usage: `sbt "runMain graft.tools.GenAudioFixture"` — rewrites the
  * artifact in place; re-runs are value-deterministic and q370 compares
  * VALUES, not file bytes.
  */
object GenAudioFixture {

  private var seed = 0xC0FFEE123456789L
  private def nextInt(bound: Int): Int = {
    seed = seed * 6364136223846793005L + 1442695040888963407L
    (((seed >>> 33) % bound + bound) % bound).toInt
  }

  /** Interleaved signed 16-bit samples -> little-endian WAV bytes. */
  private def wav16(samples: Array[Short], channels: Int,
      rate: Float): Array[Byte] = {
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED, rate, 16,
      channels, channels * 2, rate, false)
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      pcm(2 * i) = (samples(i) & 0xFF).toByte
      pcm(2 * i + 1) = ((samples(i) >> 8) & 0xFF).toByte
      i += 1
    }
    encode(pcm, fmt, samples.length / channels)
  }

  /** Unsigned 8-bit samples -> WAV bytes. */
  private def wav8(samples: Array[Int], channels: Int,
      rate: Float): Array[Byte] = {
    val fmt = new AudioFormat(AudioFormat.Encoding.PCM_UNSIGNED, rate, 8,
      channels, channels, rate, false)
    encode(samples.map(_.toByte), fmt, samples.length / channels)
  }

  private def encode(pcm: Array[Byte], fmt: AudioFormat,
      frames: Long): Array[Byte] = {
    val in = new AudioInputStream(new ByteArrayInputStream(pcm), fmt, frames)
    val bos = new ByteArrayOutputStream()
    AudioSystem.write(in, AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Forged header: a valid WAV whose fmt/data sizes are rewritten to
    * claim `frames` frames on the original tiny body — the
    * declared-frame bomb guard must answer NULL before decoding.
    * WAV layout (canonical JDK writer): RIFF size at offset 4, data
    * chunk size at offset 40 + both little-endian. */
  private def bombWav(base: Array[Byte], frames: Int,
      frameSize: Int): Array[Byte] = {
    val out = base.clone()
    def putLE(off: Int, v: Int): Unit = {
      out(off) = (v & 0xFF).toByte; out(off + 1) = ((v >> 8) & 0xFF).toByte
      out(off + 2) = ((v >> 16) & 0xFF).toByte
      out(off + 3) = ((v >> 24) & 0xFF).toByte
    }
    val dataBytes = frames * frameSize
    putLE(4, 36 + dataBytes)  // RIFF chunk size
    putLE(40, dataBytes)      // data chunk size
    out
  }

  final case class Row(media_id: Long, kind: String,
      payload: Array[Byte], g_sample_rate: Option[Int],
      g_channels: Option[Int], g_frames: Option[Long],
      g_sample_sum: Option[Long], g_sample_abs_sum: Option[Long],
      g_sample_count: Option[Long])

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.builder(scaleGuard = true)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val rows = Seq.newBuilder[Row]
    var id = 0L
    def add(r: Row): Unit = { rows += r; id += 1 }

    // 24 PCM16 rows: rates x channels x frame counts x 2 noise draws —
    // goldens from the RAW samples, decode must invert the encode
    val shapes = Seq((8000f, 1), (16000f, 2), (44100f, 1), (22050f, 2))
    for (_ <- 0 until 2; (rate, ch) <- shapes;
         frames <- Seq(1, 333, 4096)) {
      val s = Array.fill[Short](frames * ch)(
        (nextInt(65536) - 32768).toShort)
      var sum = 0L; var absSum = 0L
      s.foreach { v => sum += v; absSum += math.abs(v.toInt) }
      val bytes = wav16(s, ch, rate)
      val got = AudioUtil.stats(bytes)
      require(got != null && got.getInt(0) == math.round(rate) &&
        got.getInt(1) == ch && got.getLong(2) == frames.toLong &&
        got.getLong(3) == sum && got.getLong(4) == absSum &&
        got.getLong(5) == frames.toLong * ch,
        s"PCM16 decode does not invert encode at rate=$rate ch=$ch " +
          s"frames=$frames: $got (want sum=$sum abs=$absSum)")
      add(Row(id, s"pcm16_${math.round(rate)}_${ch}ch", bytes,
        Some(math.round(rate)), Some(ch), Some(frames.toLong), Some(sum),
        Some(absSum), Some(frames.toLong * ch)))
    }

    // 8 PCM8 rows: unsigned samples center to signed (v - 128), so
    // digital silence (0x80) sums to zero like the 16-bit path
    for ((rate, ch) <- shapes; frames <- Seq(100, 2048)) {
      val s = Array.fill[Int](frames * ch)(nextInt(256))
      var sum = 0L; var absSum = 0L
      s.foreach { v => sum += v - 128; absSum += math.abs(v - 128) }
      val bytes = wav8(s, ch, rate)
      val got = AudioUtil.stats(bytes)
      require(got != null && got.getLong(3) == sum &&
        got.getLong(4) == absSum && got.getLong(2) == frames.toLong,
        s"PCM8 decode mismatch at rate=$rate ch=$ch frames=$frames: $got")
      add(Row(id, s"pcm8_${math.round(rate)}_${ch}ch", bytes,
        Some(math.round(rate)), Some(ch), Some(frames.toLong), Some(sum),
        Some(absSum), Some(frames.toLong * ch)))
    }

    // hostile rows: NULL goldens; generation fails if the kernel throws
    // or returns non-NULL for any of them
    val good = wav16(Array.fill[Short](512)(1000), 1, 8000f)
    val alaw = good.clone()
    alaw(20) = 6 // fmt tag 6 = a-law: out-of-contract encoding
    val hostile: Seq[(String, Array[Byte])] = Seq(
      "trunc_header" -> good.take(8),           // dies inside RIFF header
      "trunc_data" -> good.take(good.length / 2), // DATA shorter than claim
      "garbage" -> Array.tabulate[Byte](100)(_ => nextInt(256).toByte),
      "empty" -> Array.emptyByteArray,
      "foreign_png" -> (Array[Byte](0x89.toByte, 'P', 'N', 'G', 13, 10,
        26, 10) ++ Array.tabulate[Byte](64)(_ => nextInt(256).toByte)),
      "alaw_tag" -> alaw,                       // decodable container,
                                                // out-of-contract codec
      // forged header claiming 2^28 frames (> MAX_FRAMES = 2^26) on a
      // 512-frame body: the declared-frame bomb guard must answer
      // NULL, never allocate
      "bomb_wav_256m" -> bombWav(good, 1 << 28, 2))
    for ((kind, bytes) <- hostile) {
      require(AudioUtil.stats(bytes) == null,
        s"hostile payload '$kind' must decode to NULL")
      add(Row(id, kind, bytes, None, None, None, None, None, None))
    }
    rows += Row(id, "null_payload", null, None, None, None, None, None,
      None)

    val out = Artifacts.path("tools/artifacts/audio_fixture.parquet")
    val tmp = Files.createTempDirectory("graft-audiofix-").toString
    val all = rows.result()
    spark.createDataset(all).toDF()
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.createDirectories(Paths.get(out).getParent)
    Files.move(part.toPath, Paths.get(out), StandardCopyOption.REPLACE_EXISTING)
    println(s"[genaudio] wrote ${all.size} rows to $out")
    spark.stop()
  }
}
