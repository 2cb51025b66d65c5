package graft.tools

import java.awt.image.BufferedImage
import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption}

import javax.imageio.ImageIO

import graft.functions.{ImageUtil, VideoUtil}
import graft.sources.Artifacts

/** Generator for the checked-in REAL-video fixture
  * (`tools/artifacts/video_fixture.parquet`) behind q371 — MJPEG-in-AVI
  * containers assembled by an in-repo RIFF writer around actual
  * JDK-encoded JPEG frames, plus hostile rows.
  *
  * GOLDEN DISCIPLINE (honest about what is independent): the CONTAINER
  * round-trips against this writer (both sides of the RIFF layout live
  * in this repo — the frame census golden is the writer's frame count,
  * which a green hash proves the demuxer recovers from raw bytes), while
  * every FRAME golden goes through the independent `javax.imageio`
  * codec exactly like q368's JPEG rows: geometry pre-encode, pixel sums
  * from the generation-time decode of the same checked-in bytes (JPEG
  * is lossy and not bit-specified — the pinning JDK is recorded by
  * GenImageFixture; regenerate on a JDK major change). Hostile rows
  * golden to NULL — except `corrupt_frame`, the mid-stream bad-JPEG
  * case, whose golden pins the frames vs frames_decoded census gap
  * (container valid, one frame unrecoverable, sums over the survivors).
  *
  * Usage: `sbt "runMain graft.tools.GenVideoFixture"`.
  */
object GenVideoFixture {

  private var seed = 0xFEEDFACE9876543L
  private def nextInt(bound: Int): Int = {
    seed = seed * 6364136223846793005L + 1442695040888963407L
    (((seed >>> 33) % bound + bound) % bound).toInt
  }

  // ---- minimal RIFF/AVI writer (MJPEG, single 'vids' stream) ----

  private def le32(v: Long): Array[Byte] = Array(
    (v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
    ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)

  private def chunk(id: String, body: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    bos.write(id.getBytes("US-ASCII"))
    bos.write(le32(body.length.toLong))
    bos.write(body)
    if ((body.length & 1) == 1) bos.write(0) // word-align (pad byte)
    bos.toByteArray
  }

  private def list(listType: String, bodies: Array[Byte]*): Array[Byte] = {
    val inner = bodies.foldLeft(Array.emptyByteArray)(_ ++ _)
    chunk("LIST", listType.getBytes("US-ASCII") ++ inner)
  }

  /** One MJPEG AVI: proper avih/strh/strf headers + a movi LIST of
    * `00dc` JPEG frames. */
  private def avi(jpegs: Seq[Array[Byte]], w: Int, h: Int): Array[Byte] = {
    val fps = 10L
    val avih = le32(1000000L / fps) ++ le32(0) ++ le32(0) ++
      le32(0x10) ++ le32(jpegs.size.toLong) ++ le32(0) ++ le32(1) ++
      le32(0) ++ le32(w.toLong) ++ le32(h.toLong) ++
      Array.fill[Byte](16)(0)
    val strh = "vids".getBytes("US-ASCII") ++
      "MJPG".getBytes("US-ASCII") ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(1) ++ le32(fps) ++ le32(0) ++ le32(jpegs.size.toLong) ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++
      Array.fill[Byte](8)(0)
    val strf = le32(40) ++ le32(w.toLong) ++ le32(h.toLong) ++
      Array[Byte](1, 0, 24, 0) ++ "MJPG".getBytes("US-ASCII") ++
      le32(w.toLong * h * 3) ++ Array.fill[Byte](16)(0)
    val hdrl = list("hdrl", chunk("avih", avih),
      list("strl", chunk("strh", strh), chunk("strf", strf)))
    val movi = list("movi",
      jpegs.map(j => chunk("00dc", j)): _*)
    val body = "AVI ".getBytes("US-ASCII") ++ hdrl ++ movi
    "RIFF".getBytes("US-ASCII") ++ le32(body.length.toLong) ++ body
  }

  private def jpegFrame(w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    val r = img.getRaster
    for (y <- 0 until h; x <- 0 until w; b <- 0 until 3)
      r.setSample(x, y, b, nextInt(256))
    val bos = new ByteArrayOutputStream()
    require(ImageIO.write(img, "jpg", bos), "no JDK JPEG writer")
    bos.toByteArray
  }

  final case class Row(media_id: Long, kind: String,
      payload: Array[Byte], g_frames: Option[Int],
      g_frames_decoded: Option[Int], g_width: Option[Int],
      g_height: Option[Int], g_pixel_sum: Option[Long],
      g_pixel_count: Option[Long])

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.builder(scaleGuard = true)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val rows = Seq.newBuilder[Row]
    var id = 0L
    def add(r: Row): Unit = { rows += r; id += 1 }

    // 8 clean clips: geometry x frame-count grid; frame goldens from
    // the generation-time JDK decode of the SAME jpeg bytes (q368's
    // JPEG discipline), census goldens from the writer's layout
    for ((w, h) <- Seq((16, 12), (31, 17), (64, 48), (7, 5));
         n <- Seq(1, 6)) {
      val jpegs = Seq.fill(n)(jpegFrame(w, h))
      var sum = 0L; var cnt = 0L
      jpegs.foreach { j =>
        val st = ImageUtil.stats(j)
        require(st != null && st.getInt(0) == w && st.getInt(1) == h,
          s"frame JPEG does not decode at ${w}x$h")
        sum += st.getLong(3); cnt += st.getLong(4)
      }
      val bytes = avi(jpegs, w, h)
      val got = VideoUtil.stats(bytes)
      require(got != null && got.getInt(0) == n && got.getInt(1) == n &&
        got.getInt(2) == w && got.getInt(3) == h &&
        got.getLong(4) == sum && got.getLong(5) == cnt,
        s"AVI demux+decode mismatch at ${w}x$h n=$n: $got " +
          s"(want $n/$n $w x $h sum=$sum cnt=$cnt)")
      add(Row(id, s"mjpeg_${w}x${h}_${n}f", bytes, Some(n), Some(n),
        Some(w), Some(h), Some(sum), Some(cnt)))
    }

    // the mid-stream corrupt frame: container intact, frame 2's JPEG
    // truncated INSIDE its chunk — census must report the gap and the
    // sums must cover exactly the survivors
    {
      val (w, h) = (16, 12)
      val goodJpegs = Seq.fill(4)(jpegFrame(w, h))
      val broken = goodJpegs.updated(2, goodJpegs(2).take(8))
      var sum = 0L; var cnt = 0L
      for ((j, i) <- broken.zipWithIndex if i != 2) {
        val st = ImageUtil.stats(j)
        sum += st.getLong(3); cnt += st.getLong(4)
      }
      val bytes = avi(broken, w, h)
      val got = VideoUtil.stats(bytes)
      require(got != null && got.getInt(0) == 4 && got.getInt(1) == 3 &&
        got.getInt(2) == w && got.getInt(3) == h &&
        got.getLong(4) == sum && got.getLong(5) == cnt,
        s"corrupt-frame census mismatch: $got (want 4/3 sum=$sum cnt=$cnt)")
      add(Row(id, "corrupt_frame", bytes, Some(4), Some(3), Some(w),
        Some(h), Some(sum), Some(cnt)))
    }

    // hostile rows: NULL goldens; generation fails if the kernel
    // throws or returns non-NULL
    val good = avi(Seq.fill(3)(jpegFrame(8, 8)), 8, 8)
    val overrun = good.clone()
    // find the first '00dc' and forge its size field far past the end
    val idx = good.indices.find(i => i + 4 <= good.length - 4 &&
      good(i) == '0' && good(i + 1) == '0' && good(i + 2) == 'd' &&
      good(i + 3) == 'c').get
    System.arraycopy(le32(0x7FFFFFF0L), 0, overrun, idx + 4, 4)
    val hostile: Seq[(String, Array[Byte])] = Seq(
      "trunc_header" -> good.take(8),
      "trunc_movi" -> good.take(good.length / 2),
      "garbage" -> Array.tabulate[Byte](100)(_ => nextInt(256).toByte),
      "empty" -> Array.emptyByteArray,
      // RIFF but not AVI: a WAVE container must not demux as video
      "foreign_wav" -> ("RIFF".getBytes("US-ASCII") ++ le32(40) ++
        "WAVE".getBytes("US-ASCII") ++ Array.fill[Byte](36)(0)),
      "size_overrun" -> overrun)
    for ((kind, bytes) <- hostile) {
      require(VideoUtil.stats(bytes) == null,
        s"hostile payload '$kind' must demux to NULL")
      add(Row(id, kind, bytes, None, None, None, None, None, None))
    }
    rows += Row(id, "null_payload", null, None, None, None, None, None,
      None)

    val out = Artifacts.path("tools/artifacts/video_fixture.parquet")
    val tmp = Files.createTempDirectory("graft-videofix-").toString
    val all = rows.result()
    spark.createDataset(all).toDF()
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.createDirectories(Paths.get(out).getParent)
    Files.move(part.toPath, Paths.get(out), StandardCopyOption.REPLACE_EXISTING)
    println(s"[genvideo] wrote ${all.size} rows to $out")
    spark.stop()
  }
}
