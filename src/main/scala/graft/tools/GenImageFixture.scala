package graft.tools

import java.awt.image.{BufferedImage, IndexColorModel}
import java.io.ByteArrayOutputStream
import java.nio.file.{Files, Paths, StandardCopyOption}

import javax.imageio.ImageIO

import graft.functions.ImageUtil
import graft.sources.Artifacts

/** Generator for the checked-in REAL-image fixture
  * (`tools/artifacts/image_fixture.parquet`) behind q368 — deterministic
  * LCG rasters encoded to actual PNG/JPEG bytes with `javax.imageio`
  * (pure JDK, no external codec) — gray + RGB component images,
  * palette-indexed and RGBA PNGs (the raster-is-not-components shapes)
  * — plus hostile rows (truncated PNG, garbage, empty, foreign magic,
  * truncated JPEG, a forged-IHDR decompression bomb, NULL payload).
  *
  * GOLDEN DISCIPLINE (the q367 shared-artifact pattern, strengthened):
  *  - PNG rows: goldens are computed from the RAW raster BEFORE
  *    encoding — a green hash-compare proves the engine's decode
  *    byte-exactly inverts an independent encode (PNG is lossless);
  *  - JPEG rows: pixels are lossy, so pixel goldens come from decoding
  *    the encoded bytes AT GENERATION TIME (geometry goldens are still
  *    pre-encode); the engine must reproduce them bit-exactly from the
  *    same checked-in bytes;
  *  - hostile rows: goldens are NULL, and generation FAILS if the
  *    kernel does not return NULL for them (truncated/corrupt bytes →
  *    NULL, never a throw).
  *
  * Usage: `sbt "runMain graft.tools.GenImageFixture"` — rewrites the
  * artifact in place; re-runs are byte-deterministic modulo parquet
  * encoder metadata, and q368 compares VALUES, not file bytes.
  */
object GenImageFixture {

  // splitmix-style LCG: reproducible pixel noise, no java.util.Random
  private var seed = 0x9E3779B97F4A7C15L
  private def nextInt(bound: Int): Int = {
    seed = seed * 6364136223846793005L + 1442695040888963407L
    (((seed >>> 33) % bound + bound) % bound).toInt
  }

  private def gray(w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val r = img.getRaster
    for (y <- 0 until h; x <- 0 until w) r.setSample(x, y, 0, nextInt(256))
    img
  }

  private def rgb(w: Int, h: Int): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
    val r = img.getRaster
    for (y <- 0 until h; x <- 0 until w; b <- 0 until 3)
      r.setSample(x, y, b, nextInt(256))
    img
  }

  /** Palette-indexed image (PNG color-type 3 after encode) + the
    * pre-encode golden pixel sum over the palette's (r, g, b) values —
    * the raster holds INDICES, so the component-expansion contract
    * (channels = 3, alpha-free sRGB sums) is what the golden pins. */
  private def indexed(w: Int, h: Int): (BufferedImage, Long) = {
    val size = 64
    val rC = new Array[Byte](size)
    val gC = new Array[Byte](size)
    val bC = new Array[Byte](size)
    for (i <- 0 until size) {
      rC(i) = nextInt(256).toByte
      gC(i) = nextInt(256).toByte
      bC(i) = nextInt(256).toByte
    }
    val cm = new IndexColorModel(8, size, rC, gC, bC)
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_INDEXED, cm)
    val raster = img.getRaster
    var sum = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val idx = nextInt(size)
      raster.setSample(x, y, 0, idx)
      sum += (rC(idx) & 0xFF) + (gC(idx) & 0xFF) + (bC(idx) & 0xFF)
    }
    (img, sum)
  }

  /** RGBA image (PNG color-type 6 after encode) + the pre-encode golden
    * sum over (r, g, b) ONLY — the contract drops alpha rather than
    * folding it into the aggregates. Alpha stays >= 1 so no encoder may
    * legally discard the color samples under full transparency. */
  private def rgba(w: Int, h: Int): (BufferedImage, Long) = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_ARGB)
    var sum = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val r = nextInt(256); val g = nextInt(256); val b = nextInt(256)
      val a = 1 + nextInt(255)
      img.setRGB(x, y, (a << 24) | (r << 16) | (g << 8) | b)
      sum += r + g + b
    }
    (img, sum)
  }

  /** Decompression bomb: a structurally valid PNG whose IHDR claims
    * `dim x dim` pixels (CRC recomputed, so header parsing succeeds) on
    * a tiny body — the declared-geometry guard must return NULL before
    * any raster allocation, not OOM the task. */
  private def bombPng(base: Array[Byte], dim: Int): Array[Byte] = {
    val out = base.clone()
    def putInt(off: Int, v: Int): Unit = {
      out(off) = (v >>> 24).toByte; out(off + 1) = (v >>> 16).toByte
      out(off + 2) = (v >>> 8).toByte; out(off + 3) = v.toByte
    }
    putInt(16, dim) // IHDR width  (8B sig + 4B len + 4B type)
    putInt(20, dim) // IHDR height
    val crc = new java.util.zip.CRC32()
    crc.update(out, 12, 17) // chunk type + 13-byte IHDR data
    putInt(29, crc.getValue.toInt)
    out
  }

  private def encode(img: BufferedImage, fmt: String): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    require(ImageIO.write(img, fmt, bos), s"no JDK writer for $fmt")
    bos.toByteArray
  }

  /** Raw-raster stats (pre-encode truth for lossless formats). */
  private def rawStats(img: BufferedImage): (Int, Int, Int, Long, Long) = {
    val r = img.getRaster
    var sum = 0L
    for (b <- 0 until r.getNumBands; y <- 0 until img.getHeight;
         x <- 0 until img.getWidth) sum += r.getSample(x, y, b)
    (img.getWidth, img.getHeight, r.getNumBands, sum,
      img.getWidth.toLong * img.getHeight * r.getNumBands)
  }

  final case class Row(media_id: Long, kind: String,
      payload: Array[Byte], g_width: Option[Int], g_height: Option[Int],
      g_channels: Option[Int], g_pixel_sum: Option[Long],
      g_pixel_count: Option[Long])

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.builder(scaleGuard = true)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val sizes = Seq((1, 1), (3, 2), (7, 5), (16, 16), (31, 17), (64, 48))
    val rows = Seq.newBuilder[Row]
    var id = 0L
    def add(r: Row): Unit = { rows += r; id += 1 }

    // 36 PNGs (gray + rgb across the size grid, 3 noise draws each):
    // goldens from the RAW raster — decode must invert the encode
    for (_ <- 0 until 3; (w, h) <- sizes; isRgb <- Seq(false, true)) {
      val img = if (isRgb) rgb(w, h) else gray(w, h)
      val (gw, gh, gc, gs, gn) = rawStats(img)
      val bytes = encode(img, "png")
      val got = ImageUtil.stats(bytes)
      require(got != null && got.getInt(0) == gw && got.getInt(1) == gh &&
        got.getInt(2) == gc && got.getLong(3) == gs && got.getLong(4) == gn,
        s"PNG decode does not invert encode at ${w}x$h rgb=$isRgb: $got")
      add(Row(id, if (isRgb) "png_rgb" else "png_gray", bytes,
        Some(gw), Some(gh), Some(gc), Some(gs), Some(gn)))
    }

    // 12 palette-indexed + RGBA PNGs: raster samples are NOT color
    // components (indices / alpha-carrying), so these rows pin the
    // component-expansion contract — channels = 3, palette-resolved
    // sRGB sums, alpha dropped — against pre-encode truth
    for ((w, h) <- sizes; isRgba <- Seq(false, true)) {
      val (img, gs) = if (isRgba) rgba(w, h) else indexed(w, h)
      val bytes = encode(img, "png")
      val got = ImageUtil.stats(bytes)
      val gn = w.toLong * h * 3
      require(got != null && got.getInt(0) == w && got.getInt(1) == h &&
        got.getInt(2) == 3 && got.getLong(3) == gs && got.getLong(4) == gn,
        s"${if (isRgba) "RGBA" else "indexed"} PNG decode does not match " +
          s"pre-encode components at ${w}x$h: $got (want sum $gs)")
      add(Row(id, if (isRgba) "png_rgba" else "png_indexed", bytes,
        Some(w), Some(h), Some(3), Some(gs), Some(gn)))
    }

    // 12 JPEGs: geometry goldens pre-encode; pixel goldens from the
    // generation-time decode of the checked-in bytes. JPEG decoding is
    // NOT bit-specified, so these goldens couple q368 to the decoder of
    // the JDK that ran this generator (java.version recorded below) —
    // regenerate the artifact when the toolchain's JDK major changes.
    for ((w, h) <- sizes; isRgb <- Seq(false, true)) {
      val img = if (isRgb) rgb(w, h) else gray(w, h)
      val bytes = encode(img, "jpg")
      val got = ImageUtil.stats(bytes)
      require(got != null && got.getInt(0) == w && got.getInt(1) == h,
        s"JPEG geometry mismatch at ${w}x$h rgb=$isRgb")
      add(Row(id, if (isRgb) "jpeg_rgb" else "jpeg_gray", bytes,
        Some(got.getInt(0)), Some(got.getInt(1)), Some(got.getInt(2)),
        Some(got.getLong(3)), Some(got.getLong(4))))
    }

    // hostile rows: NULL goldens; generation fails if the kernel throws
    // or returns non-NULL for any of them
    val goodPng = encode(gray(16, 16), "png")
    val goodJpg = encode(gray(16, 16), "jpg")
    val hostile: Seq[(String, Array[Byte])] = Seq(
      "trunc_png_header" -> goodPng.take(20),   // dies inside IHDR
      "trunc_png_data" -> goodPng.take(goodPng.length / 2), // dies in IDAT
      "trunc_jpeg" -> goodJpg.take(3),          // bare FF D8 FF magic
      "garbage" -> Array.tabulate[Byte](100)(i => nextInt(256).toByte),
      "empty" -> Array.emptyByteArray,
      "foreign_riff" -> ("RIFF1234WAVE" + "x" * 50).getBytes("US-ASCII"),
      "text" -> "this is not an image at all".getBytes("UTF-8"),
      // structurally valid header claiming 50000x50000 = 2.5G pixels:
      // the declared-geometry bomb guard must answer NULL, never OOM
      "bomb_png_50k" -> bombPng(goodPng, 50000))
    for ((kind, bytes) <- hostile) {
      require(ImageUtil.stats(bytes) == null,
        s"hostile payload '$kind' must decode to NULL")
      add(Row(id, kind, bytes, None, None, None, None, None))
    }
    // NULL payload row (expression null-propagation path)
    rows += Row(id, "null_payload", null, None, None, None, None, None)

    val out = Artifacts.path("tools/artifacts/image_fixture.parquet")
    val tmp = Files.createTempDirectory("graft-imgfix-").toString
    val all = rows.result()
    spark.createDataset(all).toDF()
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.createDirectories(Paths.get(out).getParent)
    Files.move(part.toPath, Paths.get(out), StandardCopyOption.REPLACE_EXISTING)
    println(s"[genimg] wrote ${all.size} rows to $out " +
      s"(JPEG goldens pinned by java.version=" +
      s"${System.getProperty("java.version")})")
    spark.stop()
  }
}
