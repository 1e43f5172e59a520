package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.{IIOImage, ImageIO, ImageWriteParam}
import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Real image-content operators for the multimodal pillar: actual codec
  * decode (`javax.imageio`, in the JDK — no external deps), perceptual
  * hashing (dHash / aHash on integer block sums), container-header
  * extraction, and band-LSH near-duplicate image detection.
  *
  * The test corpus has no real image files, so the *storage* side is
  * synthesized: each document gets a deterministic grayscale bitmap whose
  * pixel values follow a closed-form integer formula (below). The bitmap is
  * serialized as a real 24-bpp BMP **by a hand-written encoder** and then
  * decoded back through the real `ImageIO` BMP codec — so the decode path
  * exercised here is the one a production pipeline runs on S3-resident
  * images, and a bug in either the container writer or the pixel math shows
  * up as an oracle hash mismatch (the DuckDB oracle recomputes the hashes
  * from the pixel formula alone, never seeing the bytes).
  *
  * Pixel contract (all integer, exact in both engines):
  * {{{
  *   s      = doc_id % 256
  *   v(x,y) = (s*31 + x*7 + y*13 + x*y*(s+3) + bump) % 256
  *   bump   = 96 when doc_id % 5 == 0 && x == y && x < 6, else 0
  * }}}
  * The `x*y*(s+3)` term makes patterns seed-specific (so unrelated docs
  * don't collide in the hash), while docs sharing `doc_id % 256` render the
  * same base image — the planted near-duplicate classes. The diagonal bump
  * perturbs one in five docs by a few blocks, planting hamming-1..8
  * near-dups rather than only exact dups.
  *
  * At 100 TB the shape holds: decode + hash is embarrassingly parallel
  * (mapPartitions, codec state per task, no shuffle), and near-dup pairing
  * shuffles only `(band_key, doc_id, hash)` — 24 bytes/doc·band — never
  * pixels. Perceptual hashes are the image-side analog of MinHash: content
  * addressing that survives re-encode, resize and small edits.
  */
object Imaging {

  /** Spread a compute-bound generator input across cores (r16, SCALE.md
    * round-7 lesson / guide §1.2 step 2): the media UDF passes (encode +
    * decode + hash per row) inherit the scan's BYTE-sized partitioning —
    * one file split runs the whole pass on one task. The repartition
    * moves 8-byte ids, linear and payload-free, before the expensive
    * per-row work; ids are deterministic so round-robin is retry-safe
    * (sort-before-repartition stays on).
    */
  private[operators] def spread[T](ds: Dataset[T]): Dataset[T] =
    ds.repartition(ds.sparkSession.sparkContext.defaultParallelism)

  /** Fixed canvas for the perceptual-hash entries: 18×16 so the 9×8 dHash
    * grid is an exact 2×2 block sum — no resampling filter to disagree on.
    */
  val HashW = 18
  val HashH = 16

  final case class DecodedMeta(doc_id: Long, width: Long, height: Long, pix_sum: Long)
  final case class ImageHashes(doc_id: Long, dhash: Long, ahash: Long)
  final case class PngBytes(doc_id: Long, png: Array[Byte])

  /** The pixel formula — the single source of truth the DuckDB oracle
    * mirrors in SQL. Keep in lockstep with the query SQL in LlmQueries.
    */
  def pixel(docId: Long, x: Int, y: Int): Int = {
    val s = (docId % 256).toInt
    val bump = if (docId % 5 == 0 && x == y && x < 6) 96 else 0
    ((s * 31 + x * 7 + y * 13 + x * y * (s + 3) + bump) % 256).toInt
  }

  /** Per-doc image dimensions for the variable-size entries. */
  def dims(docId: Long): (Int, Int) =
    (16 + (docId % 24).toInt, 12 + (docId % 18).toInt)

  // ---------------------------------------------------------------------
  // Container encode / decode
  // ---------------------------------------------------------------------

  /** Hand-written 24-bpp uncompressed BMP (BITMAPINFOHEADER, bottom-up
    * rows, 4-byte row padding) — independent of Java's encoder, so the
    * `ImageIO` *decode* below is tested against a foreign writer.
    */
  def encodeBmp(w: Int, h: Int, gray: (Int, Int) => Int): Array[Byte] = {
    val rowBytes = w * 3
    val pad = (4 - rowBytes % 4) % 4
    val imageSize = (rowBytes + pad) * h
    val fileSize = 54 + imageSize
    val out = new Array[Byte](fileSize)
    def put16(off: Int, v: Int): Unit = {
      out(off) = (v & 0xFF).toByte; out(off + 1) = ((v >> 8) & 0xFF).toByte
    }
    def put32(off: Int, v: Int): Unit = {
      out(off) = (v & 0xFF).toByte; out(off + 1) = ((v >> 8) & 0xFF).toByte
      out(off + 2) = ((v >> 16) & 0xFF).toByte; out(off + 3) = ((v >> 24) & 0xFF).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    put32(2, fileSize); put32(10, 54)
    put32(14, 40); put32(18, w); put32(22, h)
    put16(26, 1); put16(28, 24); put32(34, imageSize)
    put32(38, 2835); put32(42, 2835)
    var off = 54
    var row = h - 1 // bottom-up: last image row first
    while (row >= 0) {
      var x = 0
      while (x < w) {
        val v = (gray(x, row) & 0xFF).toByte
        out(off) = v; out(off + 1) = v; out(off + 2) = v // B, G, R
        off += 3; x += 1
      }
      off += pad
      row -= 1
    }
    out
  }

  // Codec streams: decode, encodePng and encodeJpeg wrap their byte arrays
  // in memory-cached image streams. ImageIO's default streams are
  // DISK-backed, a temp file per call: pure overhead for byte arrays, and
  // with the generator passes spread across cores (r16) 32 concurrent
  // tasks serialize on temp-file create/delete (profiled: the image-hash
  // pass ran 40× slower per row at 32 tasks than at 1). Explicit streams
  // keep the filesystem out of the loop without touching ImageIO's
  // process-wide cache setting.

  /** Real codec decode. Throws if the bytes aren't a readable image —
    * production would route these to a quarantine sink; here a decode
    * failure should fail the query loudly.
    */
  def decode(bytes: Array[Byte]): BufferedImage = {
    val iis = new MemoryCacheImageInputStream(new ByteArrayInputStream(bytes))
    // ImageIO.read closes the stream unless no reader takes the bytes
    val img = ImageIO.read(iis)
    if (img == null) iis.close()
    require(img != null, s"undecodable image (${bytes.length} bytes)")
    img
  }

  /** Real PNG encode via `ImageIO` (the JDK's zlib-backed writer). */
  def encodePng(w: Int, h: Int, gray: (Int, Int) => Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val v = gray(x, y) & 0xFF
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream(1024)
    val ios = new MemoryCacheImageOutputStream(bos)
    try ImageIO.write(img, "png", ios) finally ios.close()
    bos.toByteArray
  }

  /** Real JPEG encode via the JDK's `ImageIO` JPEG writer at an explicit
    * quality. Single-band grayscale (`TYPE_BYTE_GRAY`) so there is no
    * chroma subsampling — the loss is DCT quantization only, which the
    * tolerance-banded [[jpegMeta]] verdicts account for.
    */
  def encodeJpeg(w: Int, h: Int, gray: (Int, Int) => Int, quality: Float = 0.95f): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, gray(x, y) & 0xFF); x += 1 }
      y += 1
    }
    val writer = ImageIO.getImageWritersByFormatName("jpg").next()
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(quality)
    val bos = new ByteArrayOutputStream(1024)
    val ios = new MemoryCacheImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.write(null, new IIOImage(img, null, null), param)
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** Hand-written EXIF APP1 segment (TIFF little-endian, one IFD with
    * ImageWidth 0x0100 and Orientation 0x0112), spliced right after the
    * SOI marker of `jpeg` — so the segment sits at a FIXED offset and the
    * schema-on-read entry can parse it back out of the bytes with Spark
    * binary functions, the way `media_png_header` reads IHDR. Layout
    * (1-based byte offsets in the spliced file):
    * {{{
    *   1-2    FF D8            SOI
    *   3-4    FF E1            APP1 marker
    *   5-6    segment length (big-endian, = 2 + 6 + 8 + 2 + 24 + 4 = 44)
    *   7-12   "Exif\0\0"
    *   13-20  TIFF header: "II" 2A 00, IFD offset 8 (little-endian)
    *   21-22  IFD entry count = 2 (LE)
    *   23-34  entry: tag 0100 (ImageWidth), type 4 (LONG), count 1, value w
    *   35-46  entry: tag 0112 (Orientation), type 3 (SHORT), count 1, value
    *   47-50  next-IFD offset = 0
    *   51-    the original JPEG stream minus its leading SOI
    * }}}
    */
  def withExifApp1(jpeg: Array[Byte], width: Int, orientation: Int): Array[Byte] = {
    val seg = new Array[Byte](48) // marker(2) + len(2) + payload(44)
    def put16be(off: Int, v: Int): Unit = {
      seg(off) = ((v >> 8) & 0xFF).toByte; seg(off + 1) = (v & 0xFF).toByte
    }
    def put16le(off: Int, v: Int): Unit = {
      seg(off) = (v & 0xFF).toByte; seg(off + 1) = ((v >> 8) & 0xFF).toByte
    }
    def put32le(off: Int, v: Int): Unit = {
      put16le(off, v & 0xFFFF); put16le(off + 2, (v >> 16) & 0xFFFF)
    }
    seg(0) = 0xFF.toByte; seg(1) = 0xE1.toByte
    put16be(2, 44 + 2) // length counts itself + payload, not the marker
    "Exif".getBytes("US-ASCII").copyToArray(seg, 4) // bytes 4-7, then 8-9 stay 0
    seg(10) = 'I'.toByte; seg(11) = 'I'.toByte; put16le(12, 0x2A); put32le(14, 8)
    put16le(18, 2) // IFD entry count
    // entry 0: ImageWidth, LONG
    put16le(20, 0x0100); put16le(22, 4); put32le(24, 1); put32le(28, width)
    // entry 1: Orientation, SHORT (value left-justified in the 4-byte slot)
    put16le(32, 0x0112); put16le(34, 3); put32le(36, 1); put16le(40, orientation)
    put32le(44, 0) // next IFD
    val out = new Array[Byte](2 + seg.length + (jpeg.length - 2))
    out(0) = 0xFF.toByte; out(1) = 0xD8.toByte
    seg.copyToArray(out, 2)
    System.arraycopy(jpeg, 2, out, 2 + seg.length, jpeg.length - 2)
    out
  }

  final case class JpegMeta(doc_id: Long, width: Long, height: Long, n_bands: Long,
                            mean_err_x1000_le_3000: Boolean, max_err_le_24: Boolean)

  /** JPEG triage: real `ImageIO` JPEG encode of the formula bitmap →
    * real decode back → decoder-reported dimensions and band count
    * (EXACT — a lossy codec still must preserve geometry) plus pixel
    * stats banded for the lossy roundtrip: mean |err| ≤ 3.0 levels and
    * max |err| ≤ 24 levels vs the closed-form pixels. The verdict-column
    * pattern: the oracle states the verdicts as constants, so a codec
    * drift beyond the band flips a boolean and fails the hash compare.
    */
  def jpegMeta(docIds: Dataset[Long]): Dataset[JpegMeta] = {
    import docIds.sparkSession.implicits._
    spread(docIds).mapPartitions { ids =>
      ids.map { id =>
        val (w, h) = dims(id)
        val img = decode(encodeJpeg(w, h, (x, y) => pixel(id, x, y)))
        val raster = img.getRaster
        var sumErr = 0L
        var maxErr = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) {
            val err = math.abs(raster.getSample(x, y, 0) - pixel(id, x, y)).toLong
            sumErr += err
            if (err > maxErr) maxErr = err
            x += 1
          }
          y += 1
        }
        JpegMeta(id, img.getWidth.toLong, img.getHeight.toLong,
          raster.getNumBands.toLong,
          sumErr * 1000L <= 3000L * w * h, maxErr <= 24L)
      }
    }
  }

  final case class HashRobustness(doc_id: Long, dhash: Long,
                                  dflips_le_24: Boolean, pflips_le_20: Boolean)

  /** Measures the claim perceptual hashes exist for — that they survive
    * lossy re-encode: the same canvas decoded losslessly (BMP) and
    * through a JPEG roundtrip, hashed both ways, and the bit flips
    * banded against the measured corpus worst case (dHash 16, pHash 12;
    * bands 24/20 carry ≥1.5× margin). The lossless dHash is emitted
    * EXACTLY (the oracle recomputes it from the pixel formula), so this
    * entry pins both the stable path and the robustness envelope.
    */
  def jpegHashRobustness(docIds: Dataset[Long]): Dataset[HashRobustness] = {
    import docIds.sparkSession.implicits._
    spread(docIds).mapPartitions { ids =>
      ids.map { id =>
        def px(x: Int, y: Int): Int = pixel(id, x, y)
        val bmp = decode(encodeBmp(HashW, HashH, px))
        val jpg = decode(encodeJpeg(HashW, HashH, px))
        val dFlips = java.lang.Long.bitCount(dHash64(bmp) ^ dHash64(jpg))
        val pFlips = java.lang.Long.bitCount(pHash64(bmp) ^ pHash64(jpg))
        HashRobustness(id, dHash64(bmp), dFlips <= 24, pFlips <= 20)
      }
    }
  }

  final case class JpegBytes(doc_id: Long, jpeg: Array[Byte])

  /** JPEG bytes with the hand-written EXIF APP1 spliced in — the input of
    * the fixed-offset APP-segment parse entry (`media_exif_triage`).
    */
  def jpegExifColumn(docIds: Dataset[Long]): Dataset[JpegBytes] = {
    import docIds.sparkSession.implicits._
    spread(docIds).mapPartitions { ids =>
      ids.map { id =>
        val (w, h) = dims(id)
        val raw = encodeJpeg(w, h, (x, y) => pixel(id, x, y))
        JpegBytes(id, withExifApp1(raw, w, 1 + (id % 8).toInt))
      }
    }
  }

  // ---------------------------------------------------------------------
  // Perceptual hashes (integer block sums — bit-exact across engines)
  // ---------------------------------------------------------------------

  /** 9×8 grid of 2×2 block sums over an 18×16 grayscale image (blue
    * channel; the images are gray so any channel works).
    */
  private def blockSums(img: BufferedImage): Array[Array[Long]] = {
    require(img.getWidth == HashW && img.getHeight == HashH,
      s"hash canvas must be ${HashW}x$HashH, got ${img.getWidth}x${img.getHeight}")
    val bs = Array.ofDim[Long](8, 9)
    var y = 0
    while (y < HashH) {
      var x = 0
      while (x < HashW) {
        bs(y / 2)(x / 2) += (img.getRGB(x, y) & 0xFF).toLong
        x += 1
      }
      y += 1
    }
    bs
  }

  /** dHash: bit (by*8+bx) set iff block(bx,by) > block(bx+1,by) — gradient
    * direction, robust to global brightness shifts.
    */
  def dHash64(img: BufferedImage): Long = {
    val bs = blockSums(img)
    var h = 0L
    var by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 8) {
        if (bs(by)(bx) > bs(by)(bx + 1)) h |= (1L << (by * 8 + bx))
        bx += 1
      }
      by += 1
    }
    h
  }

  /** aHash over the left 8×8 blocks: bit set iff 64·block > Σblocks
    * (integer cross-multiply — no division, no float mean).
    */
  def aHash64(img: BufferedImage): Long = {
    val bs = blockSums(img)
    var total = 0L
    var by = 0
    while (by < 8) { var bx = 0; while (bx < 8) { total += bs(by)(bx); bx += 1 }; by += 1 }
    var h = 0L
    by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 8) {
        if (64L * bs(by)(bx) > total) h |= (1L << (by * 8 + bx))
        bx += 1
      }
      by += 1
    }
    h
  }

  /** Integer-scaled DCT-II basis, `K(u,x) = round(10000·cos((2x+1)uπ/16))`.
    * HARDCODED (not computed with `math.cos` at runtime) so the DuckDB
    * oracle can inline the SAME integers — both engines then do pure
    * integer matmul and the pHash is bit-exact by construction, with no
    * dependence on either engine's cosine rounding.
    */
  val DctBasis: Array[Array[Long]] = Array(
    Array(10000L, 10000L, 10000L, 10000L, 10000L, 10000L, 10000L, 10000L),
    Array(9808L, 8315L, 5556L, 1951L, -1951L, -5556L, -8315L, -9808L),
    Array(9239L, 3827L, -3827L, -9239L, -9239L, -3827L, 3827L, 9239L),
    Array(8315L, -1951L, -9808L, -5556L, 5556L, 9808L, 1951L, -8315L),
    Array(7071L, -7071L, -7071L, 7071L, 7071L, -7071L, -7071L, 7071L),
    Array(5556L, -9808L, 1951L, 8315L, -8315L, -1951L, 9808L, -5556L),
    Array(3827L, -9239L, 9239L, -3827L, -3827L, 9239L, -9239L, 3827L),
    Array(1951L, -5556L, 8315L, -9808L, 9808L, -8315L, 5556L, -1951L))

  /** pHash: 2D DCT (integer basis above) over the left 8×8 block sums,
    * bit (v*8+u) set iff AC coefficient D(u,v) > median of the 63 AC
    * coefficients (strict; DC bit (0,0) always 0). Median = the 32nd
    * smallest (0-based index 31), which is exactly DuckDB's
    * `quantile_disc(0.5)` over 63 rows — frequency-domain structure, the
    * classic re-encode/resize-robust perceptual hash.
    */
  def pHash64(img: BufferedImage): Long = {
    val bs = blockSums(img)
    val d = Array.ofDim[Long](8, 8)
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        var acc = 0L
        var x = 0
        while (x < 8) {
          var y = 0
          while (y < 8) {
            acc += bs(y)(x) * DctBasis(u)(x) * DctBasis(v)(y)
            y += 1
          }
          x += 1
        }
        d(u)(v) = acc
        v += 1
      }
      u += 1
    }
    val ac = (for (u2 <- 0 until 8; v2 <- 0 until 8 if u2 != 0 || v2 != 0)
      yield d(u2)(v2)).sorted
    val med = ac(31)
    var h = 0L
    u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        if ((u != 0 || v != 0) && d(u)(v) > med) h |= (1L << (v * 8 + u))
        v += 1
      }
      u += 1
    }
    h
  }

  // ---------------------------------------------------------------------
  // Dataset-level operators
  // ---------------------------------------------------------------------

  /** Variable-size BMP per doc → real `ImageIO` decode → decoded width /
    * height / pixel sum. The oracle recomputes all three from the formula,
    * so a mismatch means the BMP writer or the codec path is wrong.
    */
  def decodedMeta(docIds: Dataset[Long]): Dataset[DecodedMeta] = {
    import docIds.sparkSession.implicits._
    spread(docIds).mapPartitions { ids =>
      ids.map { id =>
        val (w, h) = dims(id)
        val img = decode(encodeBmp(w, h, (x, y) => pixel(id, x, y)))
        var sum = 0L
        var y = 0
        while (y < img.getHeight) {
          var x = 0
          while (x < img.getWidth) { sum += (img.getRGB(x, y) & 0xFF); x += 1 }
          y += 1
        }
        DecodedMeta(id, img.getWidth.toLong, img.getHeight.toLong, sum)
      }
    }
  }

  /** Fixed 18×16 BMP per doc → decode → dHash + aHash. */
  def imageHashes(docIds: Dataset[Long]): Dataset[ImageHashes] = {
    import docIds.sparkSession.implicits._
    spread(docIds).mapPartitions { ids =>
      ids.map { id =>
        val img = decode(encodeBmp(HashW, HashH, (x, y) => pixel(id, x, y)))
        ImageHashes(id, dHash64(img), aHash64(img))
      }
    }
  }

  /** dHash of the HORIZONTALLY MIRRORED canvas, computed from the same
    * block sums without re-decoding: mirroring maps pixel x → 17−x, so
    * block bx → 8−bx, and the mirrored gradient bit (by, bx) tests
    * bs(8−bx) > bs(7−bx). A mirrored re-upload flips most dHash bits
    * (gradient directions reverse), so plain dHash misses it entirely —
    * the canonical flip-invariant form is min(dhash, mirror).
    */
  def dHashMirror64(img: BufferedImage): Long = {
    val bs = blockSums(img)
    var h = 0L
    var by = 0
    while (by < 8) {
      var bx = 0
      while (bx < 8) {
        if (bs(by)(8 - bx) > bs(by)(7 - bx)) h |= (1L << (by * 8 + bx))
        bx += 1
      }
      by += 1
    }
    h
  }

  /** dHash of the VERTICALLY flipped canvas — a pure bit permutation of
    * the original hash: flipping maps row by → 7−by and leaves each
    * row's horizontal gradient untouched, and row by occupies byte by of
    * the hash, so the flipped hash is exactly `Long.reverseBytes`. The
    * 180° rotation is mirror ∘ flip, i.e. `reverseBytes(mirror)`.
    */
  def dHashFlipV64(h: Long): Long = java.lang.Long.reverseBytes(h)

  final case class FlipHashes(doc_id: Long, dhash: Long, dhash_mirror: Long,
                              dhash_flip_v: Long, dhash_rot180: Long,
                              dhash_canon: Long)

  /** Fixed-canvas decode → dHash in all four axis-aligned orientations
    * (identity, horizontal mirror, vertical flip, 180° rotation — the
    * dihedral orientations that keep a non-square canvas's shape) + the
    * orientation-canonical form min of the four (signed min — both
    * engines compare BIGINT identically). Only the mirror needs block
    * sums; the vertical pair are byte permutations. Index the canonical
    * column and any axis-flipped or upside-down re-upload collides with
    * its original in the same LSH band structure the plain dHash
    * entries use.
    */
  def flipInvariantHashes(docIds: Dataset[Long]): Dataset[FlipHashes] = {
    import docIds.sparkSession.implicits._
    spread(docIds).mapPartitions { ids =>
      ids.map { id =>
        val img = decode(encodeBmp(HashW, HashH, (x, y) => pixel(id, x, y)))
        val d = dHash64(img)
        val m = dHashMirror64(img)
        val v = dHashFlipV64(d)
        val r = dHashFlipV64(m)
        FlipHashes(id, d, m, v, r, math.min(math.min(d, m), math.min(v, r)))
      }
    }
  }

  final case class PHashRow(doc_id: Long, phash: Long)

  /** Fixed-canvas BMP per doc → decode → DCT pHash. */
  def imagePHashes(docIds: Dataset[Long]): Dataset[PHashRow] = {
    import docIds.sparkSession.implicits._
    spread(docIds).mapPartitions { ids =>
      ids.map { id =>
        val img = decode(encodeBmp(HashW, HashH, (x, y) => pixel(id, x, y)))
        PHashRow(id, pHash64(img))
      }
    }
  }

  /** Variable-size PNG per doc via the real `ImageIO` encoder; header
    * fields are then parsed back out of the *bytes* with Spark binary
    * functions downstream — the schema-on-read path for foreign media.
    */
  def pngColumn(docIds: Dataset[Long]): Dataset[PngBytes] = {
    import docIds.sparkSession.implicits._
    spread(docIds).mapPartitions { ids =>
      ids.map { id =>
        val (w, h) = dims(id)
        PngBytes(id, encodePng(w, h, (x, y) => pixel(id, x, y)))
      }
    }
  }

  /** Band-LSH near-duplicate pairs over any packed-64-bit perceptual
    * hash (image dHash, audio spectral fingerprint): 4 bands × 16 bits;
    * candidates share ≥1 exact band; survivors have hamming ≤ `maxHamming`.
    * Shuffles only (band_key, doc_id, hash) — never pixels/samples — and
    * the band join is bucket-bounded exactly like MinHash-LSH on text.
    */
  def dhashNearDupPairs(hashes: DataFrame, maxHamming: Int = 16,
                        hashCol: String = "dhash", maxBucket: Int = 1000): DataFrame = {
    val raw = hashes.select(
      col("doc_id"), col(hashCol).as("dhash"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          expr(s"shiftright($hashCol, ${16 * b}) & 65535").as("bv"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("dhash"), col("bk.band"), col("bk.bv"))
    // bucket-size cap (r11 verdict item 5's audio/image audit): a
    // DEGENERATE band value — the all-zero band every blank image or
    // silent track shares — is a hot LSH bucket whose candidate count
    // grows quadratically in its size at corpus scale, and a band that
    // common carries no near-dup evidence (the candidate either shares
    // one of its three other bands or was never a near-dup). Aggregate +
    // anti join, no broadcast hint (hot-bucket cardinality grows with the
    // corpus). maxBucket <= 0 disables (exact mode).
    val bands = if (maxBucket <= 0) raw else {
      val hot = raw.groupBy("band", "bv").agg(count(lit(1)).as("bn"))
        .filter(col("bn") > maxBucket).select("band", "bv")
      raw.join(hot, Seq("band", "bv"), "left_anti")
    }
    val a = bands.as("a")
    val b = bands.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.dhash").as("ha"), col("b.dhash").as("hb"))
      .distinct()
      .select(col("doc_a"), col("doc_b"),
        bit_count(expr("ha ^ hb")).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }

  def dhashNearDupHistogram(hashes: DataFrame, maxHamming: Int = 16,
                            hashCol: String = "dhash", maxBucket: Int = 1000): DataFrame =
    dhashNearDupPairs(hashes, maxHamming, hashCol, maxBucket)
      .groupBy("hamming")
      .agg(count(lit(1)).as("pair_cnt"))

  /** Incoming doc ids that have a near-duplicate (hamming ≤ `maxHamming`)
    * in a CORPUS hash index — the cross-relation form of
    * [[dhashNearDupPairs]], for incremental ingestion: both sides band-
    * explode, candidates share an exact 16-bit band, survivors verify on
    * full hamming. The join moves only (band, doc_id, hash); at scale the
    * corpus side is the persisted index table, re-read per batch.
    */
  def dhashMatchedIds(corpusHashes: DataFrame, incomingHashes: DataFrame,
                      maxHamming: Int = 16, hashCol: String = "dhash",
                      maxBucket: Int = 1000): DataFrame = {
    def explodeBands(df: DataFrame): DataFrame = df.select(
      col("doc_id"), col(hashCol).as("h"),
      explode(array((0 until 4).map { b =>
        struct(lit(b).as("band"),
          expr(s"shiftright($hashCol, ${16 * b}) & 65535").as("bv"))
      }: _*)).as("bk"))
      .select(col("doc_id"), col("h"), col("bk.band"), col("bk.bv"))
    // corpus-side bucket cap — the incremental twin of the
    // dhashNearDupPairs maxBucket (r12): a degenerate band value the
    // whole corpus index shares (blank images, silence) makes every
    // blank INCOMING row fan out against the full hot bucket —
    // |incoming-in-bucket| x |corpus-in-bucket| candidate rows per
    // batch. A band that common carries no match evidence; genuine
    // dups still match through their other bands. maxBucket <= 0
    // disables (exact mode).
    val corpusBands = {
      val raw = explodeBands(corpusHashes)
      if (maxBucket <= 0) raw else {
        val hot = raw.groupBy("band", "bv").agg(count(lit(1)).as("bn"))
          .filter(col("bn") > maxBucket).select("band", "bv")
        raw.join(hot, Seq("band", "bv"), "left_anti")
      }
    }
    explodeBands(incomingHashes).as("i")
      .join(corpusBands.as("c"),
        col("i.band") === col("c.band") && col("i.bv") === col("c.bv"))
      .select(col("i.doc_id").as("doc_id"), col("i.h").as("hi"), col("c.h").as("hc"))
      .distinct()
      .filter(bit_count(expr("hi ^ hc")).cast("long") <= maxHamming)
      .select("doc_id").distinct()
  }
}
