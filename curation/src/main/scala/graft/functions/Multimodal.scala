package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, plus a batch-shaped decode/feature-extract stage.
  *
  * The Spark-side plumbing is real — schema, partition-preserving
  * mapPartitions over a typed Dataset, iterator-to-iterator batch shape (the
  * same contract a vectorized/Arrow UDF has: no per-row setup cost, safe to
  * hold a decoder per partition). The decode step parses four container
  * formats with pure-JVM header readers — PNG (IHDR: width/height/channels),
  * JPEG (SOF marker walk: width/height/components), GIF (logical screen
  * descriptor), and WAV (fmt + data:
  * sample rate/bit depth/channels/frames) — and FALLS
  * BACK TO A STUB for everything else: this container has no full codecs,
  * so unrecognized bytes get deterministic fake features derived from byte
  * length. Swapping in a real decoder for more formats changes only
  * `decodeOne`. (The driver corpus feeds UTF-8 text bytes — never PNG/WAV
  * magic — so the q_multimodal_features oracle replays the fallback arm;
  * the real parsers are pinned by PipelineSpec fixtures with an actual
  * ImageIO-encoded PNG and a canonical 44-byte WAV.)
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, media_type: String, content: Array[Byte])
  final case class MediaFeatures(
      doc_id: Long, media_type: String, n_bytes: Long,
      width: Long, height: Long, channels: Long, duration_frames: Long)

  /** Build a media table from `documents`: bytes = UTF-8 of the text, media
    * type cycles deterministically by doc_id. Stands in for reading a real
    * blob column / object-store pointers.
    */
  def mediaFromDocuments(docs: DataFrame): Dataset[MediaRow] = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(
      col("doc_id"),
      element_at(
        array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3 + 1).cast("int")).as("media_type"),
      encode(col("text"), "UTF-8").as("content"))
      .as[MediaRow]
  }

  /** Batch decoder: magic-sniffs each blob and dispatches to the matching
    * header parser (PNG, WAV), falling back to the deterministic stub. The
    * batch shape (iterator in/out, one decoder instance per partition) is
    * the production contract.
    */
  def decodeBatch(rows: Iterator[MediaRow]): Iterator[MediaFeatures] = {
    // A heavier decoder would be constructed once here, per partition/batch.
    rows.map(decodeOne)
  }

  private[functions] def decodeOne(r: MediaRow): MediaFeatures =
    if (isPng(r.content)) decodePng(r)
    else if (isJpeg(r.content)) decodeJpeg(r)
    else if (isGif(r.content)) decodeGif(r)
    else if (isWav(r.content)) decodeWav(r)
    else stubFeatures(r)

  /** Fallback for formats this container can't decode: deterministic fake
    * features derived from byte length (what the driver-corpus oracle
    * replays, since its blobs are UTF-8 text).
    */
  private def stubFeatures(r: MediaRow): MediaFeatures = {
    val n = r.content.length.toLong
    MediaFeatures(
      doc_id = r.doc_id,
      media_type = r.media_type,
      n_bytes = n,
      width = n % 640 + 1,
      height = (n * 7) % 480 + 1,
      channels = if (r.media_type == "audio") 2L else 3L,
      duration_frames = if (r.media_type == "video") n % 30 + 1 else 1L)
  }

  // ---- PNG: 8-byte signature, then IHDR is REQUIRED to be the first chunk
  // (PNG spec §5.6): 4-byte length, "IHDR", 4-byte BE width, 4-byte BE
  // height, bit depth, color type. 33 bytes covers signature + IHDR.

  private val PngMagic: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  private def isPng(b: Array[Byte]): Boolean =
    b.length >= 33 && PngMagic.indices.forall(i => b(i) == PngMagic(i)) &&
      b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R'

  private def be32(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xFFL) << 24) | ((b(i + 1) & 0xFFL) << 16) |
      ((b(i + 2) & 0xFFL) << 8) | (b(i + 3) & 0xFFL)

  private def decodePng(r: MediaRow): MediaFeatures = {
    val b = r.content
    val channels = (b(25) & 0xFF) match { // color type → sample channels
      case 0 => 1L // grayscale
      case 2 => 3L // truecolor
      case 3 => 1L // palette index
      case 4 => 2L // gray + alpha
      case 6 => 4L // truecolor + alpha
      case _ => return stubFeatures(r)
    }
    MediaFeatures(r.doc_id, "image", b.length.toLong,
      width = be32(b, 16), height = be32(b, 20),
      channels = channels, duration_frames = 1L)
  }

  // ---- JPEG: SOI (FFD8), then marker segments, each FF + marker byte +
  // 2-byte BE length (length includes its own two bytes). Dimensions live
  // in the first start-of-frame segment (SOFn, n in C0..CF minus the
  // non-frame C4/C8/CC): precision byte, BE height, BE width, component
  // count. Walk stops at SOS (FFDA) — entropy-coded data follows, and a
  // frame header after SOS would be a corrupt stream anyway.

  private def isJpeg(b: Array[Byte]): Boolean =
    b.length >= 4 && (b(0) & 0xFF) == 0xFF && (b(1) & 0xFF) == 0xD8 &&
      (b(2) & 0xFF) == 0xFF

  private def be16(b: Array[Byte], i: Int): Long =
    ((b(i) & 0xFFL) << 8) | (b(i + 1) & 0xFFL)

  private def decodeJpeg(r: MediaRow): MediaFeatures = {
    val b = r.content
    var i = 2
    while (i + 4 <= b.length) {
      if ((b(i) & 0xFF) != 0xFF) return stubFeatures(r) // lost marker sync
      var j = i + 1
      while (j < b.length && (b(j) & 0xFF) == 0xFF) j += 1 // FF fill bytes
      if (j + 1 >= b.length) return stubFeatures(r)
      val marker = b(j) & 0xFF
      val isSof = marker >= 0xC0 && marker <= 0xCF &&
        marker != 0xC4 && marker != 0xC8 && marker != 0xCC
      if (isSof) {
        // segment: len(2) precision(1) height(2) width(2) components(1)
        if (j + 8 >= b.length || be16(b, j + 1) < 8) return stubFeatures(r)
        return MediaFeatures(r.doc_id, "image", b.length.toLong,
          width = be16(b, j + 6), height = be16(b, j + 4),
          channels = (b(j + 8) & 0xFF).toLong, duration_frames = 1L)
      }
      if (marker == 0xDA || marker == 0xD9) return stubFeatures(r) // SOS/EOI before any SOF
      if (marker == 0x01 || (marker >= 0xD0 && marker <= 0xD8)) i = j + 1 // standalone
      else {
        val len = be16(b, j + 1)
        if (len < 2 || j + 1 + len > b.length) return stubFeatures(r) // torn segment
        i = j + 1 + len.toInt
      }
    }
    stubFeatures(r)
  }

  // ---- GIF: "GIF87a"/"GIF89a" signature, then the logical screen
  // descriptor — LE16 width at offset 6, LE16 height at offset 8. Palette
  // formats decode to RGB (3 channels); frame counting would need a full
  // block walk, so duration_frames stays 1 (the descriptor is the
  // canvas, not the animation).

  private def isGif(b: Array[Byte]): Boolean =
    b.length >= 13 &&
      b(0) == 'G' && b(1) == 'I' && b(2) == 'F' && b(3) == '8' &&
      (b(4) == '7' || b(4) == '9') && b(5) == 'a'

  private def decodeGif(r: MediaRow): MediaFeatures =
    MediaFeatures(r.doc_id, "image", r.content.length.toLong,
      width = le16(r.content, 6), height = le16(r.content, 8),
      channels = 3L, duration_frames = 1L)

  // ---- WAV: RIFF/WAVE container; walk chunks to "fmt " (channels, sample
  // rate, block align, bits/sample) and "data" (payload size). Feature
  // mapping for audio: width = sample rate (Hz), height = bits per sample,
  // duration_frames = PCM sample frames (data size / block align).

  private def isWav(b: Array[Byte]): Boolean =
    b.length >= 44 &&
      b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
      b(8) == 'W' && b(9) == 'A' && b(10) == 'V' && b(11) == 'E'

  private def le16(b: Array[Byte], i: Int): Long =
    (b(i) & 0xFFL) | ((b(i + 1) & 0xFFL) << 8)

  private def le32(b: Array[Byte], i: Int): Long =
    (b(i) & 0xFFL) | ((b(i + 1) & 0xFFL) << 8) |
      ((b(i + 2) & 0xFFL) << 16) | ((b(i + 3) & 0xFFL) << 24)

  private def decodeWav(r: MediaRow): MediaFeatures = {
    val b = r.content
    var channels, sampleRate, bits, blockAlign, dataSize = -1L
    var i = 12
    var corrupt = false
    while (!corrupt && i + 8 <= b.length && (channels < 0 || dataSize < 0)) {
      val size = le32(b, i + 4)
      // A size field that doesn't fit the remaining blob (or whose Int
      // truncation would go negative) is a corrupt/crafted header: bail to
      // the stub instead of spinning or indexing out of bounds.
      if (size < 0 || size > b.length - i - 8) corrupt = true
      else {
        // a fmt chunk must declare at least the 16 PCM header bytes —
        // a smaller size would read the NEXT chunk's bytes as fmt fields
        if (b(i) == 'f' && b(i + 1) == 'm' && b(i + 2) == 't' && b(i + 3) == ' '
            && size >= 16 && i + 24 <= b.length) {
          channels = le16(b, i + 10)
          sampleRate = le32(b, i + 12)
          blockAlign = le16(b, i + 20)
          bits = le16(b, i + 22)
        } else if (b(i) == 'd' && b(i + 1) == 'a' && b(i + 2) == 't' && b(i + 3) == 'a') {
          dataSize = size
        }
        i += 8 + size.toInt + (size.toInt & 1) // chunks are word-aligned
      }
    }
    if (corrupt) return stubFeatures(r)
    if (channels <= 0 || blockAlign <= 0 || dataSize < 0) stubFeatures(r)
    else MediaFeatures(r.doc_id, "audio", b.length.toLong,
      width = sampleRate, height = bits,
      channels = channels, duration_frames = dataSize / blockAlign)
  }

  /** Feature extraction over the media table: partition-preserving, no
    * shuffle — each executor decodes its own partitions.
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(decodeBatch)
  }

  /** RESIZE schedule for image/video rows: fit (width, height) into the
    * (targetW, targetH) box preserving aspect ratio. The geometry
    * arithmetic is integer compares + one exact IEEE division per side —
    * deterministic and engine-portable — and is the Spark-side CONTRACT a
    * real pixel resampler plugs into (the resample itself is the stubbed
    * decode step: no codecs in this container). Pure scan-side projection:
    * at 100 TB the schedule is free and the resampler runs
    * partition-parallel behind it.
    */
  def resizePlan(features: Dataset[MediaFeatures], targetW: Long,
      targetH: Long): DataFrame = {
    require(targetW > 0 && targetH > 0, "target box must be positive")
    // wider-than-box ⇔ w/h ≥ tw/th, compared in exact integers
    val wider = col("width") * lit(targetH) >= col("height") * lit(targetW)
    features.toDF()
      .filter(col("media_type").isin("image", "video"))
      .select(col("doc_id"), col("media_type"), col("width"), col("height"),
        when(wider, lit(targetW)).otherwise(
          greatest(lit(1L),
            floor(col("width") * lit(targetH) / col("height")).cast("long")))
          .as("out_width"),
        when(wider,
          greatest(lit(1L),
            floor(col("height") * lit(targetW) / col("width")).cast("long")))
          .otherwise(lit(targetH)).as("out_height"))
  }

  // ---- Perceptual image signature (dHash) -----------------------------

  final case class ImageSig(doc_id: Long, width: Long, height: Long, dhash: Long)

  /** PIXEL-level 64-bit dHash per decodable image — the multimodal dedup
    * signature (the aHash/dHash family: Krawetz, "Kind of Like That").
    * Decode paths, all pure-JVM (no native codecs):
    *  - PNG / GIF / JPEG through `javax.imageio.ImageIO` (the JDK ships
    *    these readers) — REAL pixels, not header fields;
    *  - binary PPM (P6) / PGM (P5), maxval ≤ 255, via the native parser
    *    below — the codec-free uncompressed path.
    * Luma = (299·R + 587·G + 114·B) / 1000 in exact integers (BT.601
    * weights); the image box-means into the 9×8 [[DHash]] grid with
    * cross-multiplied exact mean compares, so the SAME pixels produce the
    * SAME signature through ANY decode path (PipelineSpec pins PNG ≡ PPM
    * on one pixel matrix). Undecodable rows drop — a perceptual signature
    * of bytes that aren't an image would be noise.
    *
    * Scale shape: partition-preserving mapPartitions (the [[decodeBatch]]
    * contract — one decoder per partition, iterator in/out, no shuffle);
    * pair generation downstream is [[phashNearDups]]'s banded join, never
    * all-pairs.
    */
  def imageDhash(media: Dataset[MediaRow]): Dataset[ImageSig] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap(imageSigOne))
  }

  private[functions] def imageSigOne(r: MediaRow): Option[ImageSig] =
    grayPixels(r.content).map { case (w, h, g) =>
      ImageSig(r.doc_id, w.toLong, h.toLong, boxMeanDhash(w, h, g))
    }

  /** Decode to a row-major luma matrix; None when the bytes aren't a
    * supported image.
    */
  private[functions] def grayPixels(b: Array[Byte]): Option[(Int, Int, Array[Int])] =
    if (isPng(b) || isJpeg(b) || isGif(b)) {
      val img = try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      catch { case _: java.io.IOException => null }
      if (img == null) None else lumaOf(img)
    } else decodePnm(b)

  /** Row-major BT.601 luma matrix of a decoded frame — shared by the
    * still-image and per-video-frame signature paths.
    */
  private def lumaOf(img: java.awt.image.BufferedImage)
      : Option[(Int, Int, Array[Int])] = {
    if (img.getWidth <= 0 || img.getHeight <= 0) None
    else {
      val w = img.getWidth; val h = img.getHeight
      val g = new Array[Int](w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          g(y * w + x) = luma((rgb >> 16) & 0xFF, (rgb >> 8) & 0xFF, rgb & 0xFF)
          x += 1
        }
        y += 1
      }
      Some((w, h, g))
    }
  }

  private def luma(r: Int, gr: Int, bl: Int): Int =
    (299 * r + 587 * gr + 114 * bl) / 1000

  // ---- PPM (P6) / PGM (P5): "P6" | "P5", whitespace/comment-separated
  // ASCII width, height, maxval headers, single whitespace, then raw
  // samples (3 bytes RGB per pixel for P6, 1 gray byte for P5 at
  // maxval ≤ 255 — 2-byte samples are out of scope and return None).

  private def decodePnm(b: Array[Byte]): Option[(Int, Int, Array[Int])] = {
    if (b.length < 2 || b(0) != 'P' || (b(1) != '5' && b(1) != '6')) return None
    val color = b(1) == '6'
    var i = 2
    def skipWs(): Unit = {
      var go = true
      while (go && i < b.length) {
        val c = b(i)
        if (c == '#') { while (i < b.length && b(i) != '\n') i += 1 }
        else if (c == ' ' || c == '\t' || c == '\r' || c == '\n') i += 1
        else go = false
      }
    }
    def int(): Int = {
      skipWs()
      var v = 0; var any = false
      while (i < b.length && b(i) >= '0' && b(i) <= '9') {
        v = v * 10 + (b(i) - '0'); i += 1; any = true
      }
      if (any) v else -1
    }
    val w = int(); val h = int(); val maxval = int()
    if (w <= 0 || h <= 0 || maxval <= 0 || maxval > 255) return None
    i += 1 // the single whitespace byte after maxval
    // Long arithmetic: a malformed header claiming e.g. 46341×46341 makes
    // w*h overflow Int to a negative count, which would slip past the
    // length check and crash the task (NegativeArraySizeException) instead
    // of taking the documented undecodable-row drop.
    val nL = w.toLong * h
    val needL = if (color) 3L * nL else nL
    if (nL > Int.MaxValue || i + needL > b.length) return None
    val n = nL.toInt
    val g = new Array[Int](n)
    var p = 0
    while (p < n) {
      g(p) =
        if (color) luma(b(i + 3 * p) & 0xFF, b(i + 3 * p + 1) & 0xFF,
          b(i + 3 * p + 2) & 0xFF)
        else b(i + p) & 0xFF
      p += 1
    }
    Some((w, h, g))
  }

  /** Box-mean the luma matrix into the 9×8 [[DHash]] grid and pack. Cell
    * (r, c) covers pixel rows [⌊r·h/8⌋, ⌊(r+1)·h/8⌋) × cols
    * [⌊c·w/9⌋, ⌊(c+1)·w/9⌋); images narrower than the grid clamp each
    * empty range to one pixel (cells then overlap — deterministic, and
    * the signature stays defined down to 1×1).
    */
  private[functions] def boxMeanDhash(w: Int, h: Int, g: Array[Int]): Long = {
    val cells = DHash.Rows * DHash.Cols
    val sums = new Array[Long](cells)
    val cnts = new Array[Long](cells)
    var r = 0
    while (r < DHash.Rows) {
      val y0 = r * h / DHash.Rows
      val y1 = math.max(y0 + 1, (r + 1) * h / DHash.Rows)
      var c = 0
      while (c < DHash.Cols) {
        val x0 = c * w / DHash.Cols
        val x1 = math.max(x0 + 1, (c + 1) * w / DHash.Cols)
        var s = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) { s += g(y * w + x); x += 1 }
          y += 1
        }
        sums(r * DHash.Cols + c) = s
        cnts(r * DHash.Cols + c) = (y1 - y0).toLong * (x1 - x0)
        c += 1
      }
      r += 1
    }
    DHash.packGridSums(sums, cnts)
  }

  final case class AudioSig(doc_id: Long, sample_rate: Long, frames: Long,
      dhash: Long)

  /** SAMPLE-level 64-bit dHash per decodable WAV — the audio face of
    * [[imageDhash]]: the PCM amplitude envelope (mean |amplitude| over 72
    * evenly spaced frame windows) IS the brightness grid, so re-encoded,
    * re-packaged, or slightly-reprocessed copies of the same recording
    * land within a few bits and surface through the same
    * [[phashNearDups]] banded join. Reads REAL samples (16-bit signed or
    * 8-bit unsigned PCM, any channel count — channels fold into each
    * window's sum), not just the fmt header; windows compare by exact
    * cross-multiplied means ([[DHash.packGridSums]]). Non-WAV/non-PCM
    * rows drop.
    */
  def audioDhash(media: Dataset[MediaRow]): Dataset[AudioSig] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap(audioSigOne))
  }

  private[functions] def audioSigOne(r: MediaRow): Option[AudioSig] = {
    val b = r.content
    if (!isWav(b)) return None
    // chunk walk as in decodeWav, but keeping the data OFFSET for the
    // sample read
    var fmt, channels, bits, blockAlign = -1L
    var sampleRate = -1L
    var dataOff = -1; var dataSize = -1L
    var i = 12
    while (i + 8 <= b.length && (channels < 0 || dataSize < 0)) {
      val size = le32(b, i + 4)
      if (size < 0 || size > b.length - i - 8) return None
      if (b(i) == 'f' && b(i + 1) == 'm' && b(i + 2) == 't' && b(i + 3) == ' '
          && size >= 16 && i + 24 <= b.length) {
        fmt = le16(b, i + 8)
        channels = le16(b, i + 10)
        sampleRate = le32(b, i + 12)
        blockAlign = le16(b, i + 20)
        bits = le16(b, i + 22)
      } else if (b(i) == 'd' && b(i + 1) == 'a' && b(i + 2) == 't' && b(i + 3) == 'a') {
        dataOff = i + 8; dataSize = size
      }
      i += 8 + size.toInt + (size.toInt & 1)
    }
    if (fmt != 1L || channels <= 0 || blockAlign <= 0 || dataSize <= 0 ||
      (bits != 8L && bits != 16L)) return None
    // A frame must hold channels×bytesPerSample bytes; a header claiming a
    // smaller blockAlign (inconsistent but passing every guard above) would
    // read the last frames past the data chunk's end and crash the task.
    if (blockAlign < channels * (bits / 8)) return None
    val frames = (dataSize / blockAlign).toInt
    if (frames <= 0) return None
    val bytesPerSample = (bits / 8).toInt
    val nch = channels.toInt
    val cells = DHash.Rows * DHash.Cols
    val sums = new Array[Long](cells)
    val cnts = new Array[Long](cells)
    var w = 0
    while (w < cells) {
      val f0 = (w.toLong * frames / cells).toInt
      val f1 = math.max(f0 + 1, ((w + 1).toLong * frames / cells).toInt)
      var s = 0L
      var f = f0
      while (f < f1) {
        var ch = 0
        while (ch < nch) {
          val off = dataOff + f * blockAlign.toInt + ch * bytesPerSample
          val amp =
            if (bits == 16L) {
              val v = ((b(off) & 0xFF) | (b(off + 1) << 8)).toShort.toInt
              math.abs(v.toLong)
            } else math.abs((b(off) & 0xFF) - 128L)
          s += amp
          ch += 1
        }
        f += 1
      }
      sums(w) = s
      cnts(w) = (f1 - f0).toLong * nch
      w += 1
    }
    Some(AudioSig(r.doc_id, sampleRate, frames.toLong,
      DHash.packGridSums(sums, cnts)))
  }

  /** CONTENT dHash — the deterministic fallback signature for blobs this
    * container can't decode (the driver corpus feeds UTF-8 text): the
    * fingerprint-normalized text's code points become the brightness
    * sequence ([[DHash.computeText]]). Same signature space and same
    * banded-Hamming downstream as the pixel path, and fully replayable in
    * the DuckDB oracle (q_multimodal_phash). Empty/NULL-normalized rows
    * drop — a signature must describe content.
    */
  def contentDhash(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(col("doc_id"),
      TextAnalysis.normalizedText(col(textCol)).as("norm"))
      .filter(length(col("norm")) > 0)
      .select(col("doc_id"), DHash.textDhash(col("norm")).as("dhash"))

  /** Near-duplicate pairs over any dHash frame `(doc_id, dhash)` — the
    * [[Dedup.bandedHammingPairs]] machinery (4×16-bit bands, Hamming
    * verify): never all-pairs, same 100 TB shape as SimHash dedup.
    */
  def phashNearDups(sigs: DataFrame, maxHamming: Int = 3): DataFrame =
    Dedup.bandedHammingPairs(
      sigs.select(col("doc_id"), col("dhash").as("sig")), maxHamming)

  /** Persist the SEEN corpus's image signatures — the 16-byte-per-image
    * artifact every later batch screens against ([[phashScreen]], the
    * streaming gate): sign once at build time, never re-decode. Bucketed
    * + sorted by doc_id so the gate's idempotency probe (literal id IN)
    * is a pruned point read.
    */
  def writePhashTable(media: Dataset[MediaRow], name: String,
      buckets: Int = 8): Unit =
    writeSignatureTable(imageDhash(media).toDF(), name, buckets)

  /** Persist ANY dHash frame `(doc_id, dhash)` — the signature-level
    * write behind [[writePhashTable]], usable directly with
    * [[contentDhash]] (or the audio/video signers) when the signatures
    * are already computed.
    */
  def writeSignatureTable(sigs: DataFrame, name: String,
      buckets: Int = 8): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    val spark = sigs.sparkSession
    dropPhashTable(spark, name)
    try graft.sources.ManagedTables.writeBucketed(
      sigs.select(col("doc_id"), col("dhash")),
      name, "doc_id", buckets)
    catch { case e: Throwable => dropPhashTable(spark, name); throw e }
  }

  def dropPhashTable(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit =
    graft.sources.ManagedTables.dropManagedTables(spark, Seq(name, s"${name}_deletes"))

  /** TARGETED DELETION (takedowns — the phash table is exactly where
    * removed media must stop matching): O(batch) tombstone append;
    * [[phashScreen]] anti-joins the broadcast tombstones on its seen
    * side; [[compactPhashTable]] is the amortized physical purge.
    * Signatures are per-row independent, so tombstoned reads equal a
    * rebuild without the deleted media unconditionally — hash-certified
    * by q_multimodal_phash_deleted (the upsert gate's mirror).
    */
  def deleteFromPhashTable(spark: org.apache.spark.sql.SparkSession,
      name: String, ids: Seq[Long]): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    graft.sources.ManagedTables.appendDeletes(spark, name, "doc_id", ids)
  }

  /** Fold tombstones into the signature table (stage-and-swap rewrite
    * under its own bucket spec) and clear them.
    */
  def compactPhashTable(spark: org.apache.spark.sql.SparkSession,
      name: String): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    if (spark.catalog.tableExists(s"${name}_deletes")) {
      graft.sources.ManagedTables.rewriteBucketed(spark, name,
        graft.sources.ManagedTables.minusDeletes(spark, name, spark.table(name),
          "doc_id"))
      graft.sources.ManagedTables.dropDeletes(spark, name)
    }
  }

  /** Screen a batch of images against a [[writePhashTable]] corpus:
    * (batch_doc, seen_doc, hamming) pairs within `maxHamming` bits. The
    * batch is decoded and signed once (O(batch)); its band keys broadcast
    * against ONE scan of the stored 16-byte signature rows
    * ([[Dedup.bandedHammingPairsAgainst]]) — the seen corpus is never
    * re-decoded or shuffled.
    */
  def phashScreen(spark: org.apache.spark.sql.SparkSession, name: String,
      batch: Dataset[MediaRow], maxHamming: Int = 3): DataFrame =
    screenSignatures(spark, name, imageDhash(batch).toDF(), maxHamming)

  /** [[phashScreen]] at the signature level: screen a precomputed dHash
    * frame `(doc_id, dhash)` against a [[writeSignatureTable]] corpus
    * minus its tombstones.
    */
  def screenSignatures(spark: org.apache.spark.sql.SparkSession,
      name: String, sigs: DataFrame, maxHamming: Int = 3): DataFrame = {
    graft.sources.ManagedTables.requireIdent(name)
    Dedup.bandedHammingPairsAgainst(
      sigs.select(col("doc_id"), col("dhash").as("sig")),
      graft.sources.ManagedTables.minusDeletes(spark, name, spark.table(name),
          "doc_id")
        .select(col("doc_id"), col("dhash").as("sig")),
      maxHamming)
  }

  /** FRAME-SAMPLE schedule for video rows: `k` evenly spaced frame indexes
    * per video (slot j → frame ⌊j·frames/k⌋). Slots are kept explicit —
    * short videos repeat frames rather than shrinking the tensor, which is
    * what a fixed-shape training loader wants. The schedule explodes from
    * a scan-side projection (zero shuffles); the frame DECODE behind each
    * (doc_id, frame_idx) row is the stubbed step.
    */
  def frameSamplePlan(features: Dataset[MediaFeatures], k: Int): DataFrame = {
    require(k > 0, "frame count must be positive")
    features.toDF()
      .filter(col("media_type") === "video")
      .select(col("doc_id"), col("duration_frames"),
        explode(sequence(lit(0L), lit(k - 1L))).as("slot"))
      .select(col("doc_id"), col("slot"),
        floor(col("slot") * col("duration_frames") / lit(k.toLong))
          .cast("long").as("frame_idx"))
  }

  // ---- VIDEO / ANIMATION: the fourth modality. A video signs as the
  // dHash SEQUENCE of its sampled frames (the frameSamplePlan schedule
  // made real), and two videos are near-dups when a MAJORITY of their
  // aligned sampled frames match within the Hamming radius — robust to
  // re-encodes (every frame drifts a little) and to a replaced
  // title/credit frame (one slot misses, the majority still carries).

  final case class VideoFrameSig(doc_id: Long, slot: Long, frame_idx: Long,
    dhash: Long)

  /** Per-frame 64-bit dHashes of each animated GIF's sampled frames —
    * the [[frameSamplePlan]] schedule (slot j → frame ⌊j·frames/k⌋,
    * short animations repeat frames) EXECUTED: all stored frames are
    * read through the JDK's multi-frame GIF reader, the scheduled ones
    * luma-decode and sign with the exact same BT.601 + box-mean
    * [[DHash]] grid as still images (one decoder per partition,
    * iterator in/out, no shuffle — the [[decodeBatch]] contract).
    * Non-GIF / undecodable rows drop. Frames sign as STORED (GIF
    * inter-frame compositing is not applied): both copies of a
    * re-encoded animation store frames the same way, which is what the
    * dedup signature needs.
    */
  def videoFrameDhash(media: Dataset[MediaRow], k: Int = 4): Dataset[VideoFrameSig] = {
    require(k > 0, "frame count must be positive")
    val spark = media.sparkSession
    import spark.implicits._
    media.mapPartitions(_.flatMap(videoSigsOne(_, k)))
  }

  private[functions] def videoSigsOne(r: MediaRow, k: Int): Seq[VideoFrameSig] = {
    if (!isGif(r.content)) return Nil
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(r.content))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return Nil
      val reader = readers.next()
      try {
        reader.setInput(iis, false, true)
        val n = try reader.getNumImages(true)
        catch { case _: java.io.IOException => 0 }
        if (n <= 0) return Nil
        val slots = (0 until k).map(j => (j.toLong, (j.toLong * n / k).toInt))
        val byFrame = slots.map(_._2).distinct.flatMap { fi =>
          val img = try reader.read(fi)
          catch { case _: java.io.IOException => null }
          if (img == null) None
          else lumaOf(img).map { case (w, h, g) => fi -> boxMeanDhash(w, h, g) }
        }.toMap
        slots.flatMap { case (j, fi) =>
          byFrame.get(fi).map(d => VideoFrameSig(r.doc_id, j, fi, d))
        }
      } finally reader.dispose()
    } finally iis.close()
  }

  /** CONTENT-arm video signature — the deterministic stand-in for blob
    * corpora this container can't feed real video through (the
    * [[contentDhash]] convention, lifted to frames): the
    * fingerprint-normalized text splits into `k` contiguous
    * codepoint segments ("frames"), each signing with the same
    * [[DHash.textDhash]] as the still-content signature. Slot j covers
    * normalized codepoints [⌊j·len/k⌋, ⌊(j+1)·len/k⌋) — empty segments
    * (doc shorter than its slot) drop, so short docs sign fewer frames,
    * exactly like short animations repeat frames in the pixel arm.
    * Fully replayable in the DuckDB oracle (q_multimodal_video_phash).
    * Output: (doc_id, slot, dhash).
    */
  def contentVideoDhash(docs: DataFrame, k: Int = 4,
      textCol: String = "text"): DataFrame = {
    require(k > 0, "frame count must be positive")
    docs.select(col("doc_id"),
        TextAnalysis.normalizedText(col(textCol)).as("norm"))
      .filter(length(col("norm")) > 0)
      .select(col("doc_id"), col("norm"),
        explode(sequence(lit(0L), lit(k - 1L))).as("slot"))
      .select(col("doc_id"), col("slot"),
        expr(s"substring(norm, CAST(slot * length(norm) DIV $k AS INT) + 1, " +
          s"CAST((slot + 1) * length(norm) DIV $k AS INT) - " +
          s"CAST(slot * length(norm) DIV $k AS INT))").as("seg"))
      .filter(length(col("seg")) > 0)
      .select(col("doc_id"), col("slot"),
        graft.functions.DHash.textDhash(col("seg")).as("dhash"))
  }

  /** NEAR-DUPLICATE VIDEOS over any per-frame signature frame
    * `(doc_id, slot, dhash)` — banded per-frame Hamming candidates +
    * a frame-majority verdict:
    *
    *  1. candidates generate per (slot, band, chunk) — the still-image
    *     banding with the slot in the key, so only ALIGNED frames of
    *     two videos ever meet (never |frames_a|×|frames_b|);
    *  2. a frame pair matches when its full-signature Hamming distance
    *     is ≤ `maxHamming`;
    *  3. a video pair reports when its matched-slot count reaches
    *     `minMatchFrac` of the larger video's signed slot count.
    *
    * Output: (doc_a, doc_b, n_matched, n_slots, match_frac), doc_a <
    * doc_b. Scale shape: one slot-banded self-join (the
    * [[phashNearDups]] candidate discipline per slot), one
    * (doc_a, doc_b)-keyed aggregate; the slot-count side is a
    * per-video aggregate joined twice — all keyed exchanges, nothing
    * quadratic in the corpus.
    */
  def videoNearDups(sigs: DataFrame, maxHamming: Int = 3,
      minMatchFrac: Double = 0.5): DataFrame = {
    require(minMatchFrac > 0.0 && minMatchFrac <= 1.0,
      "minMatchFrac must be in (0, 1]")
    val banded = videoBanded(sigs)
    val ba = banded.as("a"); val bb = banded.as("b")
    val frameMatches = ba.join(bb,
        col("a.slot") === col("b.slot") &&
          col("a.band") === col("b.band") &&
          col("a.chunk") === col("b.chunk") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.slot").as("slot"), col("a.sig").as("sig_a"),
        col("b.sig").as("sig_b"))
      .distinct()
      .filter(bit_count(col("sig_a").bitwiseXOR(col("sig_b"))) <= maxHamming)
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(count(lit(1)).as("n_matched"))
    majorityVerdict(frameMatches, sigs, sigs, minMatchFrac)
  }

  /** [[videoNearDups]] across two signature frames — the screening shape
    * (arriving videos vs a stored per-frame signature table): the batch
    * side's banded frames BROADCAST against one scan of the seen side.
    * Output: (batch_doc, seen_doc, n_matched, n_slots, match_frac).
    */
  def videoNearDupsAgainst(batchSigs: DataFrame, seenSigs: DataFrame,
      maxHamming: Int = 3, minMatchFrac: Double = 0.5): DataFrame = {
    require(minMatchFrac > 0.0 && minMatchFrac <= 1.0,
      "minMatchFrac must be in (0, 1]")
    val frameMatches = videoBanded(seenSigs).as("s")
      .join(broadcast(videoBanded(batchSigs).as("b")),
        col("b.slot") === col("s.slot") &&
          col("b.band") === col("s.band") &&
          col("b.chunk") === col("s.chunk"))
      .select(col("b.doc_id").as("batch_doc"), col("s.doc_id").as("seen_doc"),
        col("b.slot").as("slot"), col("b.sig").as("sig_b"),
        col("s.sig").as("sig_s"))
      .distinct()
      .filter(bit_count(col("sig_b").bitwiseXOR(col("sig_s"))) <= maxHamming)
      .groupBy(col("batch_doc"), col("seen_doc"))
      .agg(count(lit(1)).as("n_matched"))
    majorityVerdict(
      frameMatches.withColumnRenamed("batch_doc", "doc_a")
        .withColumnRenamed("seen_doc", "doc_b"),
      batchSigs, seenSigs, minMatchFrac)
      .withColumnRenamed("doc_a", "batch_doc")
      .withColumnRenamed("doc_b", "seen_doc")
  }

  /** Per-frame band explosion shared by both candidate generators. */
  private def videoBanded(sigs: DataFrame): DataFrame =
    sigs.select(col("doc_id"), col("slot"), col("dhash").as("sig"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("dhash"), b * 16).bitwiseAND(lit(0xFFFFL))): _*))
        .as(Seq("band", "chunk")))

  /** The frame-majority tail shared by both generators: matched-slot
    * counts against the larger side's signed slot count.
    */
  private def majorityVerdict(frameMatches: DataFrame, sigsA: DataFrame,
      sigsB: DataFrame, minMatchFrac: Double): DataFrame = {
    val na = sigsA.groupBy(col("doc_id")).agg(count(lit(1)).as("na"))
    val nb = sigsB.groupBy(col("doc_id")).agg(count(lit(1)).as("nb"))
    frameMatches
      .join(na.select(col("doc_id").as("doc_a"), col("na")), Seq("doc_a"))
      .join(nb.select(col("doc_id").as("doc_b"), col("nb")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("n_matched"),
        greatest(col("na"), col("nb")).as("n_slots"),
        (col("n_matched").cast("double") /
          greatest(col("na"), col("nb")).cast("double")).as("match_frac"))
      .filter(col("match_frac") >= minMatchFrac)
  }

  /** Persist a per-frame video signature table `(doc_id, slot, dhash)`,
    * doc_id-bucketed — the video analog of [[writeSignatureTable]],
    * shared by the batch screen and the streaming gate. Tombstone
    * deletion and compaction ride the same `_deletes` machinery.
    */
  def writeVideoSignatureTable(sigs: DataFrame, name: String,
      buckets: Int = 8): Unit = {
    graft.sources.ManagedTables.requireIdent(name)
    val spark = sigs.sparkSession
    dropPhashTable(spark, name)
    try graft.sources.ManagedTables.writeBucketed(
      sigs.select(col("doc_id"), col("slot"), col("dhash")),
      name, "doc_id", buckets)
    catch { case e: Throwable => dropPhashTable(spark, name); throw e }
  }

  /** Screen arriving per-frame signatures against a
    * [[writeVideoSignatureTable]] corpus minus its tombstones.
    */
  def screenVideoSignatures(spark: org.apache.spark.sql.SparkSession,
      name: String, sigs: DataFrame, maxHamming: Int = 3,
      minMatchFrac: Double = 0.5): DataFrame = {
    graft.sources.ManagedTables.requireIdent(name)
    videoNearDupsAgainst(sigs,
      graft.sources.ManagedTables.minusDeletes(spark, name, spark.table(name),
        "doc_id"),
      maxHamming, minMatchFrac)
  }
}
