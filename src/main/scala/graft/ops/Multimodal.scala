package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads ride as opaque
  * `binary` columns with a typed metadata struct; decode / feature
  * extraction runs batched per partition (the Scala analogue of
  * `mapInPandas`: one iterator of rows in, one out, vectorizable per
  * batch).
  *
  * Decode status (r5): IMAGE pixel decode is REAL — the JDK's
  * headless-safe `javax.imageio` reads PNG/GIF/JPEG/BMP, so
  * [[pixelFeatures]] (stats), [[imageEmbedding]] (n×n mean-gray grid,
  * feeds the [[Similarity]] ANN ops) and [[extractFeatures]]'s decoded
  * path compute from actual pixels. AUDIO is real for PCM WAV via
  * `javax.sound.sampled` ([[wavFeatures]]: duration/RMS/zero-crossing
  * rate). VIDEO is real for the MJPEG-in-AVI class ([[aviMjpegFrames]]:
  * RIFF container walk + per-frame ImageIO; [[videoFeatures]],
  * frame-accurate [[frameOffsets]]); compressed codecs (H.264 etc.)
  * remain the honest stub — no such codec exists in the JDK. At 100 TB
  * the shape matters: payloads never pass through a shuffle (all
  * transforms narrow), and feature extraction cost is bounded per
  * batch.
  */
object Multimodal {

  // r9: ImageIO's default stream cache spools every encode/decode
  // through a TEMP FILE (create + write + delete per image) — pure
  // filesystem overhead for the small in-memory payloads this engine
  // handles. Memory-cached streams produce byte-identical results.
  javax.imageio.ImageIO.setUseCache(false)

  val MediaSchema: StructType = StructType(Seq(
    StructField("media_id", StringType, nullable = false),
    StructField("kind", StringType, nullable = false), // image | audio | video
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("mime", StringType, nullable = true),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("duration_ms", LongType, nullable = true))), nullable = true)))

  val FeatureSchema: StructType = StructType(Seq(
    StructField("media_id", StringType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("n_bytes", LongType, nullable = false),
    StructField("sig", StringType, nullable = false),
    StructField("decoded", BooleanType, nullable = false),
    StructField("features", ArrayType(FloatType), nullable = false)))

  /** REAL header decode — pure-JVM parse of the PNG / GIF / JPEG / BMP
    * container headers (magic, dimensions, bit depth) straight from the
    * payload bytes; no codecs needed. Returns None for unrecognized or
    * truncated payloads. This is the metadata-extraction step of the
    * multimodal column; pixel/audio/MJPEG-frame FEATURES are real too
    * (see the decode-status note on the object), with [[stubDecode]]
    * the fallback for codec classes the JDK cannot parse.
    *
    * Formats: PNG (8-byte signature + IHDR: big-endian w/h, depth byte);
    * GIF87a/89a (little-endian w/h, depth = (packed & 7) + 1); JPEG
    * (segment scan to the first SOFn marker: big-endian h/w, precision
    * byte); BMP (BITMAPINFOHEADER little-endian w/h, bpp).
    */
  def headerDecode(b: Array[Byte]): Option[(String, Int, Int, Int)] =
    // belt-and-braces: the walkers bound every read in Long math, but the
    // contract is None-on-corrupt, never an executor-killing throw
    try headerDecodeImpl(b) catch { case _: RuntimeException => None }

  private def headerDecodeImpl(b: Array[Byte]): Option[(String, Int, Int, Int)] = {
    def be16(i: Int) = ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)
    def be32(i: Int) = ((b(i) & 0xFF) << 24) | ((b(i + 1) & 0xFF) << 16) |
      ((b(i + 2) & 0xFF) << 8) | (b(i + 3) & 0xFF)
    def le16(i: Int) = (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
    def le32(i: Int) = (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8) |
      ((b(i + 2) & 0xFF) << 16) | ((b(i + 3) & 0xFF) << 24)
    val n = b.length
    if (n >= 25 && b(0) == 0x89.toByte && b(1) == 'P' && b(2) == 'N' &&
        b(3) == 'G' && b(4) == 0x0D && b(5) == 0x0A && b(6) == 0x1A &&
        b(7) == 0x0A && b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R')
      Some(("png", be32(16), be32(20), b(24) & 0xFF))
    else if (n >= 11 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a')
      Some(("gif", le16(6), le16(8), ((b(10) & 7) + 1)))
    else if (n >= 4 && b(0) == 0xFF.toByte && b(1) == 0xD8.toByte) {
      // JPEG: walk segments to the first start-of-frame marker
      var i = 2
      while (i + 3 < n && b(i) == 0xFF.toByte) {
        val m = b(i + 1) & 0xFF
        if (m == 0xFF) i += 1 // fill byte
        else if ((m >= 0xC0 && m <= 0xCF) && m != 0xC4 && m != 0xC8 && m != 0xCC) {
          return if (i + 8 < n)
            Some(("jpeg", be16(i + 7), be16(i + 5), b(i + 4) & 0xFF)) else None
        } else if (m == 0xD8 || m == 0x01 || (m >= 0xD0 && m <= 0xD7)) i += 2
        else if (i + 3 < n) i += 2 + be16(i + 2)
        else return None
      }
      None
    } else if (n >= 30 && b(0) == 'B' && b(1) == 'M')
      Some(("bmp", le32(18), math.abs(le32(22)), le16(28)))
    else if (n >= 8 &&
        ((b(0) == 'I' && b(1) == 'I' && b(2) == 42 && b(3) == 0) ||
         (b(0) == 'M' && b(1) == 'M' && b(2) == 0 && b(3) == 42))) {
      // TIFF: endian-tagged IFD walk for ImageWidth(256) /
      // ImageLength(257) / BitsPerSample(258). Entry values are
      // left-justified in the 4-byte value field; SHORT under MM sits
      // in the high half. Multi-count BitsPerSample lives at an offset
      // (read first sample when in bounds; default 8).
      val le = b(0) == 'I'
      def u16(i: Int) = if (le) le16(i) else be16(i)
      def u32(i: Int) = if (le) le32(i) else be32(i)
      // All bounds math in Long: u32 values are UNTRUSTED and may sit
      // anywhere in [0, 2^32); Int arithmetic like `ifd + 2 > n`
      // overflows for offsets near Int.MaxValue and lets a corrupt
      // 8-byte payload reach an out-of-bounds read (ADVICE r5 high).
      val ifdL = u32(4) & 0xFFFFFFFFL
      if (ifdL + 2 > n) return None
      val ifd = ifdL.toInt
      val cnt = u16(ifd)
      var w = -1; var h = -1; var d = 8
      var e = 0
      while (e < cnt) {
        val off = ifd + 2 + e * 12 // ifd <= n-2 and cnt < 2^16, no overflow
        if (off + 12L > n) return None
        val tag = u16(off); val typ = u16(off + 2); val vc = u32(off + 4)
        def inlineVal =
          if (typ == 3) u16(off + 8) // SHORT, left-justified
          else u32(off + 8) // LONG
        tag match {
          case 256 => w = inlineVal
          case 257 => h = inlineVal
          case 258 =>
            if (vc == 1) d = inlineVal
            else {
              val p = u32(off + 8) & 0xFFFFFFFFL
              if (p + 2 <= n) d = u16(p.toInt)
            }
          case _ => ()
        }
        e += 1
      }
      if (w > 0 && h > 0) Some(("tiff", w, h, d)) else None
    } else None
  }

  /** [[headerDecode]] as a Catalyst InternalRow (null when unrecognized)
    * — the codegen target of [[graft.expr.MediaHeaderOf]].
    */
  def headerRow(payload: Array[Byte]): org.apache.spark.sql.catalyst.InternalRow =
    headerDecode(payload) match {
      case Some((fmt, w, h, d)) =>
        new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](org.apache.spark.unsafe.types.UTF8String.fromString(fmt), w, h, d))
      case None => null
    }

  /** Fallback feature vector for payloads no JDK decoder accepts
    * (deterministic byte-fold; formerly the only path, now the
    * non-image/non-WAV fallback so the plumbing keeps working on
    * arbitrary binaries).
    */
  def stubDecode(payload: Array[Byte]): Array[Float] = {
    val out = new Array[Float](8)
    var i = 0
    while (i < payload.length) {
      out(i % 8) += (payload(i) & 0xFF) / 255.0f
      i += 1
    }
    out
  }

  /** Largest width × height [[decodeImage]] hands to ImageIO (4096 ×
    * 4096): the decoder allocates the whole raster from the header's
    * dimensions before reading any pixel, so a few KB of untrusted
    * payload could otherwise demand gigabytes of executor heap.
    */
  private val MaxDecodePixels = 1L << 24

  /** REAL pixel decode via the JDK's ImageIO (PNG/GIF/JPEG/BMP/TIFF;
    * pure JVM, headless-safe). None when the header does not parse,
    * declares more than `MaxDecodePixels` pixels, or no registered
    * reader accepts the bytes.
    */
  def decodeImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] =
    headerDecode(payload) match {
      case Some((_, w, h, _)) if w > 0 && h > 0 && w.toLong * h <= MaxDecodePixels =>
        try Option(javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload)))
        catch { case scala.util.control.NonFatal(_) => None }
      case _ => None
    }

  /** 8-dim REAL pixel statistics: [w, h, meanR, meanG, meanB, meanLum,
    * stdLum, dominant-luminance-octant]. Deterministic integer pixel
    * math (no float accumulation-order dependence): sums in Long,
    * divisions at the end.
    */
  def pixelFeatures(img: java.awt.image.BufferedImage): Array[Float] = {
    val (w, h) = (img.getWidth, img.getHeight)
    var sr = 0L; var sg = 0L; var sb = 0L; var sl = 0L; var sl2 = 0L
    val hist = new Array[Long](8)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 0xFF; val g = (rgb >> 8) & 0xFF; val b = rgb & 0xFF
        // integer Rec.601 luma (exact across JVMs)
        val lum = (299 * r + 587 * g + 114 * b) / 1000
        sr += r; sg += g; sb += b; sl += lum; sl2 += lum.toLong * lum
        hist(lum >> 5) += 1
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    val meanL = sl.toDouble / n
    val varL = sl2.toDouble / n - meanL * meanL
    var peak = 0; var pi = 0
    while (pi < 8) { if (hist(pi) > hist(peak)) peak = pi; pi += 1 }
    Array(w.toFloat, h.toFloat, (sr.toDouble / n).toFloat,
      (sg.toDouble / n).toFloat, (sb.toDouble / n).toFloat,
      meanL.toFloat, math.sqrt(math.max(varL, 0)).toFloat, peak.toFloat)
  }

  /** n×n mean-grayscale grid embedding (area-averaged in integer math —
    * NOT Graphics2D scaling, whose interpolation is JVM-dependent),
    * values in [0,1]; ready for the [[Similarity]] cosine/ANN ops.
    */
  def imageEmbedding(img: java.awt.image.BufferedImage, grid: Int = 8): Array[Float] = {
    val (w, h) = (img.getWidth, img.getHeight)
    val out = new Array[Float](grid * grid)
    var gy = 0
    while (gy < grid) {
      val y0 = gy * h / grid; val y1 = math.max((gy + 1) * h / grid, y0 + 1)
      var gx = 0
      while (gx < grid) {
        val x0 = gx * w / grid; val x1 = math.max((gx + 1) * w / grid, x0 + 1)
        var s = 0L; var y = y0
        while (y < math.min(y1, h)) {
          var x = x0
          while (x < math.min(x1, w)) {
            val rgb = img.getRGB(x, y)
            s += (299 * ((rgb >> 16) & 0xFF) + 587 * ((rgb >> 8) & 0xFF) +
              114 * (rgb & 0xFF)) / 1000
            x += 1
          }
          y += 1
        }
        val cnt = (math.min(y1, h) - y0).toLong * (math.min(x1, w) - x0)
        out(gy * grid + gx) = (s.toDouble / math.max(cnt, 1) / 255.0).toFloat
        gx += 1
      }
      gy += 1
    }
    out
  }

  /** REAL PCM WAV audio features via javax.sound.sampled:
    * [duration_ms, rms (0-1), zero-crossing rate per second, n_frames,
    * sample_rate, channels, 0, 0] (8-dim, parallel to pixelFeatures).
    * None for non-WAV / compressed payloads.
    */
  def wavFeatures(payload: Array[Byte]): Option[Array[Float]] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      val fmt = in.getFormat
      if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED)
        return None
      val bytes = in.readAllBytes()
      val ch = fmt.getChannels
      val bps = fmt.getSampleSizeInBits / 8
      val frames = bytes.length / (ch * bps)
      if (frames == 0) return None
      var s2 = 0.0; var zc = 0L; var prev = 0
      var f = 0
      while (f < frames) {
        val off = f * ch * bps // first channel only
        val v =
          if (bps == 2)
            (if (fmt.isBigEndian) (bytes(off) << 8) | (bytes(off + 1) & 0xFF)
             else (bytes(off + 1) << 8) | (bytes(off) & 0xFF)).toShort.toInt
          else bytes(off).toInt
        s2 += v.toDouble * v
        if (f > 0 && ((v >= 0) != (prev >= 0))) zc += 1
        prev = v
        f += 1
      }
      val full = if (bps == 2) 32768.0 else 128.0
      val durMs = frames * 1000.0 / fmt.getSampleRate
      Some(Array(durMs.toFloat, (math.sqrt(s2 / frames) / full).toFloat,
        (zc * fmt.getSampleRate / frames).toFloat, frames.toFloat,
        fmt.getSampleRate, ch.toFloat, 0f, 0f))
    } catch { case _: Throwable => None }

  /** MJPEG-in-AVI frame extraction — the one VIDEO class decodable with
    * pure JDK: a RIFF container walk to the 'movi' LIST, collecting the
    * '##dc'/'##db' stream chunks whose payload is a JPEG (FFD8), each
    * then decodable by ImageIO. Returns (frame byte offset, JPEG bytes)
    * per frame; empty for non-AVI / non-MJPEG payloads.
    */
  def aviMjpegFrames(b: Array[Byte]): Seq[(Long, Array[Byte])] = {
    def le32(i: Int) = (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8) |
      ((b(i + 2) & 0xFF) << 16) | ((b(i + 3) & 0xFF) << 24)
    def fourcc(i: Int) = new String(b, i, 4, "US-ASCII")
    val n = b.length
    if (n < 12 || fourcc(0) != "RIFF" || fourcc(8) != "AVI ") return Nil
    val frames = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Byte])]
    // walk chunks; recurse into LIST chunks, harvest stream-data chunks
    def walk(start: Int, end: Int, depth: Int): Unit = {
      // depth bound: real AVIs nest RIFF/LIST 3-4 deep; a crafted file
      // of nested 12-byte LISTs would otherwise recurse to StackOverflow-
      // Error, which is NOT a RuntimeException and escapes the fallback
      if (depth > 32) return
      var i = start
      while (i + 8 <= end) {
        val cc = fourcc(i)
        // chunk size is an UNTRUSTED le32: compare as unsigned in Long —
        // Int math `i + 8 + sz` overflows for sizes near 2^31 and lets a
        // crafted 24-byte AVI drive a negative index (ADVICE r5 high).
        // After the guard, i + 8 + sz <= end fits in Int.
        val sz = le32(i + 4)
        if (i + 8L + (sz & 0xFFFFFFFFL) > end) return // truncated/corrupt: stop
        if (cc == "LIST" && sz >= 4) walk(i + 12, i + 8 + sz, depth + 1)
        else if (cc.length == 4 && cc(0).isDigit && cc(1).isDigit &&
            (cc.substring(2) == "dc" || cc.substring(2) == "db") && sz >= 2 &&
            (b(i + 8) & 0xFF) == 0xFF && (b(i + 9) & 0xFF) == 0xD8)
          frames += ((i + 8).toLong -> java.util.Arrays.copyOfRange(b, i + 8, i + 8 + sz))
        i += 8 + sz + (sz & 1) // chunks pad to even
      }
    }
    // defense in depth: never let a corrupt container kill the task —
    // yield the frames collected before the walk went wrong
    try walk(12, n, 0) catch { case _: RuntimeException => () }
    frames.toVector
  }

  /** REAL video features for the MJPEG/AVI class: [n_frames, w, h,
    * mean luminance over up to `sampleK` evenly spaced frames,
    * mean |inter-frame luminance delta| (motion proxy), 0, 0, 0].
    * None when the payload has no decodable MJPEG frames.
    */
  def videoFeatures(payload: Array[Byte], sampleK: Int = 4): Option[Array[Float]] = {
    val frames = aviMjpegFrames(payload)
    if (frames.isEmpty) return None
    val idx =
      if (frames.size <= sampleK) frames.indices.toVector
      else (0 until sampleK).map(k => k * frames.size / sampleK).toVector
    val decoded = idx.flatMap(i => decodeImage(frames(i)._2))
    if (decoded.isEmpty) return None
    val lums = decoded.map(img => pixelFeatures(img)(5))
    val motion =
      if (lums.size < 2) 0f
      else (lums.sliding(2).map { case Seq(a, c) => math.abs(c - a) }.sum /
        (lums.size - 1)).toFloat
    Some(Array(frames.size.toFloat, decoded.head.getWidth.toFloat,
      decoded.head.getHeight.toFloat, (lums.sum / lums.size).toFloat,
      motion, 0f, 0f, 0f))
  }

  /** Batched per-partition feature extraction over media rows: images,
    * PCM WAV, and MJPEG/AVI video decode for real (`decoded = true`);
    * anything else falls back to the deterministic byte-fold. Narrow —
    * payloads never shuffle.
    */
  def extractFeatures(media: DataFrame): DataFrame = {
    val rows: Dataset[Row] = media.select("media_id", "kind", "payload")
    implicit val enc = org.apache.spark.sql.Encoders.row(FeatureSchema)
    rows.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { r =>
        val payload = Option(r.getAs[Array[Byte]]("payload")).getOrElse(Array.emptyByteArray)
        md.reset()
        val real = decodeImage(payload).map(pixelFeatures)
          .orElse(wavFeatures(payload))
          .orElse(videoFeatures(payload))
        Row(r.getString(0), r.getString(1), payload.length.toLong,
          md.digest(payload).map(b => f"$b%02x").mkString,
          real.isDefined, real.getOrElse(stubDecode(payload)))
      }
    }
  }

  /** Media table -> (media_id, embedding array<float>) for decodable
    * images; rows whose payload is not an image are dropped. Compose
    * with [[Similarity.cosineTopK]] / ANN buckets for visual near-dup.
    */
  def imageEmbeddings(media: DataFrame, grid: Int = 8): DataFrame = {
    val rows: Dataset[Row] = media.select("media_id", "payload")
    // media_id keeps its INPUT type (string, long, ...), so the output
    // drops straight into the similarity/dedup ops' id conventions
    implicit val enc = org.apache.spark.sql.Encoders.row(StructType(Seq(
      media.schema("media_id").copy(name = "media_id"),
      StructField("embedding", ArrayType(FloatType), nullable = false))))
    rows.mapPartitions { it =>
      it.flatMap { r =>
        val payload = Option(r.getAs[Array[Byte]]("payload")).getOrElse(Array.emptyByteArray)
        decodeImage(payload).map(img => Row(r.get(0), imageEmbedding(img, grid).toSeq))
      }
    }
  }

  /** Deterministic frame sampling for video payloads: for MJPEG/AVI the
    * offsets are the REAL '##dc' chunk positions from the container walk
    * (sampled evenly when more than k frames exist); other payloads fall
    * back to evenly spaced byte offsets (the honest stub for codec
    * classes the JDK cannot parse).
    */
  def frameOffsets(media: DataFrame, k: Int): DataFrame = {
    val rows: Dataset[Row] = media
    val schema = media.schema.add(StructField("frame_offsets",
      ArrayType(LongType), nullable = false))
    implicit val enc = org.apache.spark.sql.Encoders.row(schema)
    val payloadIdx = media.schema.fieldIndex("payload")
    rows.mapPartitions { it =>
      it.map { r =>
        val payload = Option(r.getAs[Array[Byte]](payloadIdx)).getOrElse(Array.emptyByteArray)
        val real = aviMjpegFrames(payload).map(_._1)
        val offs: Seq[Long] =
          if (real.nonEmpty) {
            if (real.size <= k) real
            else (0 until k).map(i => real(i * real.size / k))
          } else (0 until k).map(i => i.toLong * payload.length / k)
        Row.fromSeq(r.toSeq :+ offs)
      }
    }
  }

  /** Build a media table from the docs table's media spans. */
  def fromMediaSpans(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(col("spans")).as("s"))
      .filter(col("s.kind") === "media")
      .select(
        concat(col("doc_id"), lit("#"), col("s.offset")).as("media_id"),
        lit("image").as("kind"),
        encode(col("s.media_ref"), "UTF-8").as("payload"), // stub payload
        struct(lit("application/octet-stream").as("mime"),
          lit(null).cast("int").as("width"), lit(null).cast("int").as("height"),
          lit(null).cast("bigint").as("duration_ms")).as("meta"))
}
