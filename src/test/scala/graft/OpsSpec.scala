package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.ops._

class OpsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def docsDf = {
    import spark.implicits._
    spark.createDataset(graft.ingest.Fixtures.Names.map(graft.ingest.Fixtures.doc)).toDF()
  }

  test("PyTitleCase column == PyStr.title on the makeid oracle corpus") {
    import spark.implicits._
    val cells = scala.io.Source.fromFile("src/test/resources/oracle/makeid.tsv", "UTF-8")
      .getLines().map(_.split("\t", -1)(0))
      .map(b => new String(java.util.Base64.getDecoder.decode(b), "UTF-8"))
      .toVector.distinct
    val df = cells.toDF("s")
      .withColumn("t_expr", graft.expr.PyTitleCase(col("s")))
      .collect()
    df.foreach { r =>
      assert(r.getString(1) == graft.text.PyStr.title(r.getString(0)), r.getString(0))
    }
  }

  test("Exprs.makeId column == MakeId core function") {
    import spark.implicits._
    val cells = Seq("aktuelle Probe", "Prüfzeit", "190C_1000h_1", "ROIs",
      "DataLogger 4.0  Version 4.0 Revision 7", "Messlänge", "a-b_c d")
    val rows = cells.toDF("s").withColumn("m", graft.expr.Exprs.makeId(col("s"))).collect()
    rows.foreach(r => assert(r.getString(1) == graft.text.MakeId(r.getString(0)), r.getString(0)))
  }

  test("multimodal plumbing: media spans -> payloads -> batched features") {
    val media = Multimodal.fromMediaSpans(docsDf)
    val n = media.count()
    assert(n > 0) // example5 carries media spans
    val feats = Multimodal.extractFeatures(media)
    val r = feats.orderBy("media_id").head()
    assert(r.getAs[Long]("n_bytes") > 0)
    assert(r.getAs[scala.collection.Seq[Float]]("features").length == 8)
    val fo = Multimodal.frameOffsets(media, 4)
    assert(fo.select(expr("size(frame_offsets)")).head().getInt(0) == 4)
  }

  test("REAL pixel decode: ImageIO stats exact vs direct pixel math; PNG == BMP; WAV features") {
    import spark.implicits._
    // deterministic 32x16 gradient; expected stats from the same
    // integer math the operator uses
    val (w, h) = (32, 16)
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var sr = 0L; var sg = 0L; var sb = 0L
    for (y <- 0 until h; x <- 0 until w) {
      val r = (x * 7 + y * 3) % 256; val g = (x * 5 + y * 11) % 256; val b = (x * 13 + y) % 256
      img.setRGB(x, y, (r << 16) | (g << 8) | b)
      sr += r; sg += g; sb += b
    }
    val n = w * h
    def png(i: java.awt.image.BufferedImage) = {
      val o = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(i, "png", o); o.toByteArray
    }
    def bmp(i: java.awt.image.BufferedImage) = {
      val o = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(i, "bmp", o); o.toByteArray
    }
    val fPng = Multimodal.pixelFeatures(Multimodal.decodeImage(png(img)).get)
    val fBmp = Multimodal.pixelFeatures(Multimodal.decodeImage(bmp(img)).get)
    assert(fPng.toSeq == fBmp.toSeq, "lossless formats must agree exactly")
    assert(fPng(0) == w.toFloat && fPng(1) == h.toFloat)
    assert(fPng(2) == (sr.toDouble / n).toFloat && fPng(3) == (sg.toDouble / n).toFloat &&
      fPng(4) == (sb.toDouble / n).toFloat, fPng.toSeq.toString)
    // embedding grid: left-black/right-white image -> 0s then ~1s
    val bw = new java.awt.image.BufferedImage(16, 16, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 16; x <- 0 until 16) bw.setRGB(x, y, if (x < 8) 0 else 0xFFFFFF)
    val emb = Multimodal.imageEmbedding(bw, grid = 4)
    assert(emb.length == 16)
    for (gy <- 0 until 4; gx <- 0 until 4) {
      val v = emb(gy * 4 + gx)
      if (gx < 2) assert(v == 0f, s"($gx,$gy)=$v") else assert(v > 0.99f, s"($gx,$gy)=$v")
    }
    // PCM WAV: 440 Hz sine, 0.5 s, 16-bit mono, amplitude 16384
    val sr2 = 8000; val frames = 4000; val amp = 16384
    val pcm = new java.io.ByteArrayOutputStream()
    val dos = new java.io.DataOutputStream(pcm)
    def le32(v: Int) = { dos.write(v & 0xFF); dos.write((v >> 8) & 0xFF); dos.write((v >> 16) & 0xFF); dos.write((v >> 24) & 0xFF) }
    def le16(v: Int) = { dos.write(v & 0xFF); dos.write((v >> 8) & 0xFF) }
    dos.writeBytes("RIFF"); le32(36 + frames * 2); dos.writeBytes("WAVE")
    dos.writeBytes("fmt "); le32(16); le16(1); le16(1); le32(sr2); le32(sr2 * 2); le16(2); le16(16)
    dos.writeBytes("data"); le32(frames * 2)
    for (f <- 0 until frames)
      le16((amp * math.sin(2 * math.Pi * 440 * f / sr2)).toInt & 0xFFFF)
    val wf = Multimodal.wavFeatures(pcm.toByteArray).get
    assert(math.abs(wf(0) - 500f) < 1f, s"duration ${wf(0)}")
    assert(math.abs(wf(1) - amp / math.sqrt(2) / 32768.0) < 0.01, s"rms ${wf(1)}")
    assert(math.abs(wf(2) - 880f) < 20f, s"zcr ${wf(2)}")
    assert(wf(4) == sr2.toFloat && wf(5) == 1f)
    // end-to-end extractFeatures: image decodes for real, junk falls back
    val rows = Seq(("m1", "image", png(img)), ("m2", "image", "not an image".getBytes("UTF-8")),
      ("m3", "audio", pcm.toByteArray)).toDF("media_id", "kind", "payload")
    val got = Multimodal.extractFeatures(rows).collect()
      .map(r => r.getString(0) -> ((r.getBoolean(4), r.getSeq[Float](5)))).toMap
    assert(got("m1")._1 && got("m1")._2 == fPng.toSeq)
    assert(!got("m2")._1 && got("m2")._2.length == 8)
    assert(got("m3")._1 && got("m3")._2(0) == wf(0))
    // imageEmbeddings keeps only decodable rows
    assert(Multimodal.imageEmbeddings(rows).collect().map(_.getString(0)).toSeq == Seq("m1"))
  }

  test("visual near-dup: imageEmbeddings -> cosineTopK ranks the re-encoded image first") {
    import spark.implicits._
    def img(seed: Int, noise: Int): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 32; x <- 0 until 32) {
        val v = ((x * seed + y * (seed + 3)) % 200 + noise) % 256
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val o = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, if (noise % 2 == 0) "png" else "bmp", o)
      o.toByteArray
    }
    // m_query (png) and m_same (same pixels, BMP container) must be
    // nearest; m_far is a different pattern
    val media = Seq(
      ("m_query", img(7, 0)), ("m_same", img(7, 0)),
      ("m_near", img(7, 6)), ("m_far", img(91, 120)))
      .toDF("media_id", "payload")
    val emb = graft.ops.Multimodal.imageEmbeddings(media, grid = 8)
    assert(emb.count() == 4)
    val ranked = graft.ops.Similarity.cosineTopK(
      emb.filter(col("media_id") =!= "m_query"), "media_id", "embedding",
      emb.filter(col("media_id") === "m_query"), 3)
      .collect().map(_.getString(0))
    assert(ranked.head == "m_same", ranked.toSeq.toString)
    assert(ranked.last == "m_far", ranked.toSeq.toString)
  }

  test("REAL video decode: MJPEG-in-AVI frames, motion features, frame-accurate offsets") {
    import spark.implicits._
    // three JPEG frames of rising brightness via ImageIO
    def jpegFrame(bright: Int): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(16, 12, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 12; x <- 0 until 16)
        im.setRGB(x, y, (bright << 16) | (bright << 8) | bright)
      val o = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, "jpg", o); o.toByteArray
    }
    val frames = Seq(jpegFrame(40), jpegFrame(120), jpegFrame(200))
    // assemble a spec-shaped AVI: RIFF('AVI ' LIST('hdrl' avih)
    // LIST('movi' 00dc...)) with even-padded chunks
    def le32(v: Int) = Array[Byte]((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    def chunk(cc: String, data: Array[Byte]): Array[Byte] = {
      val pad = if (data.length % 2 == 1) Array[Byte](0) else Array.emptyByteArray
      cc.getBytes("US-ASCII") ++ le32(data.length) ++ data ++ pad
    }
    def list(subtype: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", subtype.getBytes("US-ASCII") ++ body)
    val avih = chunk("avih", Array.fill[Byte](56)(0))
    val movi = list("movi", frames.map(f => chunk("00dc", f)).reduce(_ ++ _))
    val body = "AVI ".getBytes("US-ASCII") ++ list("hdrl", avih) ++ movi
    val avi = "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body

    val got = Multimodal.aviMjpegFrames(avi)
    assert(got.size == 3, got.size.toString)
    got.zip(frames).foreach { case ((off, fb), orig) =>
      assert(fb.sameElements(orig))
      assert(avi(off.toInt) == 0xFF.toByte && avi(off.toInt + 1) == 0xD8.toByte)
      val img = Multimodal.decodeImage(fb).get
      assert(img.getWidth == 16 && img.getHeight == 12)
    }
    val vf = Multimodal.videoFeatures(avi).get
    assert(vf(0) == 3f && vf(1) == 16f && vf(2) == 12f)
    assert(vf(4) > 30f, s"rising brightness must register as motion: ${vf(4)}")
    // still frames (identical) -> zero motion
    val still = "RIFF".getBytes("US-ASCII") ++ {
      val b = "AVI ".getBytes("US-ASCII") ++ list("hdrl", avih) ++
        list("movi", Seq.fill(2)(chunk("00dc", jpegFrame(99))).reduce(_ ++ _))
      le32(b.length) ++ b
    }
    assert(Multimodal.videoFeatures(still).get(4) == 0f)
    // junk and imageless AVIs stay undecoded
    assert(Multimodal.videoFeatures("RIFFxxxx".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.aviMjpegFrames(jpegFrame(10)).isEmpty)
    // end-to-end: extractFeatures marks the AVI decoded; frameOffsets
    // returns the REAL chunk positions for AVI, even-spaced bytes else
    val media = Seq(("v1", "video", avi), ("x1", "video", "zzz".getBytes("UTF-8")))
      .toDF("media_id", "kind", "payload")
    val feats = Multimodal.extractFeatures(media).collect()
      .map(r => r.getString(0) -> r.getBoolean(4)).toMap
    assert(feats == Map("v1" -> true, "x1" -> false))
    val offs = Multimodal.frameOffsets(media, 2).collect()
      .map(r => r.getAs[String]("media_id") -> r.getAs[scala.collection.Seq[Long]]("frame_offsets")).toMap
    assert(offs("v1").size == 2 &&
      offs("v1").forall(o => avi(o.toInt) == 0xFF.toByte), offs("v1").toString)
    assert(offs("x1") == Seq(0L, 1L))
  }

  test("image near-dup at bucket scale: imageEmbeddings -> LSH buckets -> pair verify") {
    import spark.implicits._
    // 40 images in 8 visual families (same pattern, tiny noise) + PNG/BMP
    // container variety; near-dup pairs must land within families only
    def img(fam: Int, variant: Int): Array[Byte] = {
      val im = new java.awt.image.BufferedImage(24, 24, java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (y <- 0 until 24; x <- 0 until 24) {
        val v = ((x * (fam * 2 + 3) + y * (fam + 7)) % 220 + variant) % 256
        im.setRGB(x, y, (v << 16) | (v << 8) | v)
      }
      val o = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(im, if (variant % 2 == 0) "png" else "bmp", o)
      o.toByteArray
    }
    // numeric media ids (annBuckets draws its projection planes from
    // the rows with ids planeFrom..planeFrom+nPlanes-1 by convention):
    // id = fam * 5 + variant + 1
    val media = (for (f <- 0 until 8; v <- 0 until 5)
      yield ((f * 5 + v + 1).toLong, img(f, v))).toDF("media_id", "payload")
    val emb = graft.ops.Multimodal.imageEmbeddings(media, grid = 8)
    assert(emb.count() == 40)
    val pairs = graft.ops.Dedup.embeddingNearDups(
        emb, "media_id", "embedding", nPlanes = 6, threshold = 0.999)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    def fam(id: Long) = (id - 1) / 5
    def isPng(id: Long) = ((id - 1) % 5) % 2 == 0
    assert(pairs.nonEmpty, "families must produce near-dup pairs")
    pairs.foreach { case (a, b) =>
      assert(fam(a) == fam(b), s"cross-family pair $a / $b")
    }
    // and at least one pair crosses the PNG/BMP container split
    assert(pairs.exists { case (a, b) => isPng(a) != isPng(b) },
      pairs.take(10).toSeq.toString)
  }

  test("media header decode: real PNG/GIF/JPEG/BMP layouts; Expression == scalar") {
    import spark.implicits._
    def hx(s: String): Array[Byte] = s.replaceAll("\\s", "")
      .grouped(2).map(Integer.parseInt(_, 16).toByte).toArray
    // real container layouts, hand-assembled
    val png1x1 = hx("89504E470D0A1A0A 0000000D 49484452 00000001 00000001 08 06 00 00 00 00000000")
    val gif3x2 = hx("474946383961 0300 0200 87 00 00")
    // JPEG with an APP0/JFIF segment BEFORE the SOF0 (the segment walk)
    val jpegApp0 = hx("FFD8 FFE0 0010 4A46494600 0101 00 0001 0001 0000" +
      " FFC0 0011 08 0002 0003 03 012200 021101 031101")
    val bmp = hx("424D 1E000000 00000000 36000000 28000000" +
      " 05000000 04000000 0100 1800")
    assert(Multimodal.headerDecode(png1x1).contains(("png", 1, 1, 8)))
    assert(Multimodal.headerDecode(gif3x2).contains(("gif", 3, 2, 8)))
    assert(Multimodal.headerDecode(jpegApp0).contains(("jpeg", 3, 2, 8)))
    assert(Multimodal.headerDecode(bmp).contains(("bmp", 5, 4, 24)))
    // TIFF, both byte orders: ImageIO-written (real container, LE or BE
    // per writer default) and a hand-assembled big-endian IFD
    val timg = new java.awt.image.BufferedImage(7, 4, java.awt.image.BufferedImage.TYPE_INT_RGB)
    val to = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(timg, "tiff", to)
    val realTiff = Multimodal.headerDecode(to.toByteArray)
    assert(realTiff.exists(t => t._1 == "tiff" && t._2 == 7 && t._3 == 4), realTiff.toString)
    val tiffBE = hx("4D4D 002A 00000008" + // MM, 42, IFD at 8
      " 0003" + // 3 entries
      " 0100 0003 00000001 00050000" + // ImageWidth SHORT 5 (high half)
      " 0101 0004 00000001 00000003" + // ImageLength LONG 3
      " 0102 0003 00000001 00100000" + // BitsPerSample SHORT 16
      " 00000000")
    assert(Multimodal.headerDecode(tiffBE).contains(("tiff", 5, 3, 16)))
    // unrecognized / truncated -> None (and null through the Expression)
    assert(Multimodal.headerDecode("not an image".getBytes("UTF-8")).isEmpty)
    assert(Multimodal.headerDecode(hx("89504E47")).isEmpty)
    assert(Multimodal.headerDecode(hx("FFD8FFC0")).isEmpty)
    assert(Multimodal.headerDecode(hx("49492A00 10000000")).isEmpty) // IFD out of range
    // adversarial untrusted offsets near Int.MaxValue: Int bounds math
    // would overflow and index out of bounds (ADVICE r5 highs) — must
    // return None / Nil, never throw
    assert(Multimodal.headerDecode(hx("49492A00 FEFFFF7F")).isEmpty) // IFD 0x7FFFFFFE
    assert(Multimodal.headerDecode(hx("49492A00 FFFFFFFF")).isEmpty) // IFD 2^32-1 (unsigned)
    assert(Multimodal.headerDecode(hx("4D4D002A 7FFFFFFE")).isEmpty) // BE variant
    // BitsPerSample count 2 -> value field is a POINTER, here 0x7FFFFFFE
    val tiffBadBps = hx("49492A00 08000000" +
      " 0300" +
      " 0001 0300 01000000 05000000" + // ImageWidth 5
      " 0101 0300 01000000 03000000" + // ImageLength 3
      " 0201 0300 02000000 FEFFFF7F" + // BitsPerSample ptr near Int.MaxValue
      " 00000000")
    assert(Multimodal.headerDecode(tiffBadBps).contains(("tiff", 5, 3, 8)),
      Multimodal.headerDecode(tiffBadBps).toString) // ptr ignored, depth defaults
    // crafted 24-byte AVI whose chunk size is 0x7FFFFFFE: the walk must
    // stop (truncated), not crash with a negative index
    val badAvi = "RIFF".getBytes("US-ASCII") ++ hx("10000000") ++
      "AVI ".getBytes("US-ASCII") ++ "00dc".getBytes("US-ASCII") ++
      hx("FEFFFF7F") ++ hx("FFD80000")
    assert(badAvi.length == 24)
    assert(Multimodal.aviMjpegFrames(badAvi).isEmpty)
    // deeply nested LISTs: the walk must depth-bound, not StackOverflow
    def le32b(v: Int) = Array[Byte]((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    var nested = "junk".getBytes("US-ASCII")
    for (_ <- 0 until 1000) // >> the depth-32 bound; O(n^2) build stays tiny
      nested = "LIST".getBytes("US-ASCII") ++ le32b(nested.length + 4) ++
        "movi".getBytes("US-ASCII") ++ nested
    val deepAvi = "RIFF".getBytes("US-ASCII") ++ le32b(nested.length + 4) ++
      "AVI ".getBytes("US-ASCII") ++ nested
    assert(Multimodal.aviMjpegFrames(deepAvi).isEmpty) // bounded, no SOE
    assert(Multimodal.videoFeatures(badAvi).isEmpty)
    assert(Multimodal.frameOffsets(Seq(("bad", "video", badAvi))
      .toDF("media_id", "kind", "payload"), 2).count() == 1)
    val rows = Seq(("png", png1x1), ("gif", gif3x2), ("jpeg", jpegApp0),
      ("bmp", bmp), ("junk", "zzz".getBytes("UTF-8")))
    val got = rows.toDF("name", "payload")
      .withColumn("hdr", graft.expr.MediaHeaderOf(col("payload")))
      .select("name", "hdr.format", "hdr.width", "hdr.height", "hdr.bit_depth")
      .collect().map(r => r.getString(0) ->
        (if (r.isNullAt(1)) None else Some((r.getString(1), r.getInt(2), r.getInt(3), r.getInt(4)))))
      .toMap
    rows.foreach { case (name, bytes) =>
      assert(got(name) == Multimodal.headerDecode(bytes), name)
    }
  }

  test("hostile image payload: an oversized header is refused before any raster allocation") {
    // a 32x32 noise PNG (~3 KB), then the same bytes with an IHDR that
    // declares 20000x20000 (CRC fixed, so the header is well formed)
    val rnd = new scala.util.Random(4242)
    val img = new java.awt.image.BufferedImage(32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 32; x <- 0 until 32) img.setRGB(x, y, rnd.nextInt(1 << 24))
    val o = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", o)
    val small = o.toByteArray
    val huge = small.clone()
    val bb = java.nio.ByteBuffer.wrap(huge)
    bb.putInt(16, 20000).putInt(20, 20000)
    val crc = new java.util.zip.CRC32
    crc.update(huge, 12, 17) // "IHDR" + its 13 data bytes
    bb.putInt(29, crc.getValue.toInt)
    assert(huge.length > 2000 && huge.length < 4000, huge.length.toString)
    assert(Multimodal.headerDecode(huge).contains(("png", 20000, 20000, 8)))
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    val tid = Thread.currentThread().getId
    val before = threads.getThreadAllocatedBytes(tid)
    assert(Multimodal.decodeImage(huge).isEmpty)
    val allocated = threads.getThreadAllocatedBytes(tid) - before
    // the raster alone would be 400M pixels
    assert(allocated < (16L << 20), s"allocated $allocated bytes")
    // the untouched payload still decodes to the same pixels
    val back = Multimodal.decodeImage(small).get
    assert(back.getWidth == 32 && back.getHeight == 32)
    for (y <- 0 until 32; x <- 0 until 32)
      assert(back.getRGB(x, y) == img.getRGB(x, y), s"($x,$y)")
  }

  test("similarity: annTopK returns bucket-restricted neighbors") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val topk = Similarity.annTopK(e, "vec_id", "embedding", queryId = 0, k = 5)
    val rows = topk.collect()
    assert(rows.length <= 5 && rows.nonEmpty)
    // exact brute force must contain the ANN scores for the same ids
    val exact = Similarity.cosineTopK(
      e.filter(col("vec_id") =!= 0), "vec_id", "embedding",
      e.filter(col("vec_id") === 0), 500).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach(r => assert(math.abs(exact(r.getLong(0)) - r.getDouble(1)) < 1e-9))
  }

  test("similarity: ivfTopK scores agree with exact within the cell") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val topk = Similarity.ivfTopK(e, "vec_id", "embedding", queryId = 0, k = 5)
    val rows = topk.collect()
    assert(rows.nonEmpty && rows.length <= 5)
    val exact = Similarity.cosineTopK(
      e.filter(col("vec_id") =!= 0), "vec_id", "embedding",
      e.filter(col("vec_id") === 0), 500).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach(r => assert(math.abs(exact(r.getLong(0)) - r.getDouble(1)) < 1e-9))
  }

  test("graft_shingles Expression == HOF shingles (fixtures + synth + edges)") {
    import spark.implicits._
    val sources = Seq(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("text"),
      spark.range(300).map(i => graft.ingest.SynthCorpus.docText(i)).toDF("text"),
      Seq("", " ", "a", "a b", "  leading", "trailing  ", "a  b\tc\nd",
        "x x x x x", "ü ö ä").toDF("text"))
    for (src <- sources; n <- Seq(3, 5)) {
      val diff = src.select(
          Dedup.shingles("text", n).as("native"),
          Dedup.shinglesHof("text", n).as("hof"))
        .filter(not(col("native") <=> col("hof")))
      assert(diff.count() == 0, s"n=$n: " + diff.take(2).mkString("; "))
    }
  }

  test("fast (xxhash64) minhash/LSH: deterministic, same dup detection, capped") {
    import spark.implicits._
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val s1 = Dedup.minhashSignaturesFast(d, "doc_id", "text").collect().map(_.toString).sorted
    val s2 = Dedup.minhashSignaturesFast(d, "doc_id", "text").collect().map(_.toString).sorted
    assert(s1.sameElements(s2) && s1.nonEmpty)
    // the narrow one-pass kernel == the exploded min(xxhash64(j, sh)) agg
    val s3 = Dedup.minhashSignaturesFastAgg(d, "doc_id", "text").collect().map(_.toString).sorted
    assert(s1.sameElements(s3))
    // and its plan is shuffle-free (signatures at scan speed)
    val p = Dedup.minhashSignaturesFast(d, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange") && !p.contains("Generate"), p.take(1200))
    // identical texts -> identical signatures -> paired
    val dup = Seq(("a", "x y z w v"), ("b", "x y z w v"), ("c", "totally different words here")).toDF("doc_id", "text")
    val pairs = Dedup.lshCandidatePairsFast(dup, "doc_id", "text").collect()
    assert(pairs.map(r => (r.getString(0), r.getString(1))).toSet == Set(("a", "b")))
    // cap bounds the degenerate corpus exactly like the md5 form
    val deg = (0 until 500).map(i => (f"d$i%03d", "p q r s t u v w")).toDF("doc_id", "text")
    assert(Dedup.lshCandidatePairsFast(deg, "doc_id", "text", maxBucket = 8)
      .count() == 8L * 7 / 2)
  }

  test("as-of join: >= match, deterministic tie, null when no prior, one shuffle") {
    import spark.implicits._
    val right = Seq( // clicks: (user, ts, id)
      ("u1", 10L, 100L), ("u1", 20L, 101L), ("u1", 20L, 102L), ("u2", 5L, 200L)
    ).toDF("user_id", "ts_us", "event_id")
    val left = Seq( // purchases
      ("u1", 15L, 900L), // matches ts=10
      ("u1", 20L, 901L), // equal ts: matches, tie -> larger event_id 102
      ("u1", 25L, 902L), // matches ts=20 id 102
      ("u2", 1L, 903L),  // nothing prior -> null
      ("u3", 9L, 904L)   // key with no right rows -> null
    ).toDF("user_id", "ts_us", "event_id")
    val out = AsOfJoin.asOf(left, right, "user_id", "ts_us", "event_id")
      .collect().map(r => (r.getString(0), r.getLong(2)) ->
        (if (r.isNullAt(3)) -1L else r.getLong(3),
         if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    assert(out(("u1", 900L)) == ((10L, 100L)))
    assert(out(("u1", 901L)) == ((20L, 102L)))
    assert(out(("u1", 902L)) == ((20L, 102L)))
    assert(out(("u2", 903L)) == ((-1L, -1L)))
    assert(out(("u3", 904L)) == ((-1L, -1L)))
    val p = AsOfJoin.asOf(left, right, "user_id", "ts_us", "event_id")
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(p).size == 1, p.take(1500))
    assert(!p.contains("Join"), "must not be a range/self join")
    // left payload columns ride through (null-filled right side dropped)
    val leftPay = left.withColumn("amount", col("event_id") * 2)
    val withPay = AsOfJoin.asOf(leftPay, right, "user_id", "ts_us", "event_id")
    assert(withPay.columns.toSeq ==
      Seq("user_id", "ts_us", "event_id", "amount", "asof_ts", "asof_tie"))
    val pay = withPay.collect()
      .map(r => r.getLong(2) -> (r.getLong(3), if (r.isNullAt(4)) -1L else r.getLong(4))).toMap
    assert(pay(900L) == ((1800L, 10L)) && pay(903L) == ((1806L, -1L)))
  }

  test("connected components + survivor selection over near-dup pairs") {
    import spark.implicits._
    // chain a-b-c, triangle x-y-z (plus redundant edge), pair p-q
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y"), ("y", "z"), ("x", "z"),
      ("p", "q")).toDF("id1", "id2")
    val comps = Dedup.connectedComponents(pairs)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(comps == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "x" -> "x", "y" -> "x", "z" -> "x", "p" -> "p", "q" -> "p"))
    // survivors: min id per cluster + untouched isolated docs
    val docs = Seq("a", "b", "c", "x", "y", "z", "p", "q", "solo")
      .toDF("doc_id")
    val kept = Dedup.dedupByComponents(docs, "doc_id", pairs)
      .select("doc_id").as[String].collect().sorted.toVector
    assert(kept == Vector("a", "p", "solo", "x"))
    // a longer chain still converges (diameter 6)
    val chain = (0 until 7).map(i => (s"c$i", s"c${i + 1}")).toDF("id1", "id2")
    val cc = Dedup.connectedComponents(chain).select("component")
      .distinct().as[String].collect()
    assert(cc.sameElements(Array("c0")))
  }

  test("connectedComponents evaluates the upstream pair pipeline exactly once") {
    import spark.implicits._
    // the pair pipeline (in production: the whole LSH signature ->
    // bucket -> expansion subtree) is instrumented with an accumulator;
    // label propagation must not re-execute it per round
    val acc = spark.sparkContext.longAccumulator("pairEvals")
    val pairs = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDS()
      .map { t => acc.add(1); t }.toDF("id1", "id2")
    val (labels, converged) = Dedup.connectedComponentsFlagged(pairs, maxIter = 10)
    val comps = labels.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(converged)
    assert(comps == Map("a" -> "a", "b" -> "a", "c" -> "a", "x" -> "x", "y" -> "x"))
    assert(acc.value == 3, s"pair subtree evaluated ${acc.value / 3.0}x")
    // a chain deeper than maxIter must report non-convergence
    val chain = (0 until 7).map(i => (s"c$i", s"c${i + 1}")).toDF("id1", "id2")
    assert(!Dedup.connectedComponentsFlagged(chain, maxIter = 2)._2)
    assert(Dedup.connectedComponentsFlagged(chain, maxIter = 10)._2)
  }

  test("deterministic sampling: partitioning-invariant, fraction-accurate, edge fractions") {
    import spark.implicits._
    val df = spark.range(10000).toDF("id")
    val a = TextAnalysis.sampleDeterministic(df, "id", 0.2)
      .select("id").as[Long].collect().toSet
    val b = TextAnalysis.sampleDeterministic(df.repartition(7), "id", 0.2)
      .select("id").as[Long].collect().toSet
    assert(a == b, "sample must be a pure function of the id")
    assert(math.abs(a.size - 2000) < 150, s"got ${a.size} of ~2000")
    val f = TextAnalysis.sampleDeterministicFast(df, "id", 0.2).count()
    assert(math.abs(f - 2000) < 150, s"fast path got $f of ~2000")
    assert(TextAnalysis.sampleDeterministic(df, "id", 0.0).count() == 0)
    assert(TextAnalysis.sampleDeterministic(df, "id", 1.0).count() == 10000)
  }

  test("decontaminate: overlap hits flagged, clean docs absent, case-insensitive") {
    import spark.implicits._
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "THE QUICK BROWN fox jumps over entirely different words here"),
      (3L, "nothing in common with anything in any benchmark at all"))
      .toDF("doc_id", "text")
    val bench = Seq("leading words then the quick brown fox jumps more")
      .toDF("text")
    val hits = TextAnalysis.decontaminate(corpus, bench, "doc_id", "text", n = 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // bench 5-grams include "the quick brown fox jumps" (lowered);
    // doc 1 and doc 2 (case-folded) contain it, doc 3 does not.
    assert(hits.keySet == Set(1L, 2L))
    assert(hits(1L) >= 1 && hits(2L) >= 1)
  }

  test("packSequences: two-pass == naive global window, partitioning- and span-invariant") {
    import spark.implicits._
    val df = spark.range(1000).toDF("id")
      .withColumn("tok", pmod(col("id") * 37 + 11, lit(90)) + 1)
    def key(d: org.apache.spark.sql.DataFrame) =
      d.orderBy("id").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSeq
    val twoPass = key(TextAnalysis.packSequences(df, "id", "tok", budget = 512L, partSpan = 64L))
    // naive reference: one global ordered prefix sum on the driver
    val rows = df.select("id", "tok").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    var acc = 0L
    val naive = rows.map { case (id, t) =>
      val start = acc; acc += t
      (id, t, start, start / 512L, (start + math.max(t, 1L) - 1) / 512L)
    }.toSeq
    assert(twoPass == naive, "two-pass prefix sum must equal the serial scan")
    assert(key(TextAnalysis.packSequences(df.repartition(13), "id", "tok", 512L, 64L)) == naive)
    assert(key(TextAnalysis.packSequences(df, "id", "tok", 512L, partSpan = 1L)) == naive)
    assert(key(TextAnalysis.packSequences(df, "id", "tok", 512L, partSpan = 1L << 40)) == naive)
  }

  test("dupNgrams: cross-doc n-grams mined, hashed path count-identical") {
    import spark.implicits._
    val df = Seq(
      (1L, "alpha beta gamma delta"),
      (2L, "ALPHA BETA gamma delta extra"),   // shares 3-grams case-folded
      (3L, "zeta eta theta iota"))            // shares nothing
      .toDF("doc_id", "text")
    val mined = TextAnalysis.dupNgrams(df, "doc_id", "text", n = 3, minDocs = 2)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(mined == Set(
      ("alpha beta gamma", 2L, 2L),
      ("beta gamma delta", 2L, 2L)), mined)
    val hashed = TextAnalysis.dupNgrams(df, "doc_id", "text", n = 3, minDocs = 2,
        hashed = true)
      .collect().map(r => (r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(hashed == mined.toSeq.map(t => (t._2, t._3)).sorted,
      "hashed fast path must produce identical count rows")
  }

  test("sampleStratified: per-stratum fractions, stratum-independent, partition-invariant") {
    import spark.implicits._
    val df = spark.range(30000).toDF("id")
      .withColumn("src", concat(lit("s"), pmod(col("id"), lit(3))))
    val fr = Map("s0" -> 0.5, "s1" -> 0.05)
    def sample(d: org.apache.spark.sql.DataFrame) =
      TextAnalysis.sampleStratified(d, "id", "src", fr, defaultFraction = 0.2)
    val got = sample(df).groupBy("src").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(math.abs(got("s0") - 5000) < 350, got.toString)  // 10000 * 0.5
    assert(math.abs(got("s1") - 500) < 150, got.toString)   // 10000 * 0.05
    assert(math.abs(got("s2") - 2000) < 250, got.toString)  // default 0.2
    // pure function of (stratum, id): partitioning cannot change the set
    val a = sample(df).select("id").as[Long].collect().toSet
    assert(a == sample(df.repartition(11)).select("id").as[Long].collect().toSet)
    // changing ANOTHER stratum's fraction leaves this stratum's sample intact
    val b = TextAnalysis.sampleStratified(df, "id", "src",
        Map("s0" -> 0.5, "s1" -> 0.9), 0.2)
      .filter(col("src") === "s0").select("id").as[Long].collect().toSet
    assert(b == a.filter(_ % 3 == 0), "s0 sample must not depend on s1's fraction")
  }

  test("graft_normalize: NFC composition, NFKC folding, idempotent, SQL form") {
    import spark.implicits._
    val df = Seq(
      (1L, "xé"),        // decomposed e-acute -> NFC "xé"
      (2L, "\ufb01le \u2460"), // fi-ligature + circled one: NFC-stable, NFKC "file 1"
      (3L, "plain ascii"))
      .toDF("id", "s")
    val got = df.select(col("id"),
        graft.expr.UnicodeNormalize(col("s"), "NFC").as("nfc"),
        graft.expr.UnicodeNormalize(col("s"), "NFKC").as("nfkc"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    assert(got(1L) == ("x\u00e9", "x\u00e9"))
    assert(got(2L) == ("\ufb01le \u2460", "file 1"))
    assert(got(3L) == ("plain ascii", "plain ascii"))
    // idempotent: normalizing twice == once (the isNormalized fast path)
    val twice = df.select(graft.expr.UnicodeNormalize(
      graft.expr.UnicodeNormalize(col("s"), "NFKC"), "NFKC").as("n"))
      .as[String].collect().toSet
    assert(twice == got.values.map(_._2).toSet)
    // registered SQL name
    graft.expr.Exprs.register(spark)
    assert(df.selectExpr("graft_normalize(s, 'NFC') AS n")
      .as[String].collect().toSet == got.values.map(_._1).toSet)
    // invalid form rejected at analysis
    intercept[Exception] {
      df.selectExpr("graft_normalize(s, 'NFX')").collect()
    }
  }

  test("dedupLinesGlobal: earliest doc keeps, short lines immune, empty doc hashes ''") {
    import spark.implicits._
    val df = Seq(
      (1L, "COOKIE BANNER\nunique first body line\nok"),
      (2L, "COOKIE BANNER\nunique second body line\nok"),
      (3L, "COOKIE BANNER\nunique first body line"))
      .toDF("doc_id", "text")
    def key(minLen: Int) = Dedup.dedupLinesGlobal(df, "doc_id", "text", minLen)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    val got = key(5)
    def m(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    // doc1 first everywhere: keeps all three lines ("ok" is short -> immune)
    assert(got(1L) == ((3L, 0L, m("COOKIE BANNER\nunique first body line\nok"))))
    // doc2 loses the banner (doc1 owns it), keeps its unique line and "ok"
    assert(got(2L) == ((3L, 1L, m("unique second body line\nok"))))
    // doc3 loses BOTH lines -> empty survivor hashes ""
    assert(got(3L) == ((2L, 2L, m(""))))
    // partitioning-invariant
    val rep = Dedup.dedupLinesGlobal(df.repartition(7), "doc_id", "text", 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(rep == got)
  }

  test("exciseDupSpans: repeated spans removed, first occurrence survives, self-repeats") {
    import spark.implicits._
    def m(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val df = Seq(
      (1L, "one two three four five six seven eight nine"),
      (2L, "X one two three four five six seven eight Y"),
      (3L, "totally different content with no repeats at all whatsoever"))
      .toDF("doc_id", "text")
    val got = Dedup.exciseDupSpans(df, "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    // doc1 owns the 8-gram; doc2 loses tokens 1..8, keeping "X Y"
    assert(got(1L) == ((9L, 0L, m("one two three four five six seven eight nine"))))
    assert(got(2L) == ((10L, 8L, m("X Y"))))
    assert(got(3L) == ((9L, 0L, m("totally different content with no repeats at all whatsoever"))))
    // self-repeat inside one doc: "p q" repeats at pos 2 and 4 -> only
    // the first window survives
    val self = Seq((9L, "p q p q p q")).toDF("doc_id", "text")
    val s = Dedup.exciseDupSpans(self, "doc_id", "text", n = 2)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getString(3))).head
    assert(s == ((6L, 4L, m("p q"))), s)
    // partitioning-invariant
    val rep = Dedup.exciseDupSpans(df.repartition(7), "doc_id", "text", n = 8)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(rep == got)
  }

  /** Serial suffix-array + LCP reference for variable-length
    * exact-substring excision — the Lee et al. formulation itself,
    * implemented independently of the Spark operator: concatenate the
    * docs (id order) with unique sentinels, sort all suffixes, group
    * identical L-windows as maximal SA runs with pairwise LCP >= L,
    * keep each group's smallest global position, cover the rest, merge
    * covered positions into maximal spans per doc.
    */
  private def saExciseReference(docs: Seq[(Long, String)], minL: Int)
      : Map[Long, (Long, Long, Long, Long, String)] = {
    val sorted = docs.sortBy(_._1)
    val stream = scala.collection.mutable.ArrayBuffer.empty[String]
    val owner = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)] // (doc, tokIdx); sentinel = (-1,-1)
    for ((id, text) <- sorted) {
      val ts = text.split("\\s+")
      for ((t, j) <- ts.zipWithIndex) { stream += t; owner += ((id, j)) }
      stream += ("\u0000SENTINEL" + id + "\u0000"); owner += ((-1L, -1))
    }
    val a = stream.toArray
    val n = a.length
    val sa = (0 until n).sortBy(i => a.slice(i, n).toSeq)(
      Ordering.Implicits.seqOrdering[Seq, String])
    def lcp(i: Int, j: Int): Int = {
      var k = 0
      while (i + k < n && j + k < n && a(i + k) == a(j + k)) k += 1
      k
    }
    val adj = Array.tabulate(math.max(n - 1, 0))(r => lcp(sa(r), sa(r + 1)))
    // maximal runs with pairwise LCP >= minL = groups of equal L-windows
    val covered = scala.collection.mutable.Set.empty[(Long, Int)]
    var r = 0
    while (r < n) {
      var e = r
      while (e < n - 1 && adj(e) >= minL) e += 1
      if (e > r) {
        val members = (r to e).map(sa)
          .filter(g => owner(g)._1 >= 0 && g + minL <= n &&
            (0 until minL).forall(k => owner(g + k)._1 == owner(g)._1))
        if (members.size >= 2) {
          val keep = members.min
          for (g <- members if g != keep; k <- 0 until minL)
            covered += owner(g + k)
        }
      }
      r = e + 1
    }
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    sorted.map { case (id, text) =>
      val ts = text.split("\\s+")
      val cov = ts.indices.filter(j => covered((id, j)))
      // islands of consecutive covered positions = maximal spans
      val spans = cov.foldLeft(Vector.empty[(Int, Int)]) { (acc, p) =>
        if (acc.nonEmpty && p == acc.last._2) acc.init :+ ((acc.last._1, p + 1))
        else acc :+ ((p, p + 1))
      }
      val kept = ts.zipWithIndex.collect { case (t, j) if !covered((id, j)) => t }
      id -> ((ts.length.toLong, spans.size.toLong, cov.size.toLong,
        (if (spans.isEmpty) 0 else spans.map(s => s._2 - s._1).max).toLong,
        m(kept.mkString(" "))))
    }.toMap
  }

  test("exciseDupSpansVar: true span boundaries; == suffix-array reference (fuzz) and == fixed-n") {
    import spark.implicits._
    def m(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // a 12-token repeat excised as ONE span of length 12 (not "an
    // 8-gram approximation"): variable length reported exactly
    val rep12 = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10 a11 a12"
    val df = Seq(
      (1L, s"intro words $rep12 tail bits"),
      (2L, s"other start $rep12 different end entirely"))
      .toDF("doc_id", "text")
    val got = Dedup.exciseDupSpansVar(df, "doc_id", "text", minLen = 8)
      .select("doc_id", "n_tokens", "n_spans", "n_excised", "max_span_len", "kept_md5")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))).toMap
    assert(got(1L) == ((16L, 0L, 0L, 0L, m(s"intro words $rep12 tail bits"))))
    assert(got(2L) == ((17L, 1L, 12L, 12L, m("other start different end entirely"))),
      got(2L).toString)
    // span boundaries are exact token offsets
    val spans2 = Dedup.exciseDupSpansVar(df, "doc_id", "text", minLen = 8)
      .filter(col("doc_id") === 2L).select(expr("spans[0].st"), expr("spans[0].en"))
      .as[(Int, Int)].collect().head
    assert(spans2 == ((2, 14)), spans2.toString)

    // fuzz vs the serial suffix-array reference AND the fixed-n operator
    val rnd = new scala.util.Random(4202)
    for (trial <- 0 until 12) {
      val vocab = Vector("aa", "bb", "cc", "dd", "ee")
      val L = 2 + rnd.nextInt(3) // 2..4
      val docs = (0L until (3 + rnd.nextInt(4)).toLong).map { id =>
        id -> (0 until (L + rnd.nextInt(18)))
          .map(_ => vocab(rnd.nextInt(vocab.size))).mkString(" ")
      }
      val in = docs.toDF("doc_id", "text")
      val varGot = Dedup.exciseDupSpansVar(in, "doc_id", "text", minLen = L)
        .select("doc_id", "n_tokens", "n_spans", "n_excised", "max_span_len", "kept_md5")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getString(5)))).toMap
      val ref = saExciseReference(docs, L)
      assert(varGot == ref, s"trial $trial L=$L docs=$docs\nvar=$varGot\nref=$ref")
      // position-set equivalence with the fixed-n operator at n = L
      val fixed = Dedup.exciseDupSpans(in, "doc_id", "text", n = L)
        .select("doc_id", "n_excised", "kept_md5")
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
      assert(varGot.map { case (k, v) => k -> ((v._3, v._5)) } == fixed,
        s"trial $trial fixed-n mismatch")
    }
  }

  test("curation pipeline: per-stage flags, funnel accounting, line/exact interplay") {
    import spark.implicits._
    val en = "the quick brown foxes have jumped over all of those lazy dogs that sleep with great comfort today"
    val de = "der hund und die katze ist nicht ein freund aber das wetter ist gut und alle sind froh heute"
    val dfA = Seq(
      (1L, en), (2L, en),             // 2 = exact duplicate
      (3L, de),                       // wrong language
      (4L, "the cat is of and"))      // english but fails Gopher word count
      .toDF("doc_id", "text")
    val cfgA = Curation.CurateConfig(lineDedup = false,
      keepLangs = Set("en"), minWords = 10)
    val rep = Curation.curationReport(dfA, "doc_id", "text", cfgA)
    val flags = rep.select("doc_id", "keep_lang", "keep_gopher", "keep_exact", "keep")
      .collect().map(r => r.getLong(0) ->
        (r.getBoolean(1), r.getBoolean(2), r.getBoolean(3), r.getBoolean(4))).toMap
    assert(flags(1L) == ((true, true, true, true)))
    assert(flags(2L)._3 == false && flags(2L)._4 == false) // dup loses to min id
    assert(flags(3L)._1 == false && flags(3L)._4 == false)
    assert(flags(4L)._1 == true && flags(4L)._2 == false && flags(4L)._4 == false)
    val f = Curation.funnel(rep).collect().head
    assert((f.getLong(0), f.getLong(1), f.getLong(2), f.getLong(3), f.getLong(4), f.getLong(5))
      == ((4L, 3L, 2L, 2L, 1L, 1L)), f.toString)
    val kept = Curation.curate(dfA, "doc_id", "text", cfgA)
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(kept.toSeq == Seq((1L, en)))
    // with line dedup ON, a full duplicate is stripped line-by-line
    // first (doc 1 owns every line), then Gopher rejects the husk
    val multi = en.replace(" over ", "\nover ")
    val dfB = Seq((1L, multi), (2L, multi)).toDF("doc_id", "text")
    val repB = Curation.curationReport(dfB, "doc_id", "text",
      Curation.CurateConfig(keepLangs = Set("en"), minWords = 10))
    val b = repB.select("doc_id", "text_curated", "keep")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
    assert(b(1L) == ((multi, true)))
    assert(b(2L)._1 == "" && !b(2L)._2, b(2L).toString)
  }

  test("curation: null/empty text is counted by the funnel, not dropped") {
    import spark.implicits._
    val en = "the quick brown foxes have jumped over all of those lazy dogs that sleep with great comfort today"
    val df = Seq((1L, en), (2L, null: String), (3L, ""))
      .toDF("doc_id", "text")
    val rep = Curation.curationReport(df, "doc_id", "text",
      Curation.CurateConfig(minWords = 10))
    val f = Curation.funnel(rep).collect().head
    // all three docs counted; null/empty fail Gopher word count, doc 1 survives
    assert(f.getLong(0) == 3L, s"n_docs must count null-text docs: $f")
    assert(f.getLong(5) == 1L, f.toString)
    val flags = rep.select("doc_id", "keep").collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(flags == Map(1L -> true, 2L -> false, 3L -> false), flags.toString)
  }

  test("curation: dedup ownership is over stage-3/4 survivors (sequential semantics)") {
    import spark.implicits._
    val de = "der hund und die katze ist nicht ein freund aber das wetter ist gut und alle sind froh heute"
    val en = "the quick brown foxes have jumped over all of those lazy dogs that sleep with great comfort today"
    // a duplicate group whose every copy fails the language stage: with
    // ownership over survivors, the group's hash is absent from the
    // owners table and the left join yields keep_exact=false for all
    // copies (keep already false via keep_lang)
    val df = Seq((1L, de), (2L, de), (3L, en)).toDF("doc_id", "text")
    val rep = Curation.curationReport(df, "doc_id", "text",
      Curation.CurateConfig(lineDedup = false, keepLangs = Set("en"), minWords = 10))
    val flags = rep.select("doc_id", "keep_lang", "keep_exact", "keep").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2), r.getBoolean(3)))).toMap
    assert(flags(1L) == ((false, false, false)), flags.toString)
    assert(flags(2L) == ((false, false, false)), flags.toString)
    assert(flags(3L) == ((true, true, true)), flags.toString)
    val f = Curation.funnel(rep).collect().head
    assert((f.getLong(0), f.getLong(5)) == ((3L, 1L)), f.toString)
  }

  test("curation: trigram scorer classifies short stopword-free text") {
    import spark.implicits._
    // no whole stopword from the 7-word lists, but trigram morphology
    // says English — the stopword vote returns 'und', the trigram
    // scorer keeps it
    val shorty = "jumping foxes watched thoughtful badgers"
    val en = "the quick brown foxes have jumped over all of those lazy dogs that sleep with great comfort today"
    val df = Seq((1L, en), (2L, shorty)).toDF("doc_id", "text")
    def langs(scorer: String): Map[Long, String] =
      Curation.curationReport(df, "doc_id", "text",
          Curation.CurateConfig(lineDedup = false, langScorer = scorer))
        .select("doc_id", "pred_lang").collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
    val stop = langs("stopwords")
    val tri = langs("trigram")
    assert(stop(1L) == "en" && tri(1L) == "en")
    assert(stop(2L) == "und", stop.toString)
    assert(tri(2L) == "en", tri.toString)
    intercept[IllegalArgumentException] {
      Curation.CurateConfig(langScorer = "bogus")
    }
  }

  test("curation: optional excision and decontamination stages") {
    import spark.implicits._
    val boiler = "all rights reserved by this site owner please contact us"
    val bodyA = "the first document talks about mountains rivers and ancient " +
      "forests that we have explored together with great care"
    val bodyB = "another page describes cooking recipes using fresh tomatoes " +
      "garlic and olive oil that the chef prepared for the evening meal"
    // excision: the 10-token boilerplate tail repeats across otherwise
    // DISTINCT docs; with excise on, the non-first copy loses exactly
    // the tail BEFORE Gopher/dedup
    val dfA = Seq((1L, bodyA + " " + boiler), (2L, bodyB + " " + boiler))
      .toDF("doc_id", "text")
    val repA = Curation.curationReport(dfA, "doc_id", "text",
      Curation.CurateConfig(lineDedup = false, excise = true,
        exciseMinLen = 10, minWords = 10))
    val texts = repA.select("doc_id", "text_curated", "keep").collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getBoolean(2)))).toMap
    assert(texts(1L)._1.endsWith(boiler) && texts(1L)._2)
    assert(!texts(2L)._1.contains("rights reserved") && texts(2L)._2,
      texts(2L).toString)
    // decontamination: doc sharing an 8-gram with the bench table drops
    val leak = "the quick brown fox jumps over the lazy dog"
    val dfB = Seq((1L, bodyA), (2L, bodyB + " " + leak)).toDF("doc_id", "text")
    val benchDf = Seq(("b1", s"benchmark question text contains $leak indeed"))
      .toDF("bid", "text")
    val repB = Curation.curationReport(dfB, "doc_id", "text",
      Curation.CurateConfig(lineDedup = false, minWords = 10),
      bench = Some(benchDf))
    val flagsB = repB.select("doc_id", "keep_decontam", "keep").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
    assert(flagsB(1L) == ((true, true)))
    assert(flagsB(2L) == ((false, false)), flagsB.toString)
    val fB = Curation.funnel(repB).collect().head
    assert((fB.getLong(0), fB.getLong(3), fB.getLong(5)) == ((2L, 1L, 1L)), fB.toString)
    // dedup ownership respects decontamination (sequential semantics):
    // if the min-id copy of a text is contaminated, the clean copy survives
    val dfC = Seq((1L, bodyA + " " + leak), (2L, bodyA + " " + leak), (3L, bodyB))
      .toDF("doc_id", "text")
    val repC = Curation.curationReport(dfC, "doc_id", "text",
      Curation.CurateConfig(lineDedup = false, minWords = 10),
      bench = Some(benchDf))
    val keptC = repC.filter(col("keep")).select("doc_id").as[Long].collect().toSet
    assert(keptC == Set(3L), keptC.toString)
  }

  test("approxPercentiles: within the published rank-error bound of the exact form") {
    import spark.implicits._
    val li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    val ps = Seq(0.5, 0.9, 0.99)
    val approx = graft.ops.Stats.approxPercentiles(
      li, Seq("l_returnflag"), "l_quantity", ps, accuracy = 1000)
    assert(approx.columns.toSeq == Seq("l_returnflag", "p50", "p90", "p99"))
    val exact = li.groupBy("l_returnflag").agg(
      expr("percentile(l_quantity, 0.5)").as("e50"),
      expr("percentile(l_quantity, 0.9)").as("e90"),
      expr("percentile(l_quantity, 0.99)").as("e99"),
      count(lit(1)).as("n"))
    // GK guarantee: the approx value's RANK is within n/accuracy of the
    // target rank — verify via the group's empirical CDF, not the value
    val joined = approx.join(exact, "l_returnflag").collect()
    assert(joined.nonEmpty)
    val vals = li.select(col("l_returnflag"), col("l_quantity").cast("double"))
      .as[(String, Double)].collect().groupBy(_._1)
      .map { case (k, xs) => k -> xs.map(_._2).sorted }
    for (r <- joined; (p, c) <- ps.zip(Seq("p50", "p90", "p99"))) {
      val flag = r.getAs[String]("l_returnflag")
      val sortedVals = vals(flag)
      val n = sortedVals.length
      val a = r.getAs[Double](c)
      // ties: a repeated value occupies the rank interval
      // [count(<a), count(<=a)]; GK guarantees the target rank is
      // within n/accuracy of SOME rank in that interval
      val rankLo = sortedVals.count(_ < a)
      val rankHi = sortedVals.count(_ <= a)
      val target = p * n
      val err = n / 1000.0 + 1
      assert(target >= rankLo - err && target <= rankHi + err,
        s"$flag $c: rank interval [$rankLo,$rankHi] vs target $target (n=$n)")
    }
    // and the name mapping covers the fractional case
    assert(graft.ops.Stats.pName(0.999) == "p99_9")
  }

  test("RunCurate.parseConfig: every flag maps onto CurateConfig") {
    val cfg = graft.RunCurate.parseConfig(Seq(
      "--keep-langs", "en,de", "--lang-scorer", "trigram",
      "--min-words", "10", "--max-words", "5000", "--fraction", "0.5",
      "--line-min-len", "3", "--excise-min-len", "25",
      "--decontam-ngram", "13", "--no-normalize", "--no-exact-dedup"))
    assert(cfg == Curation.CurateConfig(normalize = false, lineDedup = true,
      lineMinLen = 3, excise = true, exciseMinLen = 25,
      keepLangs = Set("en", "de"), langScorer = "trigram",
      minWords = 10, maxWords = 5000, decontamNgram = 13,
      exactDedup = false, sampleFraction = 0.5))
    assert(graft.RunCurate.parseConfig(Nil) == Curation.CurateConfig())
    intercept[IllegalArgumentException] {
      graft.RunCurate.parseConfig(Seq("--bogus"))
    }
  }

  test("repetition stats + gopher flags: hand-computed fixtures") {
    import spark.implicits._
    val df = Seq(
      ("d1", "spam spam spam spam"),
      ("d2", "the quick brown fox jumps over that lazy dog with")
    ).toDF("doc_id", "text")
    val rep = TextAnalysis.repetitionStats(df, "doc_id", "text")
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // d1: 4 tokens, 1 distinct -> dup 750000; "spam spam" occurs 3/3 bigrams
    assert(rep("d1") == (4L, 750000L, 3L, 1000000L), rep("d1"))
    // d2: 10 distinct tokens, every bigram unique
    assert(rep("d2") == (10L, 0L, 1L, 111111L), rep("d2"))
    val gf = TextAnalysis.gopherFlags(df, "doc_id", "text", minWords = 2)
      .collect().map(r => r.getString(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
    // d1: wc ok, mean len 4 ok, no punct, NO indicator stopwords -> drop
    assert(gf("d1") == (1L, 1L, 1L, 0L, 0L), gf("d1"))
    // d2: sumlen 40 in [30, 100], stops {the, that, with} -> keep
    assert(gf("d2") == (1L, 1L, 1L, 1L, 1L), gf("d2"))
  }

  test("pointer-doubling CC == plain CC; chain converges in O(log n) rounds") {
    import spark.implicits._
    // diameter-63 chain: plain label propagation needs 63 rounds; the
    // shortcut variant must converge within 10 (reach ~2^k)
    val chain = (0 until 63).map(i => (f"c$i%03d", f"c${i + 1}%03d")).toDF("id1", "id2")
    val (pd, convPD) = Dedup.connectedComponentsPDFlagged(chain, maxIter = 10)
    assert(convPD, "pointer doubling must converge on a 64-chain within 10 rounds")
    val pdMap = pd.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(pdMap.size == 64 && pdMap.values.forall(_ == "c000"), pdMap.take(5))
    // plain with enough rounds agrees exactly
    val plainMap = Dedup.connectedComponents(chain, maxIter = 70)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(pdMap == plainMap)
    // ...and plain at 10 rounds is exactly the documented cliff
    assert(!Dedup.connectedComponentsFlagged(chain, maxIter = 10)._2)
    // random graphs: same labels as the plain variant (seeded)
    val rnd = new scala.util.Random(42)
    val randomPairs = Seq.fill(300)(
      (f"n${rnd.nextInt(200)}%03d", f"n${rnd.nextInt(200)}%03d"))
      .filter(p => p._1 != p._2).toDF("id1", "id2")
    val a = Dedup.connectedComponents(randomPairs, maxIter = 30)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val b = Dedup.connectedComponentsPD(randomPairs, maxIter = 15)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(a == b)
  }

  test("embeddingNearDups: degenerate bucket at dim 256 / maxBucket 1024 fits task memory") {
    import spark.implicits._
    // 1,100 near-identical dim-256 vectors all land in ONE sign bucket:
    // carrying both vectors through the pair array would be ~1 GB in a
    // single value; the (id1, id2, cos)-only expansion stays ~20 MB.
    val dim = 256
    val rows = (0L until 1100L).map { i =>
      (i, Array.tabulate(dim)(j => 1.0f + 0.001f * ((i * 31 + j) % 7)))
    }
    val df = rows.toDF("vec_id", "embedding")
    val nd = Dedup.embeddingNearDups(df, "vec_id", "embedding",
      nPlanes = 4, threshold = 0.9, maxBucket = 1024)
    assert(nd.count() == 1024L * 1023 / 2)
  }

  test("graft_simhash narrow kernel == exploded xxhash64 vote formulation") {
    import spark.implicits._
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val fast = Dedup.simhashFast(d, "doc_id", "text", width = 16)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // reference: explode distinct tokens, vote per bit, reassemble
    val toks = d.select(col("doc_id"), explode(expr(
        s"array_distinct(split(text, '${Dedup.TokenSplitSql}'))")).as("tok"))
      .withColumn("h", xxhash64(col("tok")))
    val votes = (0 until 16).map(b =>
      sum(when(expr(s"(shiftright(h, $b) & 1) = 1"), 1).otherwise(-1)).as(s"v$b"))
    val slow = toks.groupBy("doc_id").agg(votes.head, votes.tail: _*)
      .collect().map { r =>
        var fp = 0L
        for (b <- 0 until 16) if (r.getLong(b + 1) > 0) fp |= (1L << b)
        r.getLong(0) -> fp
      }.toMap
    assert(fast == slow && fast.nonEmpty)
    // identical docs -> identical fingerprints; fingerprintFast sane
    val fp = Dedup.fingerprintFast(d, "doc_id", "text").collect()
    assert(fp.length == d.count())
  }

  test("custom expressions resolve by SQL name after register()") {
    graft.expr.Exprs.register(spark)
    val r = spark.sql(
      """SELECT py_titlecase('aktuelle probe') AS t,
        |  graft_shingles('a b c d', 3) AS sh,
        |  graft_minhash('a b c d', 3, 4) AS mh,
        |  graft_simhash('a b c d', 16) AS sm""".stripMargin).head()
    assert(r.getString(0) == "Aktuelle Probe")
    assert(r.getSeq[String](1) == Seq("a b c", "b c d"))
    assert(r.getSeq[Long](2).length == 4)
    assert(r.getLong(3) >= 0L && r.getLong(3) < (1L << 16))
  }

  test("graft_dot Expression is bit-identical to the HOF dot product") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
    val both = e.crossJoin(broadcast(q))
      .select(
        Similarity.dot(col("embedding"), col("qv")).as("native"),
        Similarity.dotHof(col("embedding"), col("qv")).as("hof"))
      .collect()
    assert(both.nonEmpty)
    both.foreach(r => assert(r.getDouble(0) == r.getDouble(1))) // bit-exact
    // null behavior parity: length mismatch and null elements -> null
    import spark.implicits._
    val odd = Seq(
      (Array(1.0f, 2.0f), Array(1.0f)),
      (Array(1.0f, 2.0f), Array(1.0f, 2.0f))).toDF("a", "b")
      .select(Similarity.dot(col("a"), col("b")).as("native"),
        Similarity.dotHof(col("a"), col("b")).as("hof")).collect()
    odd.foreach(r => assert(r.isNullAt(0) == r.isNullAt(1)))
    // whole-stage codegen actually compiles the loop (no fallback)
    val dfp = e.crossJoin(broadcast(q))
      .select(Similarity.dot(col("embedding"), col("qv")).as("d"))
    dfp.collect() // finalize the adaptive plan
    val p = dfp.queryExecution.executedPlan.toString
    // the "*(n)" prefix marks the project as inside a codegen stage
    assert("\\*\\(\\d+\\) Project \\[graft_dot".r.findFirstIn(p).isDefined, p.take(800))
  }

  test("multi-probe IVF: recall@10 >= 0.9 on fixture embeddings, monotone vs single-probe") {
    import spark.implicits._
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb = Similarity.kmeansCodebook(e, "vec_id", "embedding", k = 4, iters = 2)
    val exact = Similarity.cosineTopK(
        e.filter(col("vec_id") =!= 0), "vec_id", "embedding",
        e.filter(col("vec_id") === 0), 10)
      .select("vec_id").as[Long].collect().toSet
    def recall(probes: Int): Double = {
      val got = Similarity.ivfTopKMultiProbe(e, "vec_id", "embedding", cb,
          queryId = 0, k = 10, probes = probes)
        .select("vec_id").as[Long].collect().toSet
      (got intersect exact).size / 10.0
    }
    val r1 = recall(1); val r2 = recall(2); val r4 = recall(4)
    assert(r2 >= 0.9, s"recall@10 with 2 probes = $r2")
    assert(r2 >= r1 && r4 >= r2, s"recall must be monotone in probes: $r1 $r2 $r4")
    assert(r4 == 1.0, "probing every cell IS the exact scan")
  }

  test("kmeans codebook: deterministic, converged cells; ivfTopKWith agrees with exact") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cb1 = Similarity.kmeansCodebook(e, "vec_id", "embedding", k = 4, iters = 3)
    val cb2 = Similarity.kmeansCodebook(e, "vec_id", "embedding", k = 4, iters = 3)
    val c1 = cb1.orderBy("cell_id").collect().map(_.toString)
    assert(c1.sameElements(cb2.orderBy("cell_id").collect().map(_.toString)))
    assert(c1.length == 4)
    // every vector routes to exactly one cell
    val assigned = Similarity.ivfAssignWith(e, "vec_id", "embedding", cb1)
    assert(assigned.count() == e.count())
    assert(assigned.select("vec_id").distinct().count() == e.count())
    // in-cell top-k scores match the exact brute force for the same ids
    val topk = Similarity.ivfTopKWith(e, "vec_id", "embedding", cb1, queryId = 0, k = 5).collect()
    assert(topk.nonEmpty && topk.length <= 5)
    val exact = Similarity.cosineTopK(
      e.filter(col("vec_id") =!= 0), "vec_id", "embedding",
      e.filter(col("vec_id") === 0), 500).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    topk.foreach(r => assert(math.abs(exact(r.getLong(0)) - r.getDouble(1)) < 1e-9))
  }

  test("verifyPairs: exact jaccard per candidate pair (identical=1, disjoint dropped low)") {
    import spark.implicits._
    val docs = Seq(
      ("a", "x y z w v"), ("b", "x y z w v"),        // identical -> 1.0
      ("c", "x y z w v u"),                           // near -> (0,1)
      ("d", "totally different words entirely here")) // far -> small
      .toDF("doc_id", "text")
    val pairs = Seq(("a", "b"), ("a", "c"), ("a", "d")).toDF("id1", "id2")
    val v = Dedup.verifyPairs(pairs, docs, "doc_id", "text")
      .collect().map(r => (r.getString(1), r.getString(0)) -> r.getDouble(2)).toMap ++
      Dedup.verifyPairs(pairs, docs, "doc_id", "text")
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(v(("a", "b")) == 1.0)
    assert(v(("a", "c")) > 0.3 && v(("a", "c")) < 1.0)
    assert(v(("a", "d")) == 0.0)
  }

  test("dedup: exact + lsh + simhash + jaccard run and are deterministic") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert(Dedup.exact(d, "doc_id", "text").count() == d.count()) // all unique
    val pairs = Dedup.lshCandidatePairs(d, "doc_id", "text")
    val sim = Dedup.simhash(d.limit(50), "doc_id", "text", width = 16)
    assert(sim.select(length(col("simhash"))).distinct().head().getInt(0) == 16)
    val jac = Dedup.ngramJaccard(d, "doc_id", "text", "source", window = 5)
    assert(jac.filter(col("jaccard") < 0 || col("jaccard") > 1).count() == 0)
    assert(pairs.count() == Dedup.lshCandidatePairs(d, "doc_id", "text").count())
  }

  test("lsh bucket cap bounds a degenerate near-identical corpus") {
    import spark.implicits._
    // 1,000 identical documents: uncapped LSH would emit ~500k pairs
    // from ONE bucket on one reducer; the cap keeps it quadratic only
    // in maxBucket.
    val d = (0 until 1000)
      .map(i => (f"doc$i%04d", "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val capped = Dedup.lshCandidatePairs(d, "doc_id", "text", maxBucket = 10)
    assert(capped.count() == 10L * 9 / 2)
    // deterministic winner set: first maxBucket ids in order
    val ids = capped.select("id1").union(capped.select("id2"))
      .distinct().as[String].collect().sorted
    assert(ids.sameElements((0 until 10).map(i => f"doc$i%04d")))
  }

  test("binaryFile ingest reproduces the fixture docs exactly") {
    val docs = graft.ingest.Ingest.fromCsvFiles(spark,
      graft.ingest.Fixtures.path("example5.csv"), charset = "latin-1").collect()
    assert(docs.length == 1)
    val want = graft.ingest.Fixtures.doc("example5.csv")
    assert(docs(0).doc_id == "example5.csv")
    assert(docs(0).spans.map(s => (s.kind, s.text, s.media_ref, s.offset)) ==
      want.spans.map(s => (s.kind, s.text, s.media_ref, s.offset)))
  }

  test("embedding near-dup pairs are symmetric-free and above threshold") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val nd = Dedup.embeddingNearDups(e, "vec_id", "embedding", nPlanes = 4, threshold = 0.1)
    val rows = nd.collect()
    rows.foreach { r =>
      assert(r.getLong(0) < r.getLong(1))
      assert(r.getDouble(2) >= 0.1)
    }
  }

  test("n-gram lang-ID: codegen kernel == HOF form == explode+join reference") {
    import spark.implicits._
    val cols = Seq("doc_id", "s_en", "s_de", "s_fr", "s_es", "pred_lang")
    val sources = Seq(
      spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        .select(col("doc_id").cast("string").as("doc_id"), col("text")),
      Seq(("e1", ""), ("e2", " "), ("e3", "a"), ("e4", "ü"), ("e5", "the"),
        ("e6", "  double  spaces  und  das  "), ("e7", "emoji 😀 the and"))
        .toDF("doc_id", "text"))
    for (d <- sources) {
      val fast = LangNgram.langIdNgram(d, "text")
        .select(cols.head, cols.tail: _*).collect().map(_.toString).sorted
      val hof = LangNgram.langIdNgramHof(d, "text")
        .select(cols.head, cols.tail: _*).collect().map(_.toString).sorted
      val joined = LangNgram.scoresByJoin(d, "doc_id", "text")
        .select(cols.head, cols.tail: _*).collect().map(_.toString).sorted
      assert(fast.nonEmpty && fast.sameElements(hof), "kernel != HOF")
      assert(fast.sameElements(joined), "kernel != join form")
    }
    // SQL registration + whole-stage codegen compiles the kernel
    graft.expr.Exprs.register(spark)
    val r = spark.sql("SELECT graft_lang_scores('the and of') AS s").head()
    assert(r.getSeq[Long](0).length == 4 && r.getSeq[Long](0).head > 0)
    val dfp = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(graft.expr.LangScoresOf(col("text")).as("s"))
    dfp.collect()
    val p = dfp.queryExecution.executedPlan.toString
    assert("\\*\\(\\d+\\) Project \\[graft_lang_scores".r.findFirstIn(p).isDefined, p.take(800))
  }

  test("n-gram lang-ID: held-out sentence accuracy >= 0.9 and empty -> und") {
    import spark.implicits._
    // natural sentences NOT drawn from the profile seed lists
    val heldOut = Seq(
      ("en", "she told us the results would arrive before the meeting started"),
      ("en", "most people think the weather has been getting warmer every year"),
      ("en", "the committee agreed to publish the report after the review"),
      ("en", "he could not remember where he had left the keys yesterday"),
      ("en", "students should bring their own notes to the final exam"),
      ("de", "ich glaube dass wir morgen mit dem zug in die stadt fahren"),
      ("de", "die ergebnisse wurden nach der besprechung an alle verteilt"),
      ("de", "er konnte sich nicht erinnern wo er gestern die schlüssel gelassen hatte"),
      ("de", "das wetter ist in diesem jahr deutlich wärmer geworden"),
      ("de", "wir haben uns über das schöne geschenk sehr gefreut"),
      ("fr", "je pense que nous allons voir ce film avec nos amis demain"),
      ("fr", "les résultats seront publiés après la réunion du comité"),
      ("fr", "il ne pouvait pas se souvenir où il avait laissé les clés"),
      ("fr", "le temps est devenu beaucoup plus chaud cette année"),
      ("fr", "nous sommes très contents du beau cadeau que vous avez offert"),
      ("es", "creo que vamos a ver esta película con nuestros amigos mañana"),
      ("es", "los resultados serán publicados después de la reunión del comité"),
      ("es", "no podía recordar dónde había dejado las llaves ayer"),
      ("es", "el tiempo se ha vuelto mucho más cálido este año"),
      ("es", "estamos muy contentos con el hermoso regalo que nos dieron"))
    val df = heldOut.zipWithIndex.map { case ((l, t), i) => (i.toLong, l, t) }
      .toDF("doc_id", "true_lang", "text")
    val pred = LangNgram.langIdNgram(df, "text")
      .select("true_lang", "pred_lang").collect()
    val correct = pred.count(r => r.getString(0) == r.getString(1))
    assert(correct >= 18, pred.filter(r => r.getString(0) != r.getString(1))
      .map(_.toString).mkString("; "))
    // degenerate inputs never throw and score und
    val deg = Seq((1L, ""), (2L, " "), (3L, "12345 67890")).toDF("doc_id", "text")
    val dp = LangNgram.langIdNgram(deg, "text").select("pred_lang")
      .as[String].collect()
    assert(dp.forall(_ == "und"), dp.mkString(","))
  }

  test("text analysis: langid/quality/tokens/fingerprint") {
    val d = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val li = TextAnalysis.langId(d, "text")
    assert(li.filter(col("pred_lang").isNull).count() == 0)
    val q = TextAnalysis.quality(d, "text")
    assert(q.filter(col("stop_ratio") < 0 || col("stop_ratio") > 1).count() == 0)
    val t = TextAnalysis.tokenCounts(d, "text")
    assert(t.filter(col("bpe_tokens") < col("ws_tokens")).count() == 0)
    val f = TextAnalysis.fingerprint(d, "text")
    assert(f.select(countDistinct("fp")).head().getLong(0) > 400)
  }
}
