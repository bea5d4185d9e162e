package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ingest.{EncodingSniff, Fixtures, Ingest}

/** Raw-bytes ingest: binaryFile scan -> per-file encoding detection ->
  * spans (reference S1/S2, annotator.py:217-224 get_encoding +
  * :361-372 read_data).
  */
class IngestSpec extends AnyFunSuite {

  lazy val spark: org.apache.spark.sql.SparkSession =
    org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  test("detection kernel reproduces the reference's chardet verdicts on all fixtures") {
    for (name <- Fixtures.Names) {
      val bytes = java.nio.file.Files.readAllBytes(Fixtures.file(s"examples/$name"))
      assert(EncodingSniff.detect(bytes) == Fixtures.Encodings(name), name)
    }
  }

  test("detection kernel edge cases: BOMs, mojibake, binary") {
    import java.nio.charset.StandardCharsets._
    assert(EncodingSniff.detect("plain ascii,1,2\n".getBytes(US_ASCII)) == "utf-8")
    assert(EncodingSniff.detect("Kraft [N];Prüfzeit;Häufigkeit\n".getBytes(UTF_8)) == "utf-8")
    assert(EncodingSniff.detect("Kraft;Prüfzeit;Härte\n".getBytes(ISO_8859_1)) == "latin-1")
    // single multibyte char: chardet resolves ISO-8859-1 (the example5 case)
    assert(EncodingSniff.detect("Temp [°C];1;2\n".getBytes(UTF_8)) == "latin-1")
    val bom = Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ "a,b\n".getBytes(UTF_8)
    assert(EncodingSniff.detect(bom) == "utf-8-sig")
    assert(EncodingSniff.decode(bom, "utf-8-sig") == "a,b\n")
    assert(EncodingSniff.detect(Array[Byte](0xFF.toByte, 0xFE.toByte, 65, 0)) == "utf-16")
    // arbitrary binary never throws: latin-1 decodes any byte sequence
    val junk = Array.tabulate[Byte](256)(_.toByte)
    assert(EncodingSniff.detect(junk) == "latin-1")
    assert(EncodingSniff.decode(junk, "latin-1").length == 256)
  }

  test("multi-byte battery: Shift-JIS / EUC-JP / no-BOM UTF-16 probers") {
    import java.nio.charset.{Charset, StandardCharsets}
    val ja = "これは日本語のテキストです。天気は晴れです。データ処理を行います。"
    def enc(s: String, cs: String) = s.getBytes(Charset.forName(cs))
    // Japanese text: the validity+distribution probers claim it (chardet:
    // SJISProber / EUCJPProber beat Latin1Prober on real CJK)
    assert(EncodingSniff.detect(enc(ja, "Shift_JIS")) == "shift_jis")
    assert(EncodingSniff.detect(enc(ja, "EUC-JP")) == "euc-jp")
    assert(EncodingSniff.decode(enc(ja, "Shift_JIS"), "shift_jis") == ja)
    assert(EncodingSniff.decode(enc(ja, "EUC-JP"), "euc-jp") == ja)
    // UTF-8 Japanese still wins the UTF-8 branch
    assert(EncodingSniff.detect(ja.getBytes(StandardCharsets.UTF_8)) == "utf-8")
    // Western single-byte text is NOT claimed by the CJK probers, even
    // when letter pairs are structurally valid SJIS (0xFC 'f' etc.)
    assert(EncodingSniff.detect(enc("café résumé naïve über señor", "ISO-8859-1")) == "latin-1")
    assert(EncodingSniff.detect(enc("Prüfzeit;Messlänge;größer\n", "ISO-8859-1")) == "latin-1")
    // no-BOM UTF-16, both endiannesses (chardet calls these 'ascii';
    // engine improvement, DIVERGENCES.md)
    val csv = "name,temperature,unit\n1,23.5,deg\n"
    assert(EncodingSniff.detect(csv.getBytes(StandardCharsets.UTF_16LE)) == "utf-16-le")
    assert(EncodingSniff.detect(csv.getBytes(StandardCharsets.UTF_16BE)) == "utf-16-be")
    assert(EncodingSniff.decode(csv.getBytes(StandardCharsets.UTF_16LE), "utf-16-le") == csv)
    assert(EncodingSniff.decode(csv.getBytes(StandardCharsets.UTF_16BE), "utf-16-be") == csv)
    // BOM'd UTF-16 still takes the BOM branch
    assert(EncodingSniff.detect(("\uFEFF" + csv).getBytes(StandardCharsets.UTF_16LE)) == "utf-16")
    // Cyrillic single-byte family: the frequency profile picks the
    // charset that lines the text up with lowercase common letters
    val ru = "\u044D\u0442\u043E \u0440\u0443\u0441\u0441\u043A\u0438\u0439 \u0442\u0435\u043A\u0441\u0442 \u0434\u043B\u044F \u043F\u0440\u043E\u0432\u0435\u0440\u043A\u0438 \u043A\u043E\u0434\u0438\u0440\u043E\u0432\u043A\u0438 \u0438 \u0447\u0430\u0441\u0442\u043E\u0442 \u0431\u0443\u043A\u0432"
    for (cs <- EncodingSniff.CyrillicCharsets) {
      assert(EncodingSniff.detect(enc(ru, cs)) == cs, cs)
      assert(EncodingSniff.decode(enc(ru, cs), cs) == ru, cs)
    }
    // mostly-uppercase or mixed Western text never reaches the Cyrillic
    // probers (high-byte mass gate) \u2014 and Japanese stays Japanese
    assert(EncodingSniff.detect(enc(ja, "EUC-JP")) == "euc-jp")
    assert(EncodingSniff.detect(enc("caf\u00E9 \u00FCber na\u00EFve r\u00E9sum\u00E9 se\u00F1or",
      "ISO-8859-1")) == "latin-1")
  }

  test("single-byte battery: Greek / Hebrew (logical+visual) / Thai probers") {
    import java.nio.charset.Charset
    def enc(s: String, cs: String) = s.getBytes(Charset.forName(cs))
    // Greek: plain letters tie between the two charsets -> iso-8859-7
    // (chardet lists the ISO model first); Windows C1 punctuation flips
    // the verdict to windows-1253 (those bytes are C1 controls under ISO)
    val el = "αυτό είναι ελληνικό κείμενο για τον έλεγχο της κωδικοποίησης και των συχνοτήτων"
    assert(EncodingSniff.detect(enc(el, "ISO-8859-7")) == "iso-8859-7")
    assert(EncodingSniff.decode(enc(el, "ISO-8859-7"), "iso-8859-7") == el)
    val elQuoted = "το “ελληνικό” κείμενο έχει εισαγωγικά και κωδικοποίηση των windows εδώ"
    assert(EncodingSniff.detect(enc(elQuoted, "windows-1253")) == "windows-1253")
    assert(EncodingSniff.decode(enc(elQuoted, "windows-1253"), "windows-1253") == elQuoted)
    // Hebrew: final forms at word END -> logical windows-1255
    val heLogical = "זהו טקסט בעברית לבדיקת קידוד התווים והתדירות שלהם בשפה העברית"
    assert(EncodingSniff.detect(enc(heLogical, "windows-1255")) == "windows-1255")
    assert(EncodingSniff.decode(enc(heLogical, "windows-1255"), "windows-1255") == heLogical)
    // visual Hebrew stores each line reversed: finals land at word START
    val heVisual = heLogical.split(" ").map(_.reverse).reverse.mkString(" ")
    assert(EncodingSniff.detect(enc(heVisual, "ISO-8859-8")) == "iso-8859-8")
    assert(EncodingSniff.decode(enc(heVisual, "ISO-8859-8"), "iso-8859-8") == heVisual)
    // Thai (TIS-620)
    val th = "นี่คือข้อความภาษาไทยสำหรับทดสอบการตรวจจับรหัสอักขระและความถี่ของตัวอักษร"
    assert(EncodingSniff.detect(enc(th, "TIS-620")) == "tis-620")
    assert(EncodingSniff.decode(enc(th, "TIS-620"), "tis-620") == th)
    // none of the new probers claim Western latin-1 or CJK payloads
    assert(EncodingSniff.detect(enc("Prüfzeit;Messlänge;größer\n", "ISO-8859-1")) == "latin-1")
    val ja = "これは日本語のテキストです。天気は晴れです。"
    assert(EncodingSniff.detect(enc(ja, "Shift_JIS")) == "shift_jis")
    // and the Cyrillic family still wins its own payloads over the new ones
    val ru = "это русский текст для проверки кодировки и частот букв"
    for (cs <- EncodingSniff.CyrillicCharsets)
      assert(EncodingSniff.detect(enc(ru, cs)) == cs, cs)
  }

  test("no-BOM UTF-16 CJK battery: claimed with Western/Cyrillic adversaries unclaimed") {
    import java.nio.charset.{Charset, StandardCharsets}
    def enc(s: String, cs: String) = s.getBytes(Charset.forName(cs))
    // real Japanese (kanji + kana) and Chinese running text, no BOM
    val ja = "日本語の文章です。今日は天気が良いので、私たちは公園へ行きました。" +
      "明日も晴れるでしょう。電車で学校まで行って、本を読みます。"
    val zh = "中国的人口是世界上最多的国家之一。我们在北京的大学学习中文。" +
      "他说他的家人都住在上海,每天工作到很晚,但是生活很好。"
    for (s <- Seq(ja, zh)) {
      assert(EncodingSniff.detect(s.getBytes(StandardCharsets.UTF_16LE)) == "utf-16-le", s.take(8))
      assert(EncodingSniff.detect(s.getBytes(StandardCharsets.UTF_16BE)) == "utf-16-be", s.take(8))
      assert(EncodingSniff.decode(s.getBytes(StandardCharsets.UTF_16LE), "utf-16-le") == s)
      assert(EncodingSniff.decode(s.getBytes(StandardCharsets.UTF_16BE), "utf-16-be") == s)
    }
    // the documented aliasing adversaries stay with their own classes:
    // Western letter pairs land in the CJK block but miss the
    // kana/common-core distribution gate (and usually the 80% gate)
    val de = "Die Prüfzeit am Gerät wurde für die nächste Messung geändert " +
      "und außerdem überprüft, damit die Härte größer bleibt."
    assert(EncodingSniff.detect(enc(de, "ISO-8859-1")) == "latin-1")
    val fr = "le café est préparé très tôt, août est déjà fini côté forêt"
    assert(EncodingSniff.detect(enc(fr, "ISO-8859-1")) == "latin-1")
    val ru = "это русский текст для проверки кодировки и частот букв"
    for (cs <- EncodingSniff.CyrillicCharsets)
      assert(EncodingSniff.detect(enc(ru, cs)) == cs, cs)
    val el = "αυτό είναι ελληνικό κείμενο για τον έλεγχο της κωδικοποίησης και των συχνοτήτων"
    assert(EncodingSniff.detect(enc(el, "ISO-8859-7")) == "iso-8859-7")
    val th = "นี่คือข้อความภาษาไทยสำหรับทดสอบการตรวจจับรหัสอักขระและความถี่"
    assert(EncodingSniff.detect(enc(th, "TIS-620")) == "tis-620")
    // Shift-JIS / EUC-JP Japanese keep winning their own classes
    assert(EncodingSniff.detect(enc(ja, "Shift_JIS")) == "shift_jis")
    assert(EncodingSniff.detect(enc(ja, "EUC-JP")) == "euc-jp")
    // UTF-8 CJK takes the UTF-8 branch, never this prober
    assert(EncodingSniff.detect(ja.getBytes(StandardCharsets.UTF_8)) == "utf-8")
    // kana-only UTF-16LE is VALID ASCII ("B0D0F0" == あいう) — out of
    // scope by construction (ascii/product-code payloads must win);
    // this sub-class stays documented in DIVERGENCES #8
    val kanaOnly = "あいうえおかきくけこさしすせそたちつてと"
    assert(EncodingSniff.detect(kanaOnly.getBytes(StandardCharsets.UTF_16LE)) == "utf-8")
    // hangul-only payloads deliberately unclaimed (KOI8 pairs alias
    // into the hangul block): Korean UTF-16 falls back, Cyrillic wins
    val ko = "한국어 텍스트입니다 인코딩 감지를 테스트합니다"
    assert(EncodingSniff.detect(ko.getBytes(StandardCharsets.UTF_16BE)) != "utf-16-be")
  }

  test("binaryFile + auto-detection reproduces every fixture doc and label") {
    val got = Ingest.fromCsvFilesDetected(spark,
        s"${Fixtures.file("examples")}/example*.csv").collect()
      .map { case (d, enc) => d.doc_id -> (d, enc) }.toMap
    assert(got.keySet == Fixtures.Names.toSet)
    for (name <- Fixtures.Names) {
      val (d, enc) = got(name)
      assert(enc == Fixtures.Encodings(name), name)
      val want = Fixtures.doc(name)
      assert(d.spans.map(s => (s.kind, s.text, s.media_ref, s.offset)) ==
        want.spans.map(s => (s.kind, s.text, s.media_ref, s.offset)), name)
    }
  }

  test("JSONL ingest: fixed schema, corrupt/null lines dropped, gzip parts transparent") {
    import java.nio.file.{Files, Paths}
    val base = Files.createTempDirectory("jsonl").toString
    val lines = Seq(
      """{"id":"a","text":"col1;col2\n1;2\n"}""",
      """{"id":"b","text":"x,y\n3,4\n","extra":"ignored"}""",
      """{"text":"no id -> dropped"}""",
      """{"id":"c"}""",
      "not json at all",
      """{"id":"d","text":"ünïcode ° text\n"}""")
    Files.write(Paths.get(base, "part1.jsonl"),
      lines.mkString("\n").getBytes("UTF-8"))
    // a gzip part alongside the plain one
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$base/part2.jsonl.gz"))
    gz.write("""{"id":"e","text":"gzipped\n"}""".getBytes("UTF-8")); gz.close()
    val docs = Ingest.fromJsonl(spark, s"$base/*", idPrefix = "doc://")
      .collect().map(d => d.doc_id ->
        graft.ingest.SpanCodec.reconstruct(d.spans)).toMap
    assert(docs.keySet == Set("doc://a", "doc://b", "doc://d", "doc://e"))
    assert(docs("doc://a") == "col1;col2\n1;2\n")
    assert(docs("doc://d") == "ünïcode ° text\n")
    assert(docs("doc://e") == "gzipped\n")
    // and the docs flow straight into the pipeline
    val dict = Pipeline.broadcastDict(spark)
    assert(Pipeline.triples(
      Ingest.fromJsonl(spark, s"$base/*"), dict).count() > 0)
  }

  test("triplesDetected over raw-bytes ingest == annotate path with pinned encodings") {
    val dict = Pipeline.broadcastDict(spark)
    val docs = Ingest.fromCsvFilesDetected(spark,
      s"${Fixtures.file("examples")}/example*.csv")
    val mine = Pipeline.triplesDetected(docs, dict).collect().toSet
    import spark.implicits._
    val want = Fixtures.Names.flatMap { name =>
      val d = Fixtures.doc(name)
      val lines = graft.ingest.SpanCodec.lines(d.spans)
      val meta = graft.annotate.Annotator.annotate(
        name, lines, Fixtures.Encodings(name), dict.value)
      graft.rdf.TripleExpand.expandDoc(meta, lines)
        .map(t => TripleRow(name, t.subj, t.pred, t.obj))
    }.toSet
    assert(mine == want)
  }
}
