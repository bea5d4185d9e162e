package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, rng}
import graft.text.{CellType, MakeId, PyFloat}
import graft.ingest.SpanCodec

/** ScalaCheck properties (SURVEY §5.2-1). */
class PropertySpec extends AnyFunSuite {

  /** minimal deterministic forAll (scalatestplus bridge not on classpath) */
  private def forAll[T](gen: Gen[T], n: Int = 300)(f: T => Unit): Unit = {
    val seed0 = rng.Seed(42L)
    var seed = seed0
    var i = 0
    while (i < n) {
      gen.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
      i += 1
    }
  }

  private def forAll(f: Double => Unit)(implicit d: DummyImplicit): Unit =
    forAll(Gen.chooseNum(-1e300, 1e300))(f)


  private lazy val spark: org.apache.spark.sql.SparkSession =
    org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  test("resume reconcile: randomized crash points + interleaved compaction never lose or duplicate triples") {
    import org.apache.spark.sql.functions.col
    import graft.table.SnapTable
    import spark.implicits._
    val dict = Pipeline.broadcastDict(spark)
    val docs = graft.ingest.SynthCorpus.corpus(spark, 12)
    val expected = Pipeline.triples(docs, dict).collect()
      .map(t => (t.doc_id, t.subj, t.pred, t.obj)).sorted.toVector
    for (seed <- Seq(1L, 7L, 13L, 99L)) {
      val rnd = new scala.util.Random(seed)
      val dir = java.nio.file.Files.createTempDirectory(s"fuzz$seed").toString + "/t"
      // compaction and expiry (which sweeps crashed appends' orphan
      // files) interleaved at random points of the recovery sequence
      def maintain(): Unit = {
        if (rnd.nextInt(3) == 0) Pipeline.compactTriplesSnap(spark, dir, minFilesPerBucket = 2)
        if (rnd.nextInt(3) == 0 && SnapTable.snapshot(spark, dir).isDefined)
          SnapTable.expire(spark, dir, keepLast = 1 + rnd.nextInt(2), orphanGraceMs = 0)
      }
      var runs = 0
      var done = false
      while (!done && runs < 20) {
        runs += 1
        maintain()
        val todo = Pipeline.resumeFilter(docs, dir)
        val ids = todo.select("doc_id").as[String].collect().sorted
        if (ids.isEmpty) done = true
        else {
          var crashed = false
          for (b <- ids.grouped(4).toVector if !crashed) {
            val ts = Pipeline.triples(docs.filter(col("doc_id").isin(b: _*)), dict)
            // crash between staging the batch's files and the commit
            if (rnd.nextInt(4) == 0) { PipelineSpec.crashedAppend(ts, dir); crashed = true }
            else {
              Pipeline.writeTriplesSnap(ts, dir, append = true)
              maintain()
            }
          }
        }
      }
      assert(done, s"seed $seed: not recovered after $runs runs")
      val got = Pipeline.readTriplesSnap(spark, dir).select("doc_id", "subj", "pred", "obj")
        .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))
        .sorted.toVector
      assert(got == expected, s"seed $seed after $runs runs: " +
        s"got ${got.size} triples, expected ${expected.size}")
    }
  }

  test("packSequences == serial prefix scan on sparse unordered ids, any partSpan") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val caseGen = for {
      n <- Gen.chooseNum(1, 400)
      ids <- Gen.listOfN(n, Gen.chooseNum(0L, 1000000L)).map(_.distinct)
      toks <- Gen.listOfN(ids.size, Gen.chooseNum(0L, 5000L))
      span <- Gen.oneOf(1L, 3L, 64L, 1000L, 1L << 40)
      budget <- Gen.oneOf(1L, 100L, 4096L)
    } yield (ids.zip(toks), span, budget)
    forAll(caseGen, n = 25) { case (rows, span, budget) =>
      val df = rows.toDF("id", "tok").repartition(5)
      val got = graft.ops.TextAnalysis.packSequences(df, "id", "tok", budget, span)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).sortBy(_._1).toVector
      var acc = 0L
      val want = rows.sortBy(_._1).map { case (id, t) =>
        val start = acc; acc += t
        (id, t, start, start / budget, (start + math.max(t, 1L) - 1) / budget)
      }.toVector
      assert(got == want, s"span=$span budget=$budget n=${rows.size}")
    }
  }

  test("exciseDupSpans == serial reference on repeat-heavy random corpora") {
    import spark.implicits._
    val vocab = Vector("a", "bb", "ccc", "dd", "e")
    val caseGen = for {
      nDocs <- Gen.chooseNum(1, 8)
      n <- Gen.chooseNum(2, 4)
      texts <- Gen.listOfN(nDocs,
        Gen.chooseNum(1, 12).flatMap(len =>
          Gen.listOfN(len, Gen.oneOf(vocab)).map(_.mkString(" "))))
    } yield (texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, n)
    def md5(s: String) = {
      val d = java.security.MessageDigest.getInstance("MD5")
      d.digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    forAll(caseGen, n = 40) { case (rows, n) =>
      val got = graft.ops.Dedup.exciseDupSpans(rows.toDF("doc_id", "text"), "doc_id", "text", n)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getString(3))).toMap
      // serial reference: global first-ownership scan in (doc, pos) order
      val toks = rows.map { case (id, t) => id -> t.split("\\s+", -1).toVector }
      val firsts = scala.collection.mutable.Map[String, (Long, Int)]()
      for ((id, ts) <- toks.sortBy(_._1); i <- 0 to ts.size - n)
        firsts.getOrElseUpdate(ts.slice(i, i + n).mkString(" "), (id, i))
      val want = toks.map { case (id, ts) =>
        val exc = (for {
          i <- 0 to ts.size - n
          if firsts(ts.slice(i, i + n).mkString(" ")) != ((id, i))
          p <- i until i + n
        } yield p).toSet
        id -> ((ts.size.toLong, exc.size.toLong,
          md5(ts.zipWithIndex.collect { case (t, j) if !exc(j) => t }.mkString(" "))))
      }.toMap
      assert(got == want, s"n=$n rows=$rows")
      // exciseRebuild's TEXT output hashes to exciseDupSpansVar's
      // kept_md5 (and thus, via the coverage identity, to the fixed-n
      // result above) on the same corpus
      val reb = graft.ops.Dedup.exciseRebuild(
          rows.toDF("doc_id", "text"), "doc_id", "text", n)
        .collect().map(r => r.getLong(0) -> md5(r.getString(1))).toMap
      assert(reb == want.map { case (k, v) => k -> v._3 }, s"rebuild n=$n rows=$rows")
    }
  }

  test("typeOf tags rendered primitives correctly") {
    forAll(Gen.chooseNum(Long.MinValue / 2, Long.MaxValue / 2)) { (n: Long) =>
      assert(CellType.typeOf(n.toString) == CellType.INT)
    }
    forAll(Gen.chooseNum(-1e15, 1e15)) { (d: Double) =>
      val r = PyFloat.repr(d)
      if (r.contains('.') || r.contains('e'))
        assert(CellType.typeOf(r) == CellType.FLOAT, r)
    }
    assert(CellType.typeOf("True") == CellType.BOOL)
    assert(CellType.typeOf("False") == CellType.BOOL)
  }

  test("PyFloat.repr round-trips") {
    forAll(Gen.oneOf[Gen[Double]](
      Gen.chooseNum(-1e300, 1e300), Gen.chooseNum(-1.0, 1.0),
      Gen.chooseNum(-1e-300, 1e-300)).flatMap(g => g)) { d =>
      if (!d.isNaN && !d.isInfinite)
        assert(java.lang.Double.parseDouble(PyFloat.repr(d)) == d, PyFloat.repr(d))
    }
  }

  /** The string-slicing form PyFloat.repr had before its index-arithmetic
    * rewrite, kept as the reference it must equal.
    */
  private def reprReference(d: Double): String = {
    if (d.isNaN) return "nan"
    if (d.isPosInfinity) return "inf"
    if (d.isNegInfinity) return "-inf"
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    val neg = d < 0
    val s = java.lang.Double.toString(math.abs(d))
    val (mant, exp10) = s.indexOf('E') match {
      case -1 => (s, 0)
      case i => (s.substring(0, i), s.substring(i + 1).toInt)
    }
    val dot = mant.indexOf('.')
    val digitsRaw = (mant.substring(0, dot) + mant.substring(dot + 1))
    val intLen = dot
    var digits = digitsRaw.dropWhile(_ == '0')
    val leadZeros = digitsRaw.length - digits.length
    digits = digits.reverse.dropWhile(_ == '0').reverse
    if (digits.isEmpty) digits = "0"
    val e = intLen - 1 - leadZeros + exp10
    val sign = if (neg) "-" else ""
    if (e >= -4 && e < 16) {
      if (e >= 0) {
        val intPart =
          if (digits.length > e + 1) digits.substring(0, e + 1)
          else digits + "0" * (e + 1 - digits.length)
        val frac = if (digits.length > e + 1) digits.substring(e + 1) else ""
        sign + intPart + "." + (if (frac.isEmpty) "0" else frac)
      } else {
        sign + "0." + "0" * (-e - 1) + digits
      }
    } else {
      val mantStr =
        if (digits.length == 1) digits
        else digits.substring(0, 1) + "." + digits.substring(1)
      val es = if (e < 0) "-" else "+"
      sign + mantStr + "e" + es + f"${math.abs(e)}%02d"
    }
  }

  test("PyFloat.repr == its string-slicing reference form (random bits, ranges, boundaries)") {
    val rnd = new scala.util.Random(20261020L)
    val random = Iterator.fill(100000)(java.lang.Double.longBitsToDouble(rnd.nextLong())) ++
      Iterator.fill(100000)((rnd.nextDouble() - 0.5) * math.pow(10, rnd.nextInt(44) - 22)) ++
      Iterator.fill(20000)(math.rint(rnd.nextDouble() * 1e6) / math.pow(10, rnd.nextInt(8)))
    val edges = Seq(0.0, -0.0, Double.NaN, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.MinPositiveValue, -Double.MinPositiveValue, java.lang.Double.MIN_NORMAL,
      java.lang.Double.MIN_NORMAL / 2, java.lang.Double.MIN_NORMAL / 3, 4.9e-322, 2.2e-308,
      Double.MaxValue, -Double.MaxValue, 1.0, -1.0, 0.1, 0.5, 100.0, 1e22, 1e23, 123456789.0,
      // fixed <-> scientific boundaries (Python: 1e-4 and 1e16; Java: 1e-3 and 1e7)
      1e-5, 9.99999e-5, 1e-4, 1.00001e-4, 0.00012345, 1e-3, 9.999e-4, 1e7, 9999999.0, 1.0000001e7,
      1e15, 1e16, -1e16, 9999999999999998.0, 1.0000000000000002e16, 1e17, 12345678901234567.0)
    var n = 0
    (random ++ edges.iterator ++ edges.iterator.map(_ * 3.0)).foreach { d =>
      assert(PyFloat.repr(d) == reprReference(d), java.lang.Double.toString(d))
      n += 1
    }
    assert(n > 100000)
  }

  // not idempotent by design: removing a separator can re-expose a title
  // boundary — mirrors Python make_id exactly
  test("makeId stays in its alphabet") {
    val gen = Gen.listOf(Gen.frequency(
      6 -> Gen.alphaNumChar, 2 -> Gen.oneOf(' ', '_', '-', '.', '[', ']', '(', ')'),
      1 -> Gen.oneOf('ä', 'ö', 'ü', 'Ä', 'Ö', 'Ü', 'ß', '°', 'é'))).map(_.mkString)
    forAll(gen) { (s: String) =>
      val m = MakeId(s)
      assert(m.matches("[A-ZÜÖÄa-z0-9]*"), s"[$s] -> [$m]")
      assert(MakeId(m).matches("[A-ZÜÖÄa-z0-9]*"))
    }
  }

  test("span codec reconstructs arbitrary multi-line text exactly") {
    val lineGen = Gen.listOf(Gen.frequency(
      8 -> Gen.alphaNumChar, 2 -> Gen.oneOf(' ', ';', ',', '\t', ':', '|', '"'))).map(_.mkString)
    val textGen = for {
      ls <- Gen.listOf(lineGen)
      crlf <- Gen.oneOf("\n", "\r\n")
      trailing <- Gen.oneOf(true, false)
    } yield {
      val joined = ls.mkString(crlf)
      if (trailing && joined.nonEmpty) joined + crlf else joined
    }
    forAll(textGen) { (text: String) =>
      val doc = SpanCodec.encode("d", text)
      assert(SpanCodec.reconstruct(doc.spans) == text)
      assert(doc.spans.map(_.offset) == doc.spans.indices)
    }
  }

  test("graft_lang_scores kernel == codepoint-window reference on arbitrary unicode") {
    import org.apache.spark.unsafe.types.UTF8String
    val profiles = graft.ops.LangNgram.Langs.map(l =>
      graft.ops.LangNgram.Profiles(l).toMap)
    // reference: the HOF semantics — lower, pad, enumerate CODEPOINT
    // trigram windows (count = max(codepoint-length, 1))
    def ref(text: String): Seq[Long] = {
      val lowered = UTF8String.fromString(text).toLowerCase.toString
      val padded = " " + lowered + " "
      val cps = padded.codePoints().toArray
      val wins = math.max(cps.length - 2, 1)
      val grams = (0 until wins).map { i =>
        new String(cps.slice(i, math.min(i + 3, cps.length)), 0,
          math.min(3, cps.length - i))
      }
      profiles.map(p => grams.map(g => p.getOrElse(g, 0).toLong).sum)
    }
    val gen = Gen.listOf(Gen.frequency(
      4 -> Gen.oneOf("the ", "und ", "les ", "que ", "für", "où"),
      3 -> Gen.alphaChar.map(_.toString),
      2 -> Gen.const(" "),
      1 -> Gen.oneOf("😀", "日本", "Ж", "İ", "\t", "", "ß"))).map(_.mkString)
    forAll(gen) { (s: String) =>
      val got = graft.expr.LangScoresOf.kernel(UTF8String.fromString(s))
        .toLongArray().toSeq
      assert(got == ref(s), s"[$s]")
    }
  }

  test("encoding detection is total: never throws, decode always succeeds") {
    val byteGen = Gen.listOf(Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
      .map(_.toArray)
    forAll(byteGen) { (bs: Array[Byte]) =>
      val enc = graft.ingest.EncodingSniff.detect(bs)
      assert(enc.nonEmpty)
      // whatever was detected must be decodable without throwing
      graft.ingest.EncodingSniff.decode(bs, enc)
    }
  }

  test("separator vote: comma quirks hold") {
    // a single comma votes (';', 0) — the German-decimal fallback
    assert(graft.annotate.Annotator.vote("a,b\n") == (";", 0))
    // two+ commas with no other separators vote comma
    assert(graft.annotate.Annotator.vote("a,b,c\n") == (",", 2))
    forAll(Gen.chooseNum(2, 20)) { (n: Int) =>
      val line = (0 to n).map(i => s"v$i").mkString(",") + "\n"
      assert(graft.annotate.Annotator.vote(line) == (",", n))
    }
  }
}
