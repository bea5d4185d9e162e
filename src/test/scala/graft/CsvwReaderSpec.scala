package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.annotate.{Annotator, CsvwReader, JsonLd}
import graft.ingest.{Fixtures, SpanCodec}
import graft.link.UnitDict
import graft.rdf._

/** The `/api/rdf` input half: CSVW JSON-LD metadata -> DocMeta ->
  * TripleExpand, without running stages B-D.
  */
class CsvwReaderSpec extends AnyFunSuite {

  private lazy val dict = UnitDict.default
  private val Base = "https://github.com/Mat-O-Lab/CSVToCSVW/raw/main/examples/"

  test("reader inverts the renderer on all fixtures (DocMeta round-trip)") {
    for (name <- Fixtures.Names) {
      val text = Fixtures.text(name)
      val docId = Base + name
      val lines = SpanCodec.lines(SpanCodec.encode(docId, text).spans)
      val meta = Annotator.annotate(docId, lines, Fixtures.Encodings(name), dict)
      val back = CsvwReader.read(JsonLd.render(meta).render)
      assert(back == meta, name)
    }
  }

  /** Numeric-rendering-insensitive DocMeta comparison: the reference
    * emits Python ints where the engine keeps the float rendering
    * (golden `150` vs engine `150.0`, same xsd:double literal value) —
    * the same normalization ShippedGoldenSpec applies at the JSON level.
    */
  private def numNorm(m: graft.annotate.DocMeta): graft.annotate.DocMeta =
    m.copy(notes = m.notes.map(n => n.copy(bodies = n.bodies.map {
      case graft.annotate.QuantityBody(v, t, u) if !v.startsWith("\"") &&
          v != "true" && v != "false" =>
        graft.annotate.QuantityBody(
          BigDecimal(v).bigDecimal.stripTrailingZeros.toPlainString, t, u)
      case other => other
    })))

  for (name <- Seq("example.csv", "example2.csv", "example5.csv")) {
    test(s"$name: shipped golden metadata JSON parses to the annotate-time DocMeta") {
      val goldenJson = Fixtures.read(s"examples/${name.stripSuffix(".csv")}-metadata.json")
      val fromGolden = CsvwReader.read(goldenJson)
      val text = Fixtures.text(name)
      val lines = SpanCodec.lines(SpanCodec.encode(Base + name, text).spans)
      val mine = Annotator.annotate(Base + name, lines, Fixtures.Encodings(name), dict)
      assert(numNorm(fromGolden) == numNorm(mine))
    }
  }

  for (name <- Seq("example2.csv", "example5.csv")) {
    test(s"$name: golden metadata -> reader -> expand == golden TTL (P=R>=0.95)") {
      val goldenJson = Fixtures.read(s"examples/${name.stripSuffix(".csv")}-metadata.json")
      val meta = CsvwReader.read(goldenJson)
      val lines = SpanCodec.lines(
        SpanCodec.encode(Base + name, Fixtures.text(name)).spans)
      val mine = TripleExpand.expandDoc(meta, lines)
      val golden = Turtle.parse(Fixtures.read(s"examples/${name.stripSuffix(".csv")}.ttl"))
      val pr = Canon.compare(mine, golden)
      info(f"precision=${pr.precision}%.4f recall=${pr.recall}%.4f")
      assert(pr.precision >= 0.95 && pr.recall >= 0.95)
    }
  }

  test("reader inverts the renderer on generated DocMeta (property fuzz)") {
    import org.scalacheck.{Gen, rng}
    import graft.annotate._
    val strGen = Gen.oneOf(
      Gen.alphaNumStr.map(_.take(12)),
      Gen.oneOf("über ä", "a;b\"c\\d", "x\ny\tz", "100%", "it's", "", " ",
        "{GID}", "née Großmann", "€42", "a,b", "\"quoted\""))
    val unitGen = Gen.option(Gen.zip(strGen, strGen).map {
      case (a, b) => UnitRef("http://u/" + a, "http://t/" + b) })
    val bodyGen: Gen[Body] = Gen.oneOf(
      Gen.zip(Gen.oneOf(Gen.chooseNum(-99999L, 99999L).map(_.toString),
          Gen.chooseNum(-1e6, 1e6).map(d => graft.text.PyFloat.repr(d)),
          strGen.map(s => "\"" + s.replace("\"", "") + "\""),
          Gen.oneOf("true", "false")).flatMap(identity(_)),
        Gen.oneOf(JsonLd.Xsd + "integer", JsonLd.Xsd + "double",
          JsonLd.Xsd + "string", JsonLd.Xsd + "boolean"), unitGen)
        .map { case (v, t, u) => QuantityBody(v, t, u) },
      strGen.map(TextBody(_)),
      strGen.map(s => UriBody("http://x/" + s.replace(" ", ""))))
    val noteGen = for {
      id <- strGen; label <- strGen; rn <- Gen.chooseNum(0, 500)
      bodies <- Gen.listOfN(2, bodyGen)
    } yield Note("http://n/" + id.replace(" ", ""), label, rn, bodies.toVector)
    val colGen = for {
      nm <- strGen; titles <- Gen.listOfN(2, strGen); u <- unitGen
      fmt <- Gen.option(Gen.oneOf(JsonLd.Xsd + "integer", JsonLd.Xsd + "string"))
    } yield ColumnDesc("http://c/" + nm.replace(" ", ""),
      if (nm.isEmpty) "col" else nm, titles.toVector, u, fmt)
    val tableGen = for {
      id <- strGen; delim <- Gen.oneOf(";", ",", "\t", ":+\\s+\\s*")
      skip <- Gen.chooseNum(0, 3); hdr <- Gen.chooseNum(0, 2)
      enc <- Gen.oneOf("utf-8", "latin-1")
      cols <- Gen.listOfN(3, colGen)
    } yield TableDesc("http://t/" + id.replace(" ", ""), "http://t/u", delim,
      skip, hdr, enc, "http://t/a-{GID}", "GID",
      ColumnDesc("http://c/gid", "GID", Vector("GID"), None, None) +: cols.toVector)
    val metaGen = for {
      notes <- Gen.listOfN(3, noteGen); tables <- Gen.listOfN(2, tableGen)
    } yield DocMeta("http://d/doc", "http://d/doc/",
      tables.headOption.map(_.encoding).getOrElse("utf-8"),
      notes.toVector, tables.toVector)
    var seed = rng.Seed(7L)
    var i = 0
    while (i < 200) {
      metaGen.apply(Gen.Parameters.default, seed).foreach { m =>
        val back = CsvwReader.read(JsonLd.render(m).render)
        assert(back == m, m.toString.take(400))
      }
      seed = seed.next
      i += 1
    }
  }

  test("Pipeline.triplesFromMetadata == per-doc expandDoc (distributed path)") {
    val spark = org.apache.spark.sql.SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    import spark.implicits._
    val rows = Seq("example2.csv", "example5.csv").map { name =>
      val text = Fixtures.text(name)
      val docId = Base + name
      val lines = SpanCodec.lines(SpanCodec.encode(docId, text).spans)
      val meta = Annotator.annotate(docId, lines, Fixtures.Encodings(name), dict)
      (JsonLd.render(meta).render, text)
    }
    val out = Pipeline.triplesFromMetadata(spark.createDataset(rows)).collect()
    val want = Seq("example2.csv", "example5.csv").flatMap { name =>
      val text = Fixtures.text(name)
      val docId = Base + name
      val lines = SpanCodec.lines(SpanCodec.encode(docId, text).spans)
      val meta = Annotator.annotate(docId, lines, Fixtures.Encodings(name), dict)
      TripleExpand.expandDoc(meta, lines)
        .map(t => TripleRow(docId, t.subj, t.pred, t.obj))
    }
    assert(out.toSet == want.toSet)
    assert(out.length == want.length)
  }
}
