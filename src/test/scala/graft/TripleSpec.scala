package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.annotate.Annotator
import graft.ingest.{Fixtures, SpanCodec}
import graft.link.UnitDict
import graft.rdf._

/** Triple P/R against the reference's full RDF expansions
  * (examples/example2.ttl, examples/example5.ttl) — the BASELINE metric:
  * P >= 0.95 and R >= 0.95.
  */
class TripleSpec extends AnyFunSuite {

  private lazy val dict = UnitDict.default
  private val Base = "https://github.com/Mat-O-Lab/CSVToCSVW/raw/main/examples/"

  private def run(name: String): Canon.PR = {
    val text = Fixtures.text(name)
    val docId = Base + name
    val doc = SpanCodec.encode(docId, text)
    val lines = SpanCodec.lines(doc.spans)
    val meta = Annotator.annotate(docId, lines, Fixtures.Encodings(name), dict)
    val mine = TripleExpand.expandDoc(meta, lines)
    val goldenText = Fixtures.read(s"examples/${name.stripSuffix(".csv")}.ttl")
    val golden = Turtle.parse(goldenText)
    Canon.compare(mine, golden)
  }

  for (name <- Seq("example2.csv", "example5.csv")) {
    test(s"$name: triple P/R >= 0.95 vs golden TTL") {
      val pr = run(name)
      info(f"precision=${pr.precision}%.4f recall=${pr.recall}%.4f " +
        s"(mine=${pr.mine} golden=${pr.golden} matched=${pr.matched})")
      if (pr.precision < 0.95 || pr.recall < 0.95) {
        info("sample missing: " + pr.missing.take(8).mkString("\n  "))
        info("sample extra:   " + pr.extra.take(8).mkString("\n  "))
      }
      assert(pr.precision >= 0.95 && pr.recall >= 0.95)
    }
  }
}
