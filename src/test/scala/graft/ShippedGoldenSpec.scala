package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.annotate.{Annotator, JsonLd}
import graft.ingest.{Fixtures, SpanCodec}
import graft.json._
import graft.link.UnitDict

/** Beyond the regenerated oracles, the engine must match the goldens the
  * reference repo itself ships, for the fixtures where those goldens
  * agree with the current reference code (example, example2, example5 —
  * see DIVERGENCES.md #1 for the stale example3/example4 files).
  */
class ShippedGoldenSpec extends AnyFunSuite {

  private lazy val dict = UnitDict.default
  private val Base = "https://github.com/Mat-O-Lab/CSVToCSVW/raw/main/examples/"

  private def norm(v: JValue, repl: Seq[(String, String)]): JValue = v match {
    case JObj(fs) => JObj(fs.filterNot(_._1.startsWith("prov:"))
      .map { case (k, fv) => k -> norm(fv, repl) }.sortBy(_._1))
    case JArr(items) => JArr(items.map(norm(_, repl)))
    case JStr(s) => JStr(repl.foldLeft(s) { case (a, (f, t)) => a.replace(f, t) })
    case JNum(l) => JStr("num:" + BigDecimal(l).bigDecimal.stripTrailingZeros.toPlainString)
    case other => other
  }

  for (name <- Seq("example.csv", "example2.csv", "example5.csv")) {
    val base = name.stripSuffix(".csv")
    test(s"$base: matches the golden the reference repo ships") {
      val docId = Base + name
      val doc = SpanCodec.encode(docId, Fixtures.text(name))
      val meta = Annotator.annotate(docId, SpanCodec.lines(doc.spans),
        Fixtures.Encodings(name), dict)
      val mine = JsonLd.render(meta)
      val golden = Json.parse(Fixtures.read(s"examples/$base-metadata.json"))
      assert(norm(golden, Nil) == norm(mine, Nil))
    }
  }
}
