package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.annotate.{Annotator, JsonLd}
import graft.ingest.{Fixtures, SpanCodec}
import graft.json._
import graft.link.UnitDict

/** Full annotate() -> JSON-LD vs the reference's metadata output for all 8
  * fixtures (oracle/meta, generated by running the reference), and vs the
  * repo's shipped goldens where those match the current reference code.
  * Comparison is structural: keys sorted, prov:* stripped (timestamps),
  * numbers by value, URL base normalized.
  */
class MetadataSpec extends AnyFunSuite {

  private lazy val dict = UnitDict.default

  private def normNum(l: String): String = {
    val bd = BigDecimal(l)
    bd.bigDecimal.stripTrailingZeros.toPlainString
  }

  private def norm(v: JValue, repl: Seq[(String, String)]): JValue = v match {
    case JObj(fs) => JObj(
      fs.filterNot(_._1.startsWith("prov:"))
        .map { case (k, fv) => k -> norm(fv, repl) }
        .sortBy(_._1))
    case JArr(items) => JArr(items.map(norm(_, repl)))
    case JStr(s) => JStr(repl.foldLeft(s) { case (a, (f, t)) => a.replace(f, t) })
    case JNum(l) => JStr("num:" + normNum(l))
    case other => other
  }

  private def firstDiff(a: JValue, b: JValue, path: String): Option[String] = (a, b) match {
    case (JObj(fa), JObj(fb)) =>
      if (fa.map(_._1) != fb.map(_._1))
        Some(s"$path keys ${fa.map(_._1)} vs ${fb.map(_._1)}")
      else fa.zip(fb).flatMap { case ((k, va), (_, vb)) => firstDiff(va, vb, s"$path.$k") }.headOption
    case (JArr(ia), JArr(ib)) =>
      if (ia.size != ib.size) Some(s"$path size ${ia.size} vs ${ib.size}")
      else ia.zip(ib).zipWithIndex.flatMap { case ((va, vb), i) => firstDiff(va, vb, s"$path[$i]") }.headOption
    case _ => if (a == b) None else Some(s"$path: $a vs $b")
  }

  for (name <- Fixtures.Names) {
    val base = name.stripSuffix(".csv")
    test(s"$base: metadata JSON-LD matches reference output") {
      val doc = Fixtures.doc(name)
      val meta = Annotator.annotate(name, SpanCodec.lines(doc.spans),
        Fixtures.Encodings(name), dict)
      val mine = JsonLd.render(meta)
      val oracle = Json.parse(new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"src/test/resources/oracle/meta/$base.json")), "UTF-8"))
      // oracle ran with file:// urls under the fixture root: @id = bare
      // name, ns = file domain + name + "/"
      val repl = Seq(
        s"file://${Fixtures.Root}/examples/$name" -> name,
        s"file://${Fixtures.Root}/$name" -> name)
      val d = firstDiff(norm(oracle, repl), norm(mine, Nil), "$")
      assert(d.isEmpty, d.getOrElse(""))
    }
  }
}
