package graft.link

import graft.text.PyStr
import scala.collection.mutable
import scala.io.Source

/** QUDT unit entity-linking dictionary (SURVEY.md §2.3 J1).
  *
  * Built once on the driver from a line-oriented parse of the QUDT unit
  * ontology TTL (reference: ontologies/qudt_unit.ttl; only qudt:symbol,
  * qudt:ucumCode and rdf:type are needed) and broadcast to executors.
  *
  * Lookup pins the reference's rdflib "first match wins" semantics
  * (annotator.py:236-247): all symbol matches come before all ucumCode
  * matches, ties broken by position in the TTL file; the reported
  * rdf:type is the unit's first type in the file.
  */
final case class UnitHit(iri: String, rdfType: String)

final class UnitDict(val entries: Map[String, UnitHit]) extends Serializable {

  /** Normalization applied before lookup (annotator.py:228-235):
    * strip " []():" from both ends, superscript folding (Â dropped,
    * ¹ dropped, ²->2 ... ⁹->9, °C->Cel), then N/mm2->MPa, Nm->N.m,
    * sec->s literal rewrites.
    */
  def normalize(raw: String): String = UnitDict.normalize(raw)

  def lookup(token: String): Option[UnitHit] = entries.get(normalize(token))

  def size: Int = entries.size
}

object UnitDict {

  private val Superscripts: Seq[(String, String)] = Seq(
    "Â" -> "", "¹" -> "", "²" -> "2", "³" -> "3",
    "⁴" -> "4", "⁵" -> "5", "⁶" -> "6", "⁷" -> "7",
    "⁸" -> "8", "⁹" -> "9", "°C" -> "Cel")

  def normalize(raw: String): String = {
    var s = PyStr.strip(raw, " []():")
    Superscripts.foreach { case (k, v) => s = s.replace(k, v) }
    s = s.replace("N/mm2", "MPa")
    s = s.replace("Nm", "N.m")
    s = s.replace("sec", "s")
    s
  }

  val QudtNs = "http://qudt.org/schema/qudt/"
  val UnitNs = "http://qudt.org/vocab/unit/"
  val NumIri: String = UnitNs + "NUM"

  private val SubjectR = raw"^unit:(\S+)\s*$$".r
  private val TypeR = raw"^\s*a qudt:(\S+) ;\s*$$".r
  private val SymbolR = raw"""^\s*qudt:symbol "(.*)" ;\s*$$""".r
  private val UcumR = raw"""^\s*qudt:ucumCode "(.*)"\^\^qudt:UCUMcs ;\s*$$""".r

  /** Parse the TTL from a file path. */
  def parseTtl(path: String): Seq[(String, Int, Long, String, String)] = {
    val src = Source.fromFile(path, "UTF-8")
    try parseLines(src.getLines()) finally src.close()
  }

  /** Vendored 3-predicate extract (same line syntax, same order) so the
    * jar is deployable without the reference tree; falls back to
    * [[DefaultTtlPath]] for environments that want the full ontology.
    */
  val ResourceName = "/graft/qudt_unit_extract.ttl"

  /** Rows from the classpath extract, or the reference TTL as fallback. */
  def defaultRows: Seq[(String, Int, Long, String, String)] = {
    val in = getClass.getResourceAsStream(ResourceName)
    if (in != null) {
      val src = Source.fromInputStream(in, "UTF-8")
      try parseLines(src.getLines()) finally src.close()
    } else parseTtl(DefaultTtlPath)
  }

  /** Parse TTL lines. Returns raw rows so callers can also build a
    * broadcast-join DataFrame: (key, keyKind 0=symbol/1=ucum, parseOrder,
    * unit iri, first rdf type).
    */
  def parseLines(lines: Iterator[String]): Seq[(String, Int, Long, String, String)] = {
    val firstType = mutable.LinkedHashMap.empty[String, String]
    val rows = mutable.ArrayBuffer.empty[(String, Int, Long, String)]
    var cur: String = null
    var order = 0L
    locally {
      for (line <- lines) line match {
        case SubjectR(name) => cur = UnitNs + name
        case TypeR(t) if cur != null =>
          if (!firstType.contains(cur)) firstType(cur) = QudtNs + t
        case SymbolR(v) if cur != null =>
          rows += ((v, 0, order, cur)); order += 1
        case UcumR(v) if cur != null =>
          rows += ((v, 1, order, cur)); order += 1
        case _ =>
      }
    }
    rows.map { case (k, kind, ord, iri) =>
      (k, kind, ord, iri, firstType.getOrElse(iri, QudtNs + "Unit"))
    }.toSeq
  }

  /** Winner per key: min (keyKind, parseOrder). */
  def fromRows(parsed: Seq[(String, Int, Long, String, String)]): UnitDict = {
    val best = mutable.HashMap.empty[String, (Int, Long, UnitHit)]
    parsed.foreach { case (k, kind, ord, iri, tpe) =>
      val cand = (kind, ord, UnitHit(iri, tpe))
      best.get(k) match {
        case Some((bk, bo, _)) if bk < kind || (bk == kind && bo < ord) => ()
        case _ => best(k) = cand
      }
    }
    new UnitDict(best.view.mapValues(_._3).toMap)
  }

  def fromTtl(path: String): UnitDict = fromRows(parseTtl(path))

  val DefaultTtlPath = s"${graft.ingest.Fixtures.Root}/ontologies/qudt_unit.ttl"

  @transient lazy val default: UnitDict = fromRows(defaultRows)
}
