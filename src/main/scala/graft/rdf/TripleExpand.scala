package graft.rdf

import graft.annotate._
import graft.csv.PandasCsv
import graft.csv.PandasCsv._
import graft.text.PyFloat
import scala.collection.mutable.ArrayBuffer

/** Per-document triple expansion (stage E): the RDF-graph equivalent of
  * the reference's JSON-LD metadata (rdflib JSON-LD expansion) plus the
  * full table-data expansion of `CSVWtoRDF.add_table_data`
  * (csvw_parser.py:249-343) and the PROV blocks (csvw_parser.py:378-421,
  * app.py:300-317). Blank nodes are skolemized deterministically.
  */
object TripleExpand {
  import Term._

  val RdfApiUrl = "http://localhost:5001/api/rdf"
  val RdfVersion = "v1.3.5"

  /** Stage-2 re-read of a table's cells from the document lines, mirroring
    * `parse_csv_from_url_to_list` (csvw_parser.py:46-95): skip
    * skipRows+headerRowCount lines, read to EOF (blank lines kept), first
    * ncols fields per row, per-column dtype inference over the whole read,
    * then truncate at the first all-NA row. GID = row index (prepended by
    * the caller as needed).
    */
  def stage2Rows(lines: IndexedSeq[String], t: TableDesc): Vector[Vector[PVal]] = {
    val skip = t.skipRows + t.headerRowCount
    val ncols = t.columns.length - 1
    if (skip >= lines.length || ncols <= 0) return Vector.empty
    val raw = (skip until lines.length).map { i =>
      PandasCsv.splitLine(pandasLine(lines(i)), t.delimiter)
    }
    val typed = PandasCsv.convertRows(raw, ncols)
    val firstBlank = typed.indexWhere(_.forall(_.isNaN))
    if (firstBlank >= 0) typed.take(firstBlank) else typed
  }

  private def pandasLine(l: String): String =
    l.stripSuffix("\n").stripSuffix("\r")

  // constant terms of the per-cell loop, built once
  private val CsvwRow = iri(CsvwNs + "row")
  private val CsvwRowType = iri(CsvwNs + "Row")
  private val CsvwDescribes = iri(CsvwNs + "describes")
  private val CsvwUrl = iri(CsvwNs + "url")
  private val QudtQuantityValue = iri(QudtNs + "QuantityValue")
  private val QudtValue = iri(QudtNs + "value")
  private val QudtUnit = iri(QudtNs + "unit")
  private val OaAnnotation = iri(OaNs + "Annotation")
  private val OaHasBody = iri(OaNs + "hasBody")
  private val OaTextualBody = iri(OaNs + "TextualBody")
  private val DcFormat = iri(DcNs + "format")
  private val TextPlain = lit("text/plain")
  private val XsdString = XsdNs + "string"
  private val XsdDouble = XsdNs + "double"
  private val XsdAnyUri = XsdNs + "anyURI"
  private val XsdNumeric = Set(
    XsdNs + "float", XsdNs + "decimal", XsdNs + "integer", XsdDouble)
  private def dtSuffix(dtIri: String): String = "^^<" + dtIri + ">"
  private val IntegerSuffix = dtSuffix(XsdNs + "integer")
  private val DoubleSuffix = dtSuffix(XsdDouble)
  private val BooleanSuffix = dtSuffix(XsdNs + "boolean")

  /** rdflib Literal(python value) typing for qudt:value cells. */
  private def cellLiteral(v: PVal): String = v match {
    case PInt(x) => lit(x.toString) + IntegerSuffix
    case PFloat(x) => lit(PyFloat.repr(x)) + DoubleSuffix
    case PBool(b) => lit(if (b) "true" else "false") + BooleanSuffix
    case PNaN => lit("nan") + DoubleSuffix
    case PStr(s) => lit(s)
  }

  /** What every cell of one data column shares: its predicate, how its
    * value is expanded (by the column's format) and the skolem path
    * tails of its nodes (`|<col>|qv` and so on).
    */
  private final class CellColumn(c: ColumnDesc, col: Int) {
    val pred: String = iri(c.id)
    val format: String = c.formatIri.getOrElse(XsdString)
    val numeric: Boolean = XsdNumeric.contains(format)
    val anyUri: Boolean = format == XsdAnyUri
    val german: Boolean = format == XsdDouble // German float re-parse
    val unit: String = c.unit.map(u => iri(u.iri)).orNull
    val valueSuffix: String = dtSuffix(format)
    val qv: String = s"$col|qv"
    val list: String = s"$col|list|"
    val anno: String = s"$col|anno"
    val body: String = s"$col|body"
  }

  def expand(m: DocMeta, tableRows: Map[String, Vector[Vector[PVal]]],
             includeProv: Boolean = true): Vector[Triple] = {
    // rdflib Graph is a set. Cell-data triples are structurally unique by
    // construction (skolem ids embed row/col), so only the metadata/PROV
    // stream needs set semantics — a much smaller dedup than distinct()
    // over the full fan-out.
    val ts = ArrayBuffer.empty[Triple]
    val seen = scala.collection.mutable.HashSet.empty[Triple]
    var dedup = true
    def add(s: String, p: String, o: String): Unit = {
      val t = Triple(s, p, o)
      if (!dedup) ts += t
      else if (seen.add(t)) ts += t
    }
    val doc = iri(m.id)
    val metadataIri = {
      // reference: filename.rsplit('.', 1)[0] + "-metadata.json" — only
      // strip an extension that appears after the last path segment
      val slash = m.id.lastIndexOf('/')
      val dot = m.id.lastIndexOf('.')
      (if (dot > slash) m.id.substring(0, dot) else m.id) + "-metadata.json"
    }

    add(doc, RdfType, iri(CsvwNs + "TableGroup"))

    // ---- notes ----------------------------------------------------
    m.notes.foreach { n =>
      val note = iri(n.id)
      add(doc, iri(CsvwNs + "note"), note)
      add(note, RdfType, OaAnnotation)
      add(note, RdfsLabel, lit(n.label))
      add(note, iri(CsvwNs + "rownum"), integer(n.rownum))
      n.bodies.zipWithIndex.foreach { case (b, bi) =>
        b match {
          case QuantityBody(vj, xsdT, unit) =>
            val bn = skolem(s"${m.id}|note|${n.id}|body|$bi")
            add(note, OaHasBody, bn)
            add(bn, RdfType, QudtQuantityValue)
            val lex =
              if (vj.startsWith("\"")) vj.substring(1, vj.length - 1) else vj
            add(bn, QudtValue, typed(lex, xsdT))
            unit.foreach { u =>
              add(bn, QudtUnit, iri(u.iri))
              add(iri(u.iri), RdfType, iri(u.rdfType))
            }
          case TextBody(v) =>
            val bn = skolem(s"${m.id}|note|${n.id}|body|$bi")
            add(note, OaHasBody, bn)
            add(bn, RdfType, OaTextualBody)
            add(bn, iri(OaNs + "purpose"), lit("oa:tagging"))
            add(bn, iri(OaNs + "format"), lit("text/plain"))
            add(bn, iri(OaNs + "value"), lit(v))
          case UriBody(url) =>
            add(note, OaHasBody, lit(url))
        }
      }
    }

    // ---- tables: metadata ----------------------------------------
    m.tables.foreach { t =>
      dedup = true // metadata/PROV stream needs set semantics per table
      val table = iri(t.id)
      add(doc, iri(CsvwNs + "table"), table)
      add(table, RdfType, iri(CsvwNs + "Table"))
      add(table, CsvwUrl, typed(t.url, XsdNs + "anyURI"))
      val dialect = skolem(s"${m.id}|table|${t.id}|dialect")
      add(table, iri(CsvwNs + "dialect"), dialect)
      add(dialect, iri(CsvwNs + "delimiter"), lit(t.delimiter))
      add(dialect, iri(CsvwNs + "skipRows"), nonNegInt(t.skipRows))
      add(dialect, iri(CsvwNs + "headerRowCount"), nonNegInt(t.headerRowCount))
      add(dialect, iri(CsvwNs + "encoding"), lit(t.encoding))
      val schema = skolem(s"${m.id}|table|${t.id}|schema")
      add(table, iri(CsvwNs + "tableSchema"), schema)
      add(schema, iri(CsvwNs + "aboutUrl"), typed(t.aboutUrl, CsvwNs + "uriTemplate"))
      add(schema, iri(CsvwNs + "primaryKey"), lit(t.primaryKey))
      // column RDF list
      val listNodes = t.columns.indices.map(i => skolem(s"${m.id}|table|${t.id}|collist|$i"))
      if (t.columns.nonEmpty) add(schema, iri(CsvwNs + "column"), listNodes.head)
      t.columns.zipWithIndex.foreach { case (c, i) =>
        add(listNodes(i), RdfFirst, iri(c.id))
        add(listNodes(i), RdfRest,
          if (i == t.columns.length - 1) RdfNil else listNodes(i + 1))
      }
      // columns
      t.columns.foreach { c =>
        val col = iri(c.id)
        add(col, RdfType, iri(CsvwNs + "Column"))
        add(col, iri(CsvwNs + "name"), lit(c.name))
        c.titles.foreach(tl => add(col, iri(CsvwNs + "title"), lit(tl)))
        if (c.name == "GID") {
          add(col, iri(CsvwNs + "datatype"), iri(XsdNs + "string"))
          add(col, iri(CsvwNs + "required"), boolean(true))
          add(col, iri(CsvwNs + "suppressOutput"), boolean(true))
        } else {
          c.formatIri.foreach(f => add(col, iri(CsvwNs + "format"), iri(f)))
          c.unit.foreach { u =>
            add(col, QudtUnit, iri(u.iri))
            add(iri(u.iri), RdfType, iri(u.rdfType))
          }
        }
      }

      // ---- table data (csvw_parser.add_table_data) ----------------
      dedup = false // unique by construction (skolem ids embed row/col)
      val rows = tableRows.getOrElse(t.id, Vector.empty)
      // columns include GID at 0; row cell j belongs to column j + 1
      val cellCols = t.columns.indices.drop(1).map(j => new CellColumn(t.columns(j), j)).toArray
      val rowPath = s"${m.id}|table|${t.id}|row|"
      val cellPath0 = s"${m.id}|table|${t.id}|cell|"
      val rowUrl = "<" + t.url + "/row="
      var index = 0
      rows.foreach { row =>
        val rowNode = skolem(rowPath + index)
        val gidIri = iri(t.aboutUrl.replace("{GID}", index.toString))
        add(table, CsvwRow, rowNode)
        add(rowNode, RdfType, CsvwRowType)
        add(rowNode, CsvwDescribes, gidIri)
        val rowNum = index + t.skipRows + t.headerRowCount
        add(rowNode, CsvwUrl, rowUrl + rowNum + ">")
        // cells: reference iterates [gid] + cells against columns[cellIndex]
        val cellPath = cellPath0 + index + "|"
        var j = 0
        row.foreach { cell0 =>
          val c = cellCols(j)
          // German float re-parse (csvw_parser.py:294-296)
          val cell = cell0 match {
            case PStr(s) if c.german =>
              val noDots = s.replace(".", "")
              val li = noDots.lastIndexOf(',')
              PStr(if (li < 0) noDots
                   else noDots.substring(0, li) + "." + noDots.substring(li + 1))
            case other => other
          }
          if (c.numeric) {
            val vn = skolem(cellPath + c.qv)
            add(vn, RdfType, QudtQuantityValue)
            add(vn, QudtValue, cellLiteral(cell))
            if (c.unit != null) add(vn, QudtUnit, c.unit)
            add(gidIri, c.pred, vn)
          } else if (c.anyUri) {
            cell match {
              case PStr(s) =>
                val uris = s.split(" ")
                val nodes = uris.indices.map(k => skolem(cellPath + c.list + k))
                uris.indices.foreach { k =>
                  add(nodes(k), RdfFirst, iri(uris(k)))
                  add(nodes(k), RdfRest,
                    if (k == uris.length - 1) RdfNil else nodes(k + 1))
                }
                add(gidIri, c.pred, nodes.head)
              case _ => // reference crashes on non-str anyURI cells; skip
            }
          } else {
            val vn = skolem(cellPath + c.anno)
            val bn = skolem(cellPath + c.body)
            add(vn, RdfType, OaAnnotation)
            add(vn, OaHasBody, bn)
            add(bn, RdfType, OaTextualBody)
            add(bn, DcFormat, TextPlain)
            add(bn, RdfValue, lit(cell.render) + c.valueSuffix)
            add(gidIri, c.pred, vn)
          }
          j += 1
        }
        index += 1
      }
    }

    // ---- PROV ----------------------------------------------------
    dedup = true
    if (includeProv) {
      // annotate-time block (metadata JSON-LD, app.py:300-317)
      val annApi = iri(JsonLd.AnnotateApiUrl)
      val annTag = iri(JsonLd.SourceRepo + "/releases/tag/" + JsonLd.AnnotateVersion)
      add(doc, iri(ProvNs + "wasGeneratedBy"), annApi)
      add(annApi, RdfType, iri(ProvNs + "Activity"))
      add(annApi, iri(ProvNs + "wasAssociatedWith"), annTag)
      add(annTag, RdfType, iri(ProvNs + "SoftwareAgent"))
      add(annTag, RdfsLabel, lit(JsonLd.AppName + JsonLd.AnnotateVersion))
      // JSON-LD string value -> plain literal (unlike the rdf-stage IRI)
      add(annTag, iri(ProvNs + "hadPrimarySource"), lit(JsonLd.SourceRepo))
      add(doc, iri(ProvNs + "generatedAtTime"),
        typed(JsonLd.GeneratedAtTime, XsdNs + "dateTime"))
      // rdf-stage block per table (csvw_parser.py:378-421)
      val rdfApi = iri(RdfApiUrl)
      val rdfTag = iri(JsonLd.SourceRepo + "/releases/tag/" + RdfVersion)
      m.tables.foreach { t =>
        val table = iri(t.id)
        add(table, iri(ProvNs + "wasGeneratedBy"), rdfApi)
        add(rdfApi, RdfType, iri(ProvNs + "Activity"))
        add(rdfApi, iri(ProvNs + "wasAssociatedWith"), rdfTag)
        add(rdfTag, RdfType, iri(ProvNs + "SoftwareAgent"))
        add(rdfTag, RdfsLabel, lit(JsonLd.AppName + RdfVersion))
        add(rdfTag, iri(ProvNs + "hadPrimarySource"), iri(JsonLd.SourceRepo))
        add(table, iri(ProvNs + "generatedAtTime"),
          typed(JsonLd.GeneratedAtTime, XsdNs + "dateTime"))
        add(iri(m.id), RdfType, iri(ProvNs + "Usage"))
        add(iri(m.id), iri(ProvNs + "hadRole"), iri(CsvwNs + "csvEncodedTabularData"))
        add(table, iri(ProvNs + "qualifiedUsage"), iri(m.id))
        add(iri(metadataIri), RdfType, iri(ProvNs + "Usage"))
        add(iri(metadataIri), iri(ProvNs + "hadRole"), iri(CsvwNs + "tabularMetadata"))
        add(table, iri(ProvNs + "qualifiedUsage"), iri(metadataIri))
      }
    }
    ts.toVector
  }

  /** Convenience: full per-doc pipeline meta -> triples. */
  def expandDoc(m: DocMeta, lines: IndexedSeq[String],
                includeProv: Boolean = true): Vector[Triple] = {
    val rows = m.tables.map(t => t.id -> stage2Rows(lines, t)).toMap
    expand(m, rows, includeProv)
  }
}
