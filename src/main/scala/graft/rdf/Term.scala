package graft.rdf

/** N-Triples term encoding. Triples are carried as pre-encoded strings
  * (subj/pred/obj), the engine's `Dataset[Triple]` row shape.
  */
final case class Triple(subj: String, pred: String, obj: String)

object Term {

  val RdfNs = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  val RdfsNs = "http://www.w3.org/2000/01/rdf-schema#"
  val XsdNs = "http://www.w3.org/2001/XMLSchema#"
  val CsvwNs = "http://www.w3.org/ns/csvw#"
  val OaNs = "http://www.w3.org/ns/oa#"
  val QudtNs = "http://qudt.org/schema/qudt/"
  val DcNs = "http://purl.org/dc/elements/1.1/"
  val ProvNs = "http://www.w3.org/ns/prov#"

  val RdfType: String = iri(RdfNs + "type")
  val RdfFirst: String = iri(RdfNs + "first")
  val RdfRest: String = iri(RdfNs + "rest")
  val RdfNil: String = iri(RdfNs + "nil")
  val RdfValue: String = iri(RdfNs + "value")
  val RdfsLabel: String = iri(RdfsNs + "label")

  def iri(s: String): String = "<" + s + ">"

  def escape(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length + 8)
    s.foreach {
      case '\\' => sb.append("\\\\")
      case '"' => sb.append("\\\"")
      case '\n' => sb.append("\\n")
      case '\r' => sb.append("\\r")
      case '\t' => sb.append("\\t")
      case c => sb.append(c)
    }
    sb.toString
  }

  def lit(s: String): String = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' || c == '"' || c == '\n' || c == '\r' || c == '\t')
        return "\"" + escape(s) + "\""
      i += 1
    }
    "\"" + s + "\"" // nothing to escape
  }

  def unescape(s: String): String = {
    if (s.indexOf('\\') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        i += 1
        s.charAt(i) match {
          case 'n' => sb.append('\n')
          case 'r' => sb.append('\r')
          case 't' => sb.append('\t')
          case other => sb.append(other)
        }
      } else sb.append(c)
      i += 1
    }
    sb.toString
  }

  def typed(s: String, dtIri: String): String = lit(s) + "^^<" + dtIri + ">"

  def integer(v: Long): String = typed(v.toString, XsdNs + "integer")
  def nonNegInt(v: Long): String = typed(v.toString, XsdNs + "nonNegativeInteger")
  def boolean(b: Boolean): String = typed(if (b) "true" else "false", XsdNs + "boolean")

  /** Deterministic skolem IRI for a blank node (north rule: resumable /
    * deterministic ids; path encodes doc + structural role).
    */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val HexChars = "0123456789abcdef".toCharArray

  def skolem(path: String): String = {
    val md = md5Local.get()
    md.reset()
    val h = md.digest(path.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val sb = new java.lang.StringBuilder(33)
    sb.append("<urn:skolem:")
    var i = 0
    while (i < 10) {
      val b = h(i) & 0xFF
      sb.append(HexChars(b >> 4)).append(HexChars(b & 0xF))
      i += 1
    }
    sb.append('>')
    sb.toString
  }

  def isBlankish(term: String): Boolean =
    term.startsWith("_:") || term.startsWith("<urn:skolem:")
}
