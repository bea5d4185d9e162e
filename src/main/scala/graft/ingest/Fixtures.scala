package graft.ingest

import java.nio.charset.Charset
import java.nio.file.{Files, NoSuchFileException, Path, Paths}

/** Loads the reference's example CSVs (read-only) as documents, decoded
  * with the encodings the reference's chardet detection reported
  * (recorded in the golden dialects; FIXTURES.md §3).
  */
object Fixtures {

  val Root = "/root/reference"

  /** name -> (encoding label used in dialects, java charset) */
  val Encodings: Map[String, String] = Map(
    "example.csv" -> "latin-1",
    "example2.csv" -> "utf-8",
    "example3.csv" -> "utf-8",
    "example4.csv" -> "utf-8",
    "example5.csv" -> "latin-1",
    "example6.csv" -> "utf-8",
    "example7.csv" -> "utf-8",
    "example8.csv" -> "utf-8")

  val Names: Vector[String] = Vector("example.csv", "example2.csv",
    "example3.csv", "example4.csv", "example5.csv", "example6.csv",
    "example7.csv", "example8.csv")

  /** `rel` under [[Root]]. Every fixture read goes through here, so an
    * absent reference tree fails each read with one message naming the
    * missing path.
    */
  def file(rel: String): Path = {
    val p = Paths.get(Root, rel)
    if (!Files.exists(p))
      throw new NoSuchFileException(p.toString, null, s"reference fixture missing under $Root")
    p
  }

  /** A fixture file's UTF-8 text. */
  def read(rel: String): String = new String(Files.readAllBytes(file(rel)), "UTF-8")

  def path(name: String): String = {
    val p1 = Paths.get(Root, name)
    if (Files.exists(p1)) p1.toString else file(s"examples/$name").toString
  }

  def text(name: String): String = {
    val enc = Encodings(name)
    val cs = Charset.forName(if (enc == "latin-1") "ISO-8859-1" else enc)
    new String(Files.readAllBytes(Paths.get(path(name))), cs)
  }

  /** doc_id mirrors the reference's file:// handling: @id = bare filename */
  def doc(name: String): Doc = SpanCodec.encode(name, text(name))
}
