package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftBridge
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The annotator's input lines of a document in ONE native pass: the
  * texts of the `kind = 'text'` spans in stable offset order, taken from
  * the three parallel field projections `spans.kind`, `spans.text`,
  * `spans.offset`. Those inputs are plain `GetArrayStructFields`, so
  * nested-schema pruning still keeps `media_ref` out of a parquet scan.
  *
  * Replaces the interpreted lambda chain
  * `transform(array_sort(filter(arrays_zip(kind, text, offset),
  *    s -> s.kind = 'text'), (a, b) -> a.offset - b.offset), s -> s.text)`
  * with its null semantics (pinned by PipelineSpec): a null input array
  * gives a null result, a null kind drops the span, a null text stays a
  * null line, and a null offset on a text span fails with the chain's
  * COMPARATOR_RETURNS_NULL whenever there are two or more text spans to
  * order (one text span needs no comparison). Offsets are compared
  * exactly, with no `a - b` overflow; otherwise equal to
  * [[graft.ingest.SpanCodec.lines]].
  */
case class TextLinesOf(kind: Expression, text: Expression, offset: Expression)
    extends TernaryExpression {

  override def first: Expression = kind
  override def second: Expression = text
  override def third: Expression = offset

  override def checkInputDataTypes(): TypeCheckResult =
    (kind.dataType, text.dataType, offset.dataType) match {
      case (ArrayType(_: StringType, _), ArrayType(_: StringType, _), ArrayType(IntegerType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"graft_text_lines requires (ARRAY<STRING>, ARRAY<STRING>, ARRAY<INT>), got $other")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_text_lines"

  override def nullSafeEval(k: Any, t: Any, o: Any): Any =
    TextLinesOf.kernel(k.asInstanceOf[ArrayData], t.asInstanceOf[ArrayData],
      o.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (k, t, o) => s"graft.expr.TextLinesOf.kernel($k, $t, $o)")

  override protected def withNewChildrenInternal(newFirst: Expression, newSecond: Expression,
                                                 newThird: Expression): TextLinesOf =
    copy(kind = newFirst, text = newSecond, offset = newThird)
}

object TextLinesOf {
  /** The kernel over the `kind`/`text`/`offset` fields of a spans column. */
  def apply(spans: String): Column = {
    def field(f: String) = GraftBridge.expression(org.apache.spark.sql.functions.col(s"$spans.$f"))
    GraftBridge.column(TextLinesOf(field("kind"), field("text"), field("offset")))
  }

  private val Text = UTF8String.fromString("text")
  private val Empty = new GenericArrayData(new Array[AnyRef](0))

  def kernel(kind: ArrayData, text: ArrayData, offset: ArrayData): ArrayData = {
    val n = kind.numElements()
    // positions of the text spans, in input order
    val at = new Array[Int](n)
    var m = 0
    var i = 0
    while (i < n) {
      if (!kind.isNullAt(i) && kind.getUTF8String(i) == Text) { at(m) = i; m += 1 }
      i += 1
    }
    if (m == 0) return Empty
    if (m > 1) {
      // key = offset in the high word, input rank in the low word: a
      // plain long sort is then the stable offset sort
      val keys = new Array[Long](m)
      var sorted = true
      var j = 0
      while (j < m) {
        val p = at(j)
        if (p >= offset.numElements() || offset.isNullAt(p))
          throw GraftBridge.comparatorReturnsNull(s"offset of span $p", "another text span")
        keys(j) = (offset.getInt(p).toLong << 32) | j
        if (j > 0 && keys(j) < keys(j - 1)) sorted = false
        j += 1
      }
      if (!sorted) {
        java.util.Arrays.sort(keys)
        val order = at.clone()
        j = 0
        while (j < m) { at(j) = order(keys(j).toInt); j += 1 }
      }
    }
    val out = new Array[AnyRef](m)
    val nText = text.numElements()
    var j = 0
    while (j < m) {
      val p = at(j)
      out(j) = if (p >= nText || text.isNullAt(p)) null else text.getUTF8String(p)
      j += 1
    }
    new GenericArrayData(out)
  }
}
