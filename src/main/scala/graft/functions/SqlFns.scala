package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** UTF8String entry points for generated code (Scala objects emit static
  * forwarders, so `graft.functions.SqlFns.xUTF8(...)` links from
  * whole-stage codegen — same pattern as [[PyQuote.quoteUTF8]]). */
object SqlFns {
  def escapeUTF8(s: UTF8String): UTF8String =
    UTF8String.fromString(TurtleFunctions.escape(s.toString))
  def stnParentUTF8(s: UTF8String): UTF8String =
    UTF8String.fromString(TurtleFunctions.stnParent(s.toString))

  /** Spark's ascending string sort order on the driver: NULL first, then
    * the UTF-8 binary comparison `orderBy` uses (code-point order, which
    * differs from `String.compareTo` past the BMP). */
  val sparkStringOrder: Ordering[String] = (a, b) =>
    if (a == null) (if (b == null) 0 else -1)
    else if (b == null) 1
    else UTF8String.fromString(a).compareTo(UTF8String.fromString(b))
}

/** C1 `escape` as a codegen'd expression (`umls2rdf.py:103-104`). */
case class TurtleEscape(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "turtle_escape"
  override protected def nullSafeEval(input: Any): Any =
    SqlFns.escapeUTF8(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SqlFns.escapeUTF8($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** C11 STN parent derivation as a codegen'd expression
  * (`umls2rdf.py:170-175`). */
case class StnParent(child: Expression) extends UnaryExpression {
  override def dataType: DataType = StringType
  override def prettyName: String = "stn_parent"
  override protected def nullSafeEval(input: Any): Any =
    SqlFns.stnParentUTF8(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.SqlFns.stnParentUTF8($c)")
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** C4 `get_rel_fragment` (`umls2rdf.py:131-132`) needs no custom
  * expression at all: RELA-if-truthy-else-REL composes from built-ins
  * (If / IsNotNull / Length), staying fully codegen'd. */
object RelFragmentExpr {
  import org.apache.spark.sql.catalyst.expressions.{And, GreaterThan, If, IsNotNull, Length, Literal}
  def apply(rela: Expression, rel: Expression): Expression =
    If(And(IsNotNull(rela), GreaterThan(Length(rela), Literal(0))), rela, rel)
}
