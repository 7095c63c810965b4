package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.bridge
import org.apache.spark.sql.types.{DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The `k` of a `props` text of exactly the shape `{"k":`, spaces,
  * `-?(0|[1-9][0-9]{0,8})`, spaces, `}` (spaces are U+0020 only); null for
  * any other text. On that shape Jackson reads the same digits, so the value
  * equals `get_json_object(props, '$.k').cast(int)`; everything else is left
  * to that expression ([[Tables.transactionsWithId]]).
  *
  * Codegen: `doGenCode` emits a static call to [[PropsK.scan]], which reads
  * the string's bytes in place, so the expression stays inside whole-stage
  * codegen and allocates nothing per row.
  */
case class PropsKExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(s"props_k_int needs a string, got $other")
  }

  override def nullSafeEval(input: Any): Any = {
    val k = PropsK.scan(input.asInstanceOf[UTF8String])
    if (k == PropsK.Miss) null else k.toInt
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val k = ctx.freshName("k")
      s"""long $k = graft.sources.PropsK.scan($c);
         |${ev.isNull} = $k == Long.MIN_VALUE;
         |${ev.value} = (int) $k;""".stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): PropsKExpr =
    copy(child = newChild)

  override def prettyName: String = "props_k_int"
}

object PropsK {

  /** [[scan]]'s answer for a text outside the shape (Long.MIN_VALUE). */
  final val Miss = Long.MinValue

  def apply(props: Column): Column = bridge.column(PropsKExpr(bridge.expression(props)))

  /** The shape's integer, or [[Miss]]. Static entry point shared by
    * interpreted eval and generated code.
    */
  def scan(s: UTF8String): Long = {
    val n = s.numBytes()
    if (n < 7 || s.getByte(0) != '{' || s.getByte(1) != '"' || s.getByte(2) != 'k' ||
        s.getByte(3) != '"' || s.getByte(4) != ':') return Miss
    var i = 5
    while (i < n && s.getByte(i) == ' ') i += 1
    val negative = i < n && s.getByte(i) == '-'
    if (negative) i += 1
    val start = i
    var v = 0L
    while (i < n && i - start < 10 && s.getByte(i) >= '0' && s.getByte(i) <= '9') {
      v = v * 10 + (s.getByte(i) - '0')
      i += 1
    }
    val digits = i - start
    if (digits == 0 || digits > 9 || (digits > 1 && s.getByte(start) == '0')) return Miss
    while (i < n && s.getByte(i) == ' ') i += 1
    if (i != n - 1 || s.getByte(i) != '}') return Miss
    if (negative) -v else v
  }
}
