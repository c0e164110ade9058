package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** `array_dot_l(a, b)` = Σ aᵢ·bᵢ over two `array<bigint>` columns — the
  * integer companion to `array_dot_f` for the QUANTIZED embedding paths
  * (SURVEY §7.4: fixed-point cosine is what keeps the similarity
  * operators oracle-exact). The composable form
  * `aggregate(zip_with(a, b, (x,y) -> x*y), 0L, (acc,v) -> acc+v)`
  * evaluates interpreted — one closure dispatch per element per pair,
  * which dominates the blocked cosine joins; this runs the same exact
  * integer sum inside whole-stage codegen. Long addition is associative,
  * so the result is bit-identical to the lambda form and to the DuckDB
  * oracle's list_sum — the oracles don't change.
  */
case class ArrayDotLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(e =>
        e.dataType == ArrayType(LongType) ||
          e.dataType == ArrayType(LongType, containsNull = false)))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"array_dot_l expects (array<bigint>, array<bigint>), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = LongType
  override def prettyName: String = "array_dot_l"
  override def nullable: Boolean = true

  /** NULL semantics match the lambda form exactly: ragged lengths
    * (zip_with pads with null → null product → null sum) and any null
    * element both yield NULL — not a truncated or garbage sum.
    */
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $a.getLong($i) * $b.getLong($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDotLong =
    copy(left = newLeft, right = newRight)
}

object ArrayDotLong {
  val identifier: FunctionIdentifier = FunctionIdentifier("array_dot_l")
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[ArrayDotLong].getName, "array_dot_l")
  val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 2, "array_dot_l takes exactly 2 arguments")
    ArrayDotLong(children.head, children(1))
  }
}
