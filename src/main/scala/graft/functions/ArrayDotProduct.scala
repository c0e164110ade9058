package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression for the similarity-search hot loop:
  * `array_dot_f(a, b)` = Σ aᵢ·bᵢ over two `array<float>` columns.
  *
  * This is the one place the engine drops below the public DataFrame
  * API, demonstrating the custom-operator preference order (SURVEY
  * §7.3): the composable form `aggregate(zip_with(a, b, (x,y) -> x*y),
  * 0D, (acc,v) -> acc+v)` is correct but higher-order functions
  * evaluate INTERPRETED — one closure call per element. This expression
  * participates in whole-stage codegen (`doGenCode` emits the tight
  * float loop straight into the generated stage), reads the arrays
  * through `ArrayData` primitive getters (no boxing), and at 100 TB is
  * the difference between a memory-bound scan and a closure-dispatch
  * bottleneck in the top-k cosine path.
  *
  * The oracle-checked queries keep the quantized higher-order form
  * (engine-exact vs DuckDB, SURVEY §7.4); this is the float fast path,
  * verified by equivalence spec instead (functions can't be
  * oracle-hashed bit-for-bit across engines in float math).
  */
case class ArrayDotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  // manual check instead of ExpectsInputTypes: AbstractDataType is
  // private[sql] to Spark, so the trait is unusable from library code
  override def checkInputDataTypes(): TypeCheckResult =
    if (Seq(left, right).forall(e =>
        e.dataType == ArrayType(FloatType) ||
          e.dataType == ArrayType(FloatType, containsNull = false)))
      TypeCheckResult.TypeCheckSuccess
    else
      TypeCheckResult.TypeCheckFailure(
        s"array_dot_f expects (array<float>, array<float>), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  override def dataType: DataType = DoubleType
  // can return null (ragged/null-element inputs) even for non-null children
  override def nullable: Boolean = true
  override def prettyName: String = "array_dot_f"

  // NULL on ragged lengths or a null element — the ArrayDotLong rule,
  // and what the documented-equivalent aggregate(zip_with(...)) form
  // returns: a min-length partial sum would hand a truncated embedding
  // a plausible-looking similarity instead of surfacing the corruption
  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getFloat(i).toDouble * y.getFloat(i).toDouble
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
         |  double $s = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += ((double) $a.getFloat($i)) * ((double) $b.getFloat($i));
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $s; }
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ArrayDotProduct =
    copy(left = newLeft, right = newRight)
}

object ArrayDotProduct {
  val identifier: FunctionIdentifier = FunctionIdentifier("array_dot_f")
  val info: ExpressionInfo = new ExpressionInfo(
    classOf[ArrayDotProduct].getName, "array_dot_f")
  val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 2, "array_dot_f takes exactly 2 arguments")
    ArrayDotProduct(children.head, children(1))
  }
}
