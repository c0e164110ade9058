package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType}

/** `win_min_k(hs, k)` — the winnowing rolling K-minimum as ONE native
  * O(n) pass, value-identical to the composable form
  *
  *   transform(sequence(0, size(hs) - 1),
  *     j -> array_min(slice(hs, j + 1, k)))
  *
  * (per position j, the minimum over the next k elements, windows
  * clamped at the tail exactly like slice clamps). Why native (guide
  * §1.2 step 2, per-task work): the composable chain is O(n·k) and
  * allocates a k-element array PER POSITION (slice materializes before
  * array_min folds) — at corpus scale the winnow fingerprint build runs
  * this over every window hash of every document (the sf10 build's
  * dominant stage). This expression keeps a monotonic index deque and
  * emits each window minimum in amortized O(1) with zero per-window
  * allocation. The DuckDB oracle keeps its own spelling, so the hash
  * gate proves value equality end-to-end; WinMinKSpec pins the per-row
  * equivalence including the clamped tail, duplicates, k ≥ n, and the
  * empty array.
  *
  * Input contract: array<bigint> with NO null elements (the
  * win_hashes60 output type) — enforced at type check, matching the
  * only call site. NULL array or NULL k → NULL out, like the lambda
  * form.
  */
case class WinMinK(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType != ArrayType(LongType, containsNull = false))
      TypeCheckResult.TypeCheckFailure(
        s"win_min_k expects array<bigint> (no null elements), got ${left.dataType.simpleString}")
    // int only: compute takes an Int window, and a bigint k would be
    // silently truncated on the way in
    else if (right.dataType != IntegerType)
      TypeCheckResult.TypeCheckFailure(
        s"win_min_k expects an int k, got ${right.dataType.simpleString}")
    else TypeCheckResult.TypeCheckSuccess

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "win_min_k"

  override protected def nullSafeEval(arr: Any, k: Any): Any =
    WinMinK.compute(arr.asInstanceOf[ArrayData], k.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, k) =>
      s"graft.functions.WinMinK.compute($a, $k)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WinMinK =
    copy(left = newLeft, right = newRight)
}

object WinMinK {

  /** Sliding minimum over windows [j, min(j+k, n)) for every j — a
    * monotonic index deque, one push/pop amortized per element. Static
    * so generated code calls it directly (the WinHashes60 pattern).
    */
  def compute(arr: ArrayData, k: Int): ArrayData = {
    // the composable form with k < 1 degenerates to all-null windows
    // (slice of length 0) — no caller wants that; fail loudly instead
    require(k >= 1, s"win_min_k: window size must be >= 1, got $k")
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val a = arr.toLongArray()
    val out = new Array[Any](n)
    if (k <= 1) {
      var i = 0
      while (i < n) { out(i) = a(i); i += 1 }
      return new GenericArrayData(out)
    }
    val dq = new Array[Int](n)
    var h = 0
    var t = 0
    var i = 0
    val lead = math.min(k, n)
    while (i < lead) { // seed the first window [0, min(k, n))
      while (t > h && a(dq(t - 1)) >= a(i)) t -= 1
      dq(t) = i; t += 1
      i += 1
    }
    var j = 0
    while (j < n) {
      out(j) = a(dq(h))
      if (dq(h) == j) h += 1 // j leaves the window
      val in = j + k // the element entering window j+1
      if (in < n) {
        while (t > h && a(dq(t - 1)) >= a(in)) t -= 1
        dq(t) = in; t += 1
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  val identifier: FunctionIdentifier = FunctionIdentifier("win_min_k")
  val info: ExpressionInfo = new ExpressionInfo(classOf[WinMinK].getName, "win_min_k")
  val builder: Seq[Expression] => Expression = { children =>
    require(children.length == 2, "win_min_k takes exactly 2 arguments")
    WinMinK(children.head, children(1))
  }
}
