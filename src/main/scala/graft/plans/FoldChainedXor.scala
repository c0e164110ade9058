package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BitwiseXor, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Optimizer rule: fold chains of constant XORs into one —
  * `(x ^ c1) ^ c2 → x ^ (c1 ^ c2)` (and the commuted forms).
  *
  * Catalyst's own `ReorderAssociativeOperator` reassociates Add and
  * Multiply only, and `ConstantFolding` can't reach constants separated
  * by a non-foldable subtree — so this chain survives optimization
  * untouched upstream. It arises naturally in this engine: the MinHash
  * permutation family is `base_hash XOR salt_i` (ops/LlmPipeline), and
  * any composition layered on top (re-salting a signature, combining a
  * partition salt with a permutation salt) XORs another literal onto an
  * already-salted column. One fold = one fewer per-row instruction in a
  * codegen'd projection that runs once per (shingle, permutation).
  *
  * Engine-surface demonstration of SURVEY §7.3 tier (c): a
  * `Rule[LogicalPlan]` registered through
  * `SparkSessionExtensions.injectOptimizerRule` (see
  * functions/GraftExtensions) — the tier below it, a native Expression
  * with codegen, is functions/ArrayDotProduct.
  */
object FoldChainedXor extends Rule[LogicalPlan] {

  private def fold(a: Any, b: Any, t: org.apache.spark.sql.types.DataType): Literal = t match {
    case LongType => Literal(a.asInstanceOf[Long] ^ b.asInstanceOf[Long], LongType)
    case _        => Literal(a.asInstanceOf[Int] ^ b.asInstanceOf[Int], IntegerType)
  }

  private def foldable(t: org.apache.spark.sql.types.DataType): Boolean =
    t == LongType || t == IntegerType

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformAllExpressions {
    // (x ^ c1) ^ c2  |  (c1 ^ x) ^ c2  |  c2 ^ (x ^ c1)  |  c2 ^ (c1 ^ x)
    case BitwiseXor(BitwiseXor(x, Literal(a, t1)), Literal(b, t2))
        if t1 == t2 && foldable(t1) && a != null && b != null =>
      BitwiseXor(x, fold(a, b, t1))
    case BitwiseXor(BitwiseXor(Literal(a, t1), x), Literal(b, t2))
        if t1 == t2 && foldable(t1) && a != null && b != null =>
      BitwiseXor(x, fold(a, b, t1))
    case BitwiseXor(Literal(b, t2), BitwiseXor(x, Literal(a, t1)))
        if t1 == t2 && foldable(t1) && a != null && b != null =>
      BitwiseXor(x, fold(a, b, t1))
    case BitwiseXor(Literal(b, t2), BitwiseXor(Literal(a, t1), x))
        if t1 == t2 && foldable(t1) && a != null && b != null =>
      BitwiseXor(x, fold(a, b, t1))
  }
}
