package graft.functions

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** The one registration table for the native functions. Both paths
  * below install exactly these entries, so a new function is one line
  * here.
  */
object GraftFunctions {

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)] = Seq(
    (ArrayDotProduct.identifier, ArrayDotProduct.info, ArrayDotProduct.builder),
    (ArrayDotLong.identifier, ArrayDotLong.info, ArrayDotLong.builder),
    (Shingle3.identifier, Shingle3.info, Shingle3.builder),
    (GzipSize.identifier, GzipSize.info, GzipSize.builder),
    (CmsEstimate.identifier, CmsEstimate.info, CmsEstimate.builder),
    (WinHashes60.identifier, WinHashes60.info, WinHashes60.builder),
    (Md5Prefix64.identifier, Md5Prefix64.info, Md5Prefix64.builder),
    (WinMinK.identifier, WinMinK.info, WinMinK.builder))

  /** Idempotent in-session registration for sessions built without
    * `spark.sql.extensions`: the same surface GraftExtensions installs —
    * the native functions AND the FoldChainedXor optimizer rule
    * (injectOptimizerRule has no live-session equivalent, so the rule
    * rides `spark.experimental.extraOptimizations`, which the optimizer
    * runs in its user-provided batch). Benchmarks and plan-shape claims
    * therefore reflect the shipped extension path, not a rule-less
    * session.
    */
  def ensureRegistered(s: SparkSession): Unit = {
    val reg = s.sessionState.functionRegistry
    all.foreach { case (id, info, builder) => reg.registerFunction(id, info, builder) }
    // A session built with spark.sql.extensions=GraftExtensions already
    // runs FoldChainedXor in its injected-rule batch; appending it to
    // extraOptimizations too would run it in a second batch. The rule IS
    // idempotent (a folded `x ^ c` no longer matches any pattern —
    // FoldChainedXorSpec pins this), but skip the duplicate anyway: the
    // extensions conf is the only publicly inspectable registration site
    // (RuleExecutor.batches is protected).
    // Exact class-name match, not substring: the conf is a comma-list
    // of class names, and a foreign class merely CONTAINING
    // "GraftExtensions" must not suppress the append (the rule would
    // silently vanish from every batch — optimization-only, but
    // plan-shape claims and benches would quietly regress).
    val viaExtensions = s.conf.getOption("spark.sql.extensions")
      .exists(_.split(',').map(_.trim)
        .contains(classOf[GraftExtensions].getName))
    if (!viaExtensions &&
        !s.experimental.extraOptimizations.contains(graft.plans.FoldChainedXor))
      s.experimental.extraOptimizations =
        s.experimental.extraOptimizations :+ graft.plans.FoldChainedXor
  }
}

/** Deployment path: `spark.sql.extensions=graft.functions.GraftExtensions`
  * registration — `expr("array_dot_f(a, b)")` and SQL resolve the native
  * expressions (`injectFunction`), the optimizer gains the chained-XOR
  * constant fold (`injectOptimizerRule`, plans/FoldChainedXor).
  * `CALL graft.<procedure>(...)` is served by the procedure catalog in
  * ops/Procedures.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.plans.FoldChainedXor)
  }
}
