package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for the vector hot path. The ANN queries'
  * inner loop was an interpreted `aggregate`/`zip_with` lambda chain
  * (HigherOrderFunctions never enter whole-stage codegen); these compile to
  * a tight primitive loop via doGenCode instead — the preference order the
  * brief sets: native Expression > Scala UDF > anything else.
  *
  * Accumulation is in array-index order, matching both the lambda fold they
  * replace and the DuckDB `list_reduce` oracles bit-for-bit.
  */
case class DotProductD(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val ok = Seq(left, right).forall(_.dataType match {
      case ArrayType(DoubleType, _) => true
      case _ => false
    })
    if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires two array<double> arguments")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getDouble(i) * y.getDouble(i); i += 1 }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += $a.getDouble($i) * $b.getDouble($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : Expression = copy(left = l, right = r)
}

/** L2 norm of an array<double>, same ordered-accumulation contract. */
case class L2NormD(child: Expression)
    extends UnaryExpression {

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case ArrayType(DoubleType, _) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case _ =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"$prettyName requires an array<double> argument")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "graft_l2norm"

  override def nullSafeEval(a: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var acc = 0.0
    var i = 0
    while (i < n) { val v = x.getDouble(i); acc += v * v; i += 1 }
    math.sqrt(acc)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val acc = ctx.freshName("acc")
      val v = ctx.freshName("v")
      s"""
         |int $n = $a.numElements();
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double $v = $a.getDouble($i);
         |  $acc += $v * $v;
         |}
         |${ev.value} = java.lang.Math.sqrt($acc);
       """.stripMargin
    })

  override protected def withNewChildInternal(c: Expression): Expression =
    copy(child = c)
}

/** N-sign-bit random-hyperplane LSH bucket over the raw embedding
  * (array<float> or array<double>): bit p is sign(dot(v, plane_p)) with
  * the seedless integer planes plane[p][d] = (p·97 + d·13) mod 7 − 3 —
  * exactly the weights the interpreted aggregate/zip_with version used
  * and the DuckDB oracles still spell out. Per-plane accumulation is in
  * array-index order with each element widened to double first, so sign
  * boundaries (and therefore buckets) stay bit-identical across engines.
  * Replaces an 8-plane nested HigherOrderFunction chain that never
  * entered whole-stage codegen — this is the per-row hot loop of the LSH
  * ANN (q33) and the candidate-union NN dedup (q40).
  *
  * `bits` is the granularity knob that grows with corpus size (2^bits
  * buckets): it must be a foldable integer in [1, 30]. Buckets REFINE as
  * bits grow — plane p depends only on p, so graft_lsh(v, m) & (2^n − 1)
  * == graft_lsh(v, n) for m ≥ n (asserted in VectorExpressionsSpec).
  *
  * Planes 8+ come from a multiplicative-hash family, NOT the linear
  * mod-7 recurrence: (p·97 + d·13) mod 7 is periodic in p with period 7
  * (any polynomial in p is, mod 7), so extending the linear family past
  * p = 7 would duplicate planes 0–6 verbatim and add ZERO information —
  * the scale knob would be a no-op. The hash family keeps the same
  * integer-valued weights in [−3, 3] (exactly double-representable, same
  * ordered-fold determinism) with no structural period; plane
  * distinctness and genuine bucket refinement are spec-asserted.
  *
  * Null-element semantics (defined, not incidental): any null element
  * nulls every plane's fold — `null > 0` is false — so ALL bits clear and
  * the bucket is 0, exactly what the interpreted aggregate/zip_with
  * formulation produces. Implemented identically in eval and codegen. */
case class LshBits(child: Expression, bits: Expression)
    extends BinaryExpression {

  override def left: Expression = child
  override def right: Expression = bits

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    val childOk = child.dataType match {
      case ArrayType(FloatType | DoubleType, _) => true
      case _ => false
    }
    if (!childOk)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires an array<float> or array<double> first argument")
    else if (bits.dataType != IntegerType || !bits.foldable)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a foldable integer bit-count")
    else if (bits.eval() == null || nBits < 1 || nBits > 30)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"$prettyName bit-count must be in [1, 30]")
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "graft_lsh"

  private lazy val nBits: Int = bits.eval().asInstanceOf[Int]

  private lazy val elemIsFloat = child.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val n = x.numElements()
    var d0 = 0
    while (d0 < n) {
      if (x.isNullAt(d0)) return 0 // null element poisons every plane fold
      d0 += 1
    }
    var bucket = 0
    var p = 0
    while (p < nBits) {
      var acc = 0.0
      var d = 0
      while (d < n) {
        val v = if (elemIsFloat) x.getFloat(d).toDouble else x.getDouble(d)
        val w = if (p < 8) (p * 97 + d * 13) % 7 - 3
                else (((p * 2654435761L + d * 40503L) >>> 16) % 7L).toInt - 3
        acc += v * w
        d += 1
      }
      if (acc > 0) bucket |= 1 << p
      p += 1
    }
    bucket
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, _) => {
      val get = if (elemIsFloat) "getFloat" else "getDouble"
      val n = ctx.freshName("n")
      val b = ctx.freshName("bucket")
      val p = ctx.freshName("p")
      val d = ctx.freshName("d")
      val acc = ctx.freshName("acc")
      val w = ctx.freshName("w")
      val hasNull = ctx.freshName("hasNull")
      s"""
         |int $n = $a.numElements();
         |boolean $hasNull = false;
         |for (int $d = 0; $d < $n && !$hasNull; $d++) {
         |  $hasNull = $a.isNullAt($d);
         |}
         |int $b = 0;
         |if (!$hasNull) {
         |  for (int $p = 0; $p < $nBits; $p++) {
         |    double $acc = 0.0;
         |    for (int $d = 0; $d < $n; $d++) {
         |      int $w = $p < 8
         |        ? ($p * 97 + $d * 13) % 7 - 3
         |        : (int) ((($p * 2654435761L + $d * 40503L) >>> 16) % 7L) - 3;
         |      $acc += (double) $a.$get($d) * (double) $w;
         |    }
         |    if ($acc > 0) $b |= 1 << $p;
         |  }
         |}
         |${ev.value} = $b;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(l: Expression, r: Expression)
      : Expression = copy(child = l, bits = r)
}

/** SparkSessionExtensions installer: makes graft_dot / graft_l2norm
  * available to SQL and `expr(...)` in every session built via
  * graft.Sessions. */
object GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("graft_dot"),
      new ExpressionInfo(classOf[DotProductD].getName, "graft_dot"),
      (exprs: Seq[Expression]) => DotProductD(exprs(0), exprs(1))))
    ext.injectFunction((
      FunctionIdentifier("graft_l2norm"),
      new ExpressionInfo(classOf[L2NormD].getName, "graft_l2norm"),
      (exprs: Seq[Expression]) => L2NormD(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_h60"),
      new ExpressionInfo(classOf[H60Expr].getName, "graft_h60"),
      (exprs: Seq[Expression]) => H60Expr(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_simhash"),
      new ExpressionInfo(classOf[SimhashExpr].getName, "graft_simhash"),
      (exprs: Seq[Expression]) => SimhashExpr(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_minhash"),
      new ExpressionInfo(classOf[MinhashExpr].getName, "graft_minhash"),
      (exprs: Seq[Expression]) => MinhashExpr(exprs(0), exprs(1), exprs(2))))
    ext.injectFunction((
      FunctionIdentifier("graft_lsh"),
      new ExpressionInfo(classOf[LshBits].getName, "graft_lsh"),
      (exprs: Seq[Expression]) => LshBits(exprs(0), exprs(1))))
    // Fixed-granularity sugar kept for the oracle-pinned 8-bit call sites.
    ext.injectFunction((
      FunctionIdentifier("graft_lsh8"),
      new ExpressionInfo(classOf[LshBits].getName, "graft_lsh8"),
      (exprs: Seq[Expression]) => LshBits(exprs.head, Literal(8))))
    ext.injectFunction((
      FunctionIdentifier("graft_nfc"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
      (exprs: Seq[Expression]) => NfcNormalize(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_word_stats"),
      new ExpressionInfo(classOf[WordStatsExpr].getName, "graft_word_stats"),
      (exprs: Seq[Expression]) => WordStats.build(exprs)))
    ext.injectFunction((
      FunctionIdentifier("graft_collapse_ws"),
      new ExpressionInfo(classOf[CollapseWhitespace].getName, "graft_collapse_ws"),
      (exprs: Seq[Expression]) => CollapseWhitespace(exprs.head)))
    ext.injectFunction((
      FunctionIdentifier("graft_zorder"),
      new ExpressionInfo(classOf[ZOrderExpr].getName, "graft_zorder"),
      (exprs: Seq[Expression]) => ZOrderExpr(exprs(0), exprs(1))))
    // Whole-operator extension: native backward as-of join (graft.plans),
    // plus the optimizer rule that lets Catalyst push left-side filters
    // through it down to the scan.
    ext.injectPlannerStrategy(_ => graft.plans.GraftStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PushFilterThroughAsOfJoin)
  }
}
