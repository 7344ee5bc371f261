package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical.{BinaryNode, LogicalPlan}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, Partitioning}
import org.apache.spark.sql.execution.{BinaryExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.metric.SQLMetrics

/** Native backward as-of join — the one whole-operator semantic in this
  * engine that Spark's built-in operators genuinely cannot express as a
  * single relational node (SPARK SQL has no AS OF join; pandas-on-Spark
  * emulates merge_asof with a union + window trick, as does our q39).
  *
  * Semantics: for each left row, attach the LAST right row with an equal
  * key whose order tuple is strictly below the left row's order tuple
  * (lexicographic over the order expressions); null-extended when no such
  * row exists. Null keys group like values (match each other) — filter
  * them upstream for SQL NULL semantics.
  *
  * Physical execution: both sides hash-partitioned on the key (co-partitioned
  * exactly like a sort-merge join) and sorted by (key, order); one streaming
  * merge pass per partition with O(1) state — no union of the two relations,
  * no window buffering, no pair blowup. At 100 TB that is one shuffle per
  * side and a linear scan, the same cost envelope as a sort-merge join.
  *
  * This is the SURVEY §2.4 "absent join families" extension implemented at
  * preference tier (c): LogicalPlan + SparkStrategy + SparkPlan, injected
  * via SparkSessionExtensions (graft.functions.GraftExtensions).
  */
case class AsOfJoin(
    left: LogicalPlan,
    right: LogicalPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftOrder: Seq[Expression],
    rightOrder: Seq[Expression]) extends BinaryNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  override protected def withNewChildrenInternal(
      newLeft: LogicalPlan, newRight: LogicalPlan): AsOfJoin =
    copy(left = newLeft, right = newRight)
}

case class AsOfJoinExec(
    left: SparkPlan,
    right: SparkPlan,
    leftKeys: Seq[Expression],
    rightKeys: Seq[Expression],
    leftOrder: Seq[Expression],
    rightOrder: Seq[Expression]) extends BinaryExecNode {

  override def output: Seq[Attribute] =
    left.output ++ right.output.map(_.withNullability(true))

  // Every left row is output once; matched ones found an earlier right row.
  override lazy val metrics = Map(
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "numMatchedRows" -> SQLMetrics.createMetric(sparkContext, "number of matched rows"))

  // Co-partitioned like a sort-merge join: EnsureRequirements aligns the two
  // hash exchanges (same keys positions, same partition count), so equal
  // keys land in the same zipped partition.
  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(leftKeys) :: ClusteredDistribution(rightKeys) :: Nil

  private def sortOrdersOf(keys: Seq[Expression], order: Seq[Expression]): Seq[SortOrder] =
    (keys ++ order).map(SortOrder(_, Ascending))

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(sortOrdersOf(leftKeys, leftOrder), sortOrdersOf(rightKeys, rightOrder))

  // The merge pass streams left rows through unchanged, so the left child's
  // partitioning AND ordering survive — downstream ops can reuse both.
  override def outputPartitioning: Partitioning = left.outputPartitioning
  override def outputOrdering: Seq[SortOrder] = sortOrdersOf(leftKeys, leftOrder)

  protected override def doExecute(): RDD[InternalRow] = {
    val lOut = left.output
    val rOut = right.output
    val out = output
    val (lk, rk, lo, ro) = (leftKeys, rightKeys, leftOrder, rightOrder)
    val numOutputRows = longMetric("numOutputRows")
    val numMatchedRows = longMetric("numMatchedRows")
    left.execute().zipPartitions(right.execute()) { (lIter, rIter) =>
      val lKeyProj = UnsafeProjection.create(lk, lOut)
      val rKeyProj = UnsafeProjection.create(rk, rOut)
      val lOrdProj = UnsafeProjection.create(lo, lOut)
      val rOrdProj = UnsafeProjection.create(ro, rOut)
      val keyOrd = RowOrdering.createNaturalAscendingOrdering(lk.map(_.dataType))
      val ordOrd = RowOrdering.createNaturalAscendingOrdering(lo.map(_.dataType))
      // Bind against nullability-ADJUSTED right attributes: binding to the
      // child's non-nullable originals would skip the null check and read
      // the null-extended row's fields as zeros.
      val resultProj = UnsafeProjection.create(out, lOut ++ rOut.map(_.withNullability(true)))
      val nullRight = new GenericInternalRow(rOut.size)
      val joined = new JoinedRow
      val rBuf = rIter.buffered
      // O(1) merge state: the last right row whose key equalled the left
      // key at consumption time (copied — projection rows are reused).
      var lastMatch: InternalRow = null
      var lastMatchKey: InternalRow = null

      lIter.map { lRow =>
        val lKey = lKeyProj(lRow)
        val lOrd = lOrdProj(lRow)
        var scanning = true
        while (scanning && rBuf.hasNext) {
          val kCmp = keyOrd.compare(rKeyProj(rBuf.head), lKey)
          if (kCmp < 0 || (kCmp == 0 && ordOrd.compare(rOrdProj(rBuf.head), lOrd) < 0)) {
            val consumed = rBuf.next()
            if (kCmp == 0) {
              lastMatch = consumed.copy()
              lastMatchKey = lKey.copy()
            }
            // right rows with key < left key can never match a later left
            // row (left keys ascend) — consumed and dropped.
          } else scanning = false
        }
        val m =
          if (lastMatch != null && keyOrd.compare(lastMatchKey, lKey) == 0) {
            numMatchedRows += 1
            lastMatch
          } else nullRight
        numOutputRows += 1
        resultProj(joined(lRow, m))
      }
    }
  }

  override protected def withNewChildrenInternal(
      newLeft: SparkPlan, newRight: SparkPlan): AsOfJoinExec =
    copy(left = newLeft, right = newRight)
}

/** Plans [[AsOfJoin]] into [[AsOfJoinExec]]; injected via
  * SparkSessionExtensions in graft.functions.GraftExtensions. */
object GraftStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case AsOfJoin(l, r, lk, rk, lo, ro) =>
      AsOfJoinExec(planLater(l), planLater(r), lk, rk, lo, ro) :: Nil
    case _ => Nil
  }
}

/** Optimizer rule completing the custom operator: Catalyst cannot push
  * predicates through a node it does not know, so without this a
  * `filter` after an as-of join reads both inputs in full. Left-side
  * conjuncts are safe to push — as-of output rows are exactly the left
  * rows (1:1, null-extended right), so filtering left input ≡ filtering
  * output on left columns. Right-side conjuncts are NOT pushed: they see
  * the matched row, and filtering the right input would change which row
  * matches. Injected via injectOptimizerRule (operatorOptimization batch),
  * so pushed predicates keep flowing down to the parquet scan. */
object PushFilterThroughAsOfJoin
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
    with PredicateHelper {
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, j: AsOfJoin) =>
      val (leftOnly, rest) = splitConjunctivePredicates(cond)
        .partition(p => p.deterministic && p.references.subsetOf(j.left.outputSet))
      if (leftOnly.isEmpty) f
      else {
        val pushed = j.copy(left = Filter(leftOnly.reduce(And), j.left))
        rest.reduceOption(And).map(Filter(_, pushed)).getOrElse(pushed)
      }
  }
}

/** DataFrame-level API for the native as-of join. */
object AsOf {

  /** Backward as-of join: every `left` row joined to the last `right` row
    * with equal `keys` and order tuple strictly below the left's
    * (lexicographic on the order columns); right columns null when no match.
    * The caller must alias right-side columns to names/exprIds distinct from
    * the left (e.g. via select(col(...).as(...))) — as with self-joins.
    */
  def join(left: org.apache.spark.sql.DataFrame, right: org.apache.spark.sql.DataFrame,
      keys: Seq[(String, String)], order: Seq[(String, String)])
      : org.apache.spark.sql.DataFrame = {
    val lPlan = left.queryExecution.analyzed
    val rPlan = right.queryExecution.analyzed
    def attr(p: LogicalPlan, n: String): Attribute =
      p.output.find(_.name == n).getOrElse(
        throw new IllegalArgumentException(
          s"asof join: column $n not in [${p.output.map(_.name).mkString(", ")}]"))
    val lk = keys.map(k => attr(lPlan, k._1))
    val rk = keys.map(k => attr(rPlan, k._2))
    val lo = order.map(o => attr(lPlan, o._1))
    val ro = order.map(o => attr(rPlan, o._2))
    // Type equality is load-bearing, not cosmetic: HashPartitioning hashes
    // the same logical value differently per type (int 5 ≠ long 5), which
    // silently breaks co-partitioning, and the left-typed RowOrdering is
    // applied to right-projected rows. Mismatches must fail loudly here.
    def requireSameTypes(l: Seq[Attribute], r: Seq[Attribute], what: String): Unit =
      l.zip(r).foreach { case (a, b) =>
        require(a.dataType == b.dataType,
          s"asof join: $what type mismatch — left ${a.name}: ${a.dataType.sql} " +
            s"vs right ${b.name}: ${b.dataType.sql}; cast one side explicitly")
      }
    requireSameTypes(lk, rk, "key")
    requireSameTypes(lo, ro, "order")
    val node = AsOfJoin(lPlan, rPlan, lk, rk, lo, ro)
    org.apache.spark.sql.graftbridge.GraftSqlBridge.ofRows(left.sparkSession, node)
  }
}
