package graft.plans

import graft.{SparkEntry, SparkSpec}
import org.apache.spark.sql.execution.{CollectLimitExec, ExpandExec, GenerateExec, GlobalLimitExec, LocalTableScanExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

object PlanHygiene {
  /** Full physical-plan traversal that DESCENDS INTO AdaptiveSparkPlanExec
    * and materialized query stages (whose inner plan is a field, not a
    * child — a plain `.collect` sees nothing under AQE and makes plan
    * assertions vacuous). */
  def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => a +: allNodes(a.executedPlan)
    case q: QueryStageExec => q +: allNodes(q.plan)
    case _ => p +: p.children.flatMap(allNodes)
  }

  def unpartitionedWindows(df: org.apache.spark.sql.DataFrame): Seq[WindowExec] =
    allNodes(df.queryExecution.executedPlan).collect {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }

  /** True when a plan subtree is provably OUTPUT-BOUNDED — at most a
    * plan-time-fixed number of rows flows out of its ROOT regardless of
    * input size. Structurally recursive, NOT an `exists` over all nodes:
    * a side that merely CONTAINS a LocalTableScan somewhere (a literal
    * lookup joined to a data-proportional table) is unbounded at its
    * root and must not be excused.
    *
    * Bounded roots: a groupless aggregate (≤1 row — the scalar-crossJoin
    * idiom) and a LocalTableScan (literal relation, row count fixed at
    * plan-build time). Interior nodes are bounded iff ALL children are
    * (joins/unions of fixed-size inputs stay fixed-size), EXCEPT
    * row-expanding nodes (Generate/Expand): exploding a 1-row aggregate
    * holding a collect_list is data-proportional again. Any other leaf
    * (file/RDD scan) is data-proportional. */
  private def isScalarSubtree(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec => a.groupingExpressions.isEmpty
    case _: LocalTableScanExec => true
    // A LIMIT-1 global limit is a scalar no matter what flows beneath —
    // the same admission rule withScalar's maxRows check applies to its
    // scalar sides (q102's top-merge). The limit VALUE is checked: a
    // broadcast cross join against limit(100000) is a plan-time-fixed but
    // very real 10^5 row multiplier and must not be excused.
    // LocalLimitExec deliberately NOT included even at 1: it bounds rows
    // PER PARTITION, and partition count is data-proportional.
    // >= 0 guard: Spark encodes OFFSET-only plans as limit = -1, whose
    // output is data-proportional and must not be excused.
    case g: GlobalLimitExec => g.limit >= 0 && g.limit <= 1
    case t: TakeOrderedAndProjectExec => t.limit >= 0 && t.limit <= 1
    case c: CollectLimitExec => c.limit >= 0 && c.limit <= 1
    case a: AdaptiveSparkPlanExec => isScalarSubtree(a.executedPlan)
    case q: QueryStageExec => isScalarSubtree(q.plan)
    case r: ReusedExchangeExec => isScalarSubtree(r.child)
    case _: GenerateExec | _: ExpandExec => false
    case _ if p.children.nonEmpty => p.children.forall(isScalarSubtree)
    case _ => false
  }

  /** [[isScalarSubtree]] generalized for COLLECT sites: the root provably
    * emits ≤ maxRows at plan-build time — same structural rules, limits
    * admitted up to maxRows instead of 1. This is the plan-shape
    * contract behind every `collect-bound:` audit whose bound is a
    * literal limit (BoundedCollectSpec drives it on the audited shapes
    * and on offenders). */
  def isCollectBounded(df: org.apache.spark.sql.DataFrame, maxRows: Long): Boolean =
    collectBounded(df.queryExecution.executedPlan, maxRows)
  private def collectBounded(p: SparkPlan, maxRows: Long): Boolean = p match {
    case a: BaseAggregateExec => a.groupingExpressions.isEmpty
    case _: LocalTableScanExec => true
    case g: GlobalLimitExec => g.limit >= 0 && g.limit <= maxRows
    case t: TakeOrderedAndProjectExec => t.limit >= 0 && t.limit <= maxRows
    case c: CollectLimitExec => c.limit >= 0 && c.limit <= maxRows
    case a: AdaptiveSparkPlanExec => collectBounded(a.executedPlan, maxRows)
    case q: QueryStageExec => collectBounded(q.plan, maxRows)
    case r: ReusedExchangeExec => collectBounded(r.child, maxRows)
    case _: GenerateExec | _: ExpandExec => false
    case _ if p.children.nonEmpty => p.children.forall(collectBounded(_, maxRows))
    case _ => false
  }

  /** Windows over RAW (non-aggregated) rows carrying fewer than two
    * partition expressions — the q92/q93 hazard class: partitioned by a
    * fixed-cardinality column alone, one task sorts corpus/|key| rows at
    * scale, invisible to [[unpartitionedWindows]] because the window IS
    * partitioned. A window whose subtree contains a grouped aggregate is
    * the SUMMARY level of a two-level decomposition and is excused: its
    * input rows are chunk/bucket summaries, not corpus rows. */
  def oneLevelRawWindows(df: org.apache.spark.sql.DataFrame): Seq[WindowExec] =
    allNodes(df.queryExecution.executedPlan).collect {
      case w: WindowExec if w.partitionSpec.size < 2 &&
        !allNodes(w.child).exists {
          case a: BaseAggregateExec => a.groupingExpressions.nonEmpty
          case _ => false
        } => w
    }

  /** Cartesian/broadcast-nested-loop joins whose BOTH sides are
    * data-proportional — the plans that cannot survive a 100× scale-up.
    * A side containing a groupless aggregate is bounded (≤1 row), which
    * excuses the scalar-attach idiom but nothing else. */
  def unboundedLoopJoins(df: org.apache.spark.sql.DataFrame): Seq[SparkPlan] =
    allNodes(df.queryExecution.executedPlan).collect {
      case j: CartesianProductExec
        if !isScalarSubtree(j.left) && !isScalarSubtree(j.right) => j
      case j: BroadcastNestedLoopJoinExec
        if !isScalarSubtree(j.left) && !isScalarSubtree(j.right) => j
    }
}

/** Fleet-wide physical-plan hygiene: no query may introduce a
  * single-partition window over data-proportional input. The allowlist
  * names the queries whose unpartitioned windows are over provably
  * BOUNDED aggregates (output-proportional, not data-proportional) —
  * adding a new query with a global window fails here first. */
class PlanHygieneSpec extends SparkSpec {

  /** Unpartitioned windows over bounded inputs, each justified:
    *  - q08: LAG over the per-MONTH aggregate (rows = months in the data's
    *    calendar span);
    *  - q09: surrogate keys for a 5-row distinct dim (the reference's
    *    ROW_NUMBER; the warehouse's keys are Star's row-local xxhash64 of
    *    the natural key, which needs no window). */
  private val boundedAllowlist = Set("q08_window_lag_trend", "q09_surrogate_keys")

  test("no query plan has an unpartitioned window outside the bounded allowlist") {
    val sf = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      if (PlanHygiene.unpartitionedWindows(fn(spark, sf)).nonEmpty &&
        !boundedAllowlist.contains(name)) Some(name)
      else None
    }
    assert(offenders.isEmpty,
      s"queries with data-proportional unpartitioned windows: $offenders")
    // And the allowlist itself stays minimal — entries that stop matching
    // should be removed.
    boundedAllowlist.foreach { name =>
      assert(PlanHygiene.unpartitionedWindows(SparkEntry.queries(name)(spark, sf)).nonEmpty,
        s"$name no longer has an unpartitioned window — drop it from the allowlist")
    }
  }

  /** VERDICT r8 #1 pinned structurally: q92/q93's windows over RAW corpus
    * rows must keep the derived second partition key (chunk = doc_id div S,
    * bucket = ticket prefix) — partitioning by `source` alone puts
    * corpus/|sources| rows in one task's sort at scale, which the generic
    * unpartitioned-window gate cannot see because the window IS
    * partitioned. A window is the SUMMARY level (allowed a 1-expression
    * spec) iff a grouped aggregate sits beneath it — its input is chunk/
    * bucket summaries, ~√n per source, not documents. */
  test("q92/q93 raw-corpus windows keep the two-level decomposition") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.001"
    // the gate FIRES on the round-8 shape it exists to prevent: a raw-row
    // window partitioned by the fixed-cardinality source column alone
    val docs = graft.Tables(spark, sf, "documents")
    val oneLevel = docs.withColumn("rnk",
      row_number().over(Window.partitionBy(col("source")).orderBy(col("doc_id"))))
    assert(PlanHygiene.oneLevelRawWindows(oneLevel).nonEmpty,
      "a raw-row window partitioned by source alone must be flagged")
    // ...and stays quiet on a summary-level window over a grouped aggregate
    val summary = docs.groupBy(col("source")).agg(count(lit(1)).as("n"))
      .withColumn("off", sum(col("n")).over(
        Window.partitionBy(col("source")).orderBy(col("n"))))
    assert(PlanHygiene.oneLevelRawWindows(summary).isEmpty,
      "a window over chunk summaries must stay excused")
    Seq("q92_sequence_packing", "q93_temperature_sample").foreach { name =>
      val df = SparkEntry.queries(name)(spark, sf)
      val windows = PlanHygiene.allNodes(df.queryExecution.executedPlan)
        .collect { case w: WindowExec => w }
      assert(windows.nonEmpty, s"$name: expected window operators")
      val offenders = PlanHygiene.oneLevelRawWindows(df)
      assert(offenders.isEmpty,
        s"$name: a window over raw corpus rows is partitioned by only " +
          offenders.map(_.partitionSpec.map(_.sql).mkString(", ")).mkString("; ") +
          " — the two-level decomposition (source + derived chunk/bucket key)" +
          " is gone")
    }
  }

  /** Queries allowed a loop join over non-scalar inputs, each justified —
    * entries must be BOUNDED by construction, never data-proportional:
    *  - q32: brute-force ANN BASELINE. The broadcast side is the query
    *    set `vec_id < 8` — ≤8 rows at ANY scale factor by id predicate —
    *    so the BNL scans 8·n pairs: linear in data, the intended exact
    *    baseline the LSH (q33) / IVF (q52) paths are measured against.
    *  - q85: quantized rerank over the same ≤8-row broadcast query set;
    *    identical 8·n shape.
    *  - q240/q241: PQ ADC search (and its recall card, which also embeds
    *    the q32 exact baseline) — the same ≤8-row broadcast query set
    *    over the codes table; 8·n lookup-adds, linear in data. A real
    *    deployment pre-filters candidates through the IVF cells (q52)
    *    before ADC; the oracled query keeps the exhaustive 8·n shape so
    *    recall is measured against the full corpus, like q32/q85.
    *  - q244/q245/q246/q251: the IVFADC and graph-ANN recall cards EMBED
    *    the q32 exact baseline (broadcast ≤8-row query set, non-equi ≠
    *    join) as the ground truth their recall is measured against; the
    *    approximate paths under audit (ADC probe, greedy hops over the
    *    persisted gedges) are pure equi-joins — only the baseline is a
    *    loop join, same 8·n shape. (q248/q249 embed the same baseline
    *    but localCheckpoint it, so their returned plans carry only the
    *    checkpoint scan.) */
  private val loopJoinAllowlist: Set[String] =
    Set("q32_ann_bruteforce", "q85_ann_quantized",
      "q240_pq_ann", "q241_pq_recall_card",
      "q244_ivfadc_recall_card", "q245_graph_ann_trace",
      "q246_graph_ann_card", "q251_graph_index_card")

  test("the loop-join gate FIRES: synthetic all-pairs plans are flagged, bounded ones excused") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val a = graft.Tables(spark, sf, "nation")
    val b = graft.Tables(spark, sf, "customer")
    // a genuine all-pairs cross join over two data-proportional scans
    assert(PlanHygiene.unboundedLoopJoins(a.crossJoin(b)).nonEmpty,
      "a data-proportional cross join must be flagged")
    // the ADVICE r7 regression: a literal lookup joined INTO one side must
    // not excuse the cross join — the side's root is still data-proportional
    // (the old exists-over-all-nodes detector was blind to this)
    val lookup = broadcast(Seq((0L, "zero"), (1L, "one")).toDF("k", "v"))
    val sideWithLiteral = b.join(lookup, b("c_nationkey") === lookup("k"))
    assert(PlanHygiene.unboundedLoopJoins(a.crossJoin(sideWithLiteral)).nonEmpty,
      "a LocalTableScan buried inside a data-proportional side must not excuse it")
    // exploding a 1-row collect_list aggregate is data-proportional again
    val exploded = b.agg(collect_list("c_name").as("xs"))
      .select(explode(col("xs")).as("x"))
    assert(PlanHygiene.unboundedLoopJoins(a.crossJoin(broadcast(exploded))).nonEmpty,
      "Generate over a bounded aggregate must not count as bounded")
    // the two legitimate bounded shapes stay excused: scalar-attach and
    // a literal lookup as the WHOLE side
    val scalarAttach = graft.Scalars.withScalar(a, b.agg(sum("c_acctbal").as("s")))
    assert(PlanHygiene.unboundedLoopJoins(scalarAttach).isEmpty,
      "the groupless-aggregate scalar-attach idiom must stay excused")
    val literalSide = a.crossJoin(broadcast(Seq(("lo", 0), ("hi", 1)).toDF("band", "o")))
    assert(PlanHygiene.unboundedLoopJoins(literalSide).isEmpty,
      "a literal relation as the whole side is plan-time bounded")
    // a LIMIT-1 ordered winner as the scalar side (q102's top-merge shape)
    val limitWinner = graft.Scalars.withScalar(a,
      b.orderBy(col("c_acctbal").desc).limit(1).select(col("c_name").as("top")))
    assert(PlanHygiene.unboundedLoopJoins(limitWinner).isEmpty,
      "a global-limit side is plan-time bounded")
  }

  test("no query plan has a cartesian/BNL join over data-proportional inputs") {
    val sf = "/root/testdata/sf0.001"
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      val bad = PlanHygiene.unboundedLoopJoins(fn(spark, sf))
      if (bad.nonEmpty && !loopJoinAllowlist.contains(name))
        Some(s"$name: ${bad.map(_.nodeName).distinct.mkString(",")}")
      else None
    }
    assert(offenders.isEmpty,
      s"queries with data-proportional loop joins (all-pairs plans): $offenders")
    loopJoinAllowlist.foreach { name =>
      assert(PlanHygiene.unboundedLoopJoins(SparkEntry.queries(name)(spark, sf)).nonEmpty,
        s"$name no longer has a loop join — drop it from the allowlist")
    }
  }

  test("enrichOnly scans the text once: no regex or split in its plan, one lower(text)") {
    import org.apache.spark.sql.catalyst.expressions._
    import graft.domain.{Fixtures, Pipeline, Schemas}
    val base = graft.Scratch.fresh("plan")
    Fixtures.reviews(spark).write.parquet(s"$base/bronze")
    val plan = Pipeline.enrichOnly(spark.read.schema(Schemas.review).parquet(s"$base/bronze"))
      .queryExecution.optimizedPlan
    val exprs = plan.flatMap(_.expressions).flatMap(_.collect { case e => e })
    val scans = exprs.collect {
      case e @ (_: RegExpCount | _: RegExpExtractAll | _: RLike | _: RegExpReplace |
          _: StringSplit) => e
    }
    assert(scans.isEmpty, plan.toString)
    val lowers = exprs.collect { case l: Lower => l }
    assert(lowers.size === 1 && lowers.head.child.references.map(_.name).toSet === Set("text"),
      plan.toString)
    assert(exprs.count(_.isInstanceOf[graft.functions.WordStatsExpr]) === 1, plan.toString)
  }
}
