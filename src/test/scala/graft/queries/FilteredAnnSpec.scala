package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** Filtered ANN over the persisted IVFADC index (q249): top-3 under an
  * attribute predicate, priced as pre-filter over the BAKED codes-row
  * attribute (round 16: zero lookups, no join in the executed plan) vs
  * post-filter against an external attribute table (the retrofit shape:
  * attribute-check only the unfiltered top-overfetch). Pinned three
  * ways:
  *
  *  1. THEOREMS on the real corpus — every post-filter survivor is also
  *     a pre-filter survivor (a candidate outside the unfiltered top-9
  *     can never outrank one inside it, so the two arms' top-3 cuts see
  *     identical beaters), hence kept/recall dominance; the baked pre
  *     arm pays ZERO attribute lookups while the post arm pays its
  *     overfetch bill; both arms price the same probe (equal
  *     scored_pairs).
  *  2. A PLANTED SHORTFALL — an engineered corpus whose unfiltered
  *     top-9 is saturated by wrong-label near-neighbors while the three
  *     matching-label vectors sit just outside it: post-filter keeps
  *     nothing (recall 0), pre-filter recovers all three (recall 1).
  *     Every planted vector is a PQ seed, so its residual is a codeword
  *     and its ADC score is its true cosine — the ranking the fixture
  *     engineers is the ranking the probe executes.
  *  3. BAKED ≡ JOIN — the baked-label filtered candidates are
  *     bit-identical to the explicit attribute-join formulation, and
  *     the captured executed plans of the baked arm scan ONLY index
  *     tables (no attribute-source file scan at all).
  */
class FilteredAnnSpec extends SparkSpec {

  private def q249(d: String): Map[String, Row] =
    VectorOps.all.find(_.name == "q249_filtered_ann").get.fn(spark, d)
      .collect().map(r => r.getString(0) -> r).toMap

  test("real corpus: dominance theorems and shared probe pricing") {
    val card = q249("/root/testdata/sf0.001")
    assert(card.keySet === Set("pre_filter", "post_filter"))
    val pre = card("pre_filter"); val post = card("post_filter")
    assert(pre.getLong(1) === post.getLong(1) && pre.getLong(1) > 0L,
      "same query split")
    assert(pre.getDouble(2) === post.getDouble(2), "same selectivity")
    assert(pre.getDouble(2) > 0.0 && pre.getDouble(2) < 1.0,
      s"label predicate must be selective: ${pre.getDouble(2)}")
    assert(pre.getLong(3) === post.getLong(3), "same scored candidates")
    assert(pre.getLong(4) === 0L,
      s"the baked pre-filter arm pays zero attribute lookups: $pre")
    assert(post.getLong(4) > 0L,
      s"the external post-filter arm pays its overfetch bill: $post")
    assert(post.getLong(5) <= pre.getLong(5),
      s"post-filter survivors are a subset of pre-filter's: $post vs $pre")
    assert(post.getDouble(6) <= pre.getDouble(6) + 1e-12,
      s"post-filter recall can never exceed pre-filter: $post vs $pre")
    assert(pre.getLong(5) <= 3L * pre.getLong(1), "top-3 cut bound")
  }

  /** 16 centroid seeds (the first 16 non-multiple-of-5 ids → e0..e15,
    * label 0), nine wrong-label vectors at 10°–14° off e0, three
    * label-1 vectors at 25°–27°, and the single query id 0 = e0. The
    * unfiltered top-9 is {seed e0 at cos 1} ∪ eight of the nine
    * wrong-label pack — zero matching rows — while all three matching
    * vectors are ADC-scored candidates in the probed cell. */
  test("planted shortfall: post-filter keeps nothing, pre-filter recovers all") {
    import spark.implicits._
    val dim = 16
    def e(i: Int): Seq[Double] = Seq.tabulate(dim)(j => if (j == i) 1.0 else 0.0)
    def off(deg: Double): Seq[Double] = {
      val rad = math.toRadians(deg)
      Seq.tabulate(dim)(j =>
        if (j == 0) math.cos(rad) else if (j == 1) math.sin(rad) else 0.0)
    }
    val seedIds = Seq(1L, 2L, 3L, 4L, 6L, 7L, 8L, 9L, 11L, 12L, 13L, 14L,
      16L, 17L, 18L, 19L)
    val wrongIds = Seq(21L, 22L, 23L, 24L, 26L, 27L, 28L, 29L, 31L)
    val matchIds = Seq(32L, 33L, 34L)
    val rows: Seq[(Long, Seq[Double], Int)] =
      ((0L, e(0), 0) +: seedIds.zipWithIndex.map { case (id, i) => (id, e(i), 0) }) ++
        wrongIds.zipWithIndex.map { case (id, i) => (id, off(10.0 + 0.5 * i), 0) } ++
        matchIds.zipWithIndex.map { case (id, i) => (id, off(25.0 + i), 1) }
    val dir = graft.Scratch.fresh("fann")
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val card = q249(dir)
    val pre = card("pre_filter"); val post = card("post_filter")
    assert(pre.getLong(1) === 1L, s"fixture has exactly one query: $pre")
    assert(post.getLong(5) === 0L,
      s"the saturated top-9 must hold no matching row: $post")
    assert(post.getDouble(6) === 0.0, s"post-filter recall must be 0: $post")
    assert(pre.getLong(5) === 3L,
      s"pre-filter must keep all three matching candidates: $pre")
    assert(pre.getDouble(6) === 1.0, s"pre-filter recall must be 1: $pre")
    assert(pre.getLong(4) === 0L && post.getLong(4) > 0L,
      s"the shortfall buys nothing once the label is baked: $post vs $pre")
  }

  /** Baked ≡ join, and the baked arm's executed plans never touch the
    * attribute source: a fixture index built WITH attrs is probed by an
    * IN-MEMORY batch (so any file scan in the captured plans is the
    * index's own), filtered two ways — off the baked column and through
    * an explicit attribute join — and the candidate sets must match
    * bit-for-bit while the baked arm's plans contain zero scans of the
    * fixture's embeddings parquet. */
  test("baked label: bit-parity with the join formulation, no attribute scan") {
    import spark.implicits._
    val dim = 16
    def vec(i: Int): Seq[Double] = {
      val t = i.toDouble / 9.0
      Seq.tabulate(dim)(j =>
        math.cos((j + 1) * t) / math.sqrt(dim.toDouble))
    }
    val rows = (0 until 40).map(i => (i.toLong, vec(i), i % 7 % 2))
    val dir = graft.Scratch.fresh("bake")
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val idx = s"$dir/index"
    val base = spark.read.parquet(s"$dir/embeddings.parquet")
    VectorOps.buildSemIndex(spark,
      base.select(col("vec_id"), col("embedding")), idx)
    VectorOps.addPqToSemIndex(spark, idx, lloydIters = 1,
      attrs = Some(base.select(col("vec_id"), col("label"))))

    val batch = Seq((1000L, vec(3).map(_ * 2.0)), (1001L, vec(17)))
      .toDF("vec_id", "embedding").localCheckpoint(true) // in-memory batch
    val plans = new scala.collection.mutable.ArrayBuffer[
      org.apache.spark.sql.execution.SparkPlan]
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          d: Long): Unit =
        plans.synchronized { plans += qe.executedPlan; () }
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    val baked =
      try {
        val r = VectorOps.ivfAdcScoredCands(spark, batch, idx, 2)
          .filter(col("label") === 1)
          .select(col("query_id"), col("neighbor_id"), col("adc_cos"))
          .collect().map(_.toSeq).toSet
        var last = -1; var stable = 0
        while (stable < 3) {
          Thread.sleep(200)
          val n = plans.synchronized(plans.size)
          if (n == last) stable += 1 else { stable = 0; last = n }
        }
        r
      } finally spark.listenerManager.unregister(l)
    // AQE-aware scan harvest (round 19): AdaptiveSparkPlanExec and the
    // materialized QueryStageExec wrappers are LEAF nodes, so a flat
    // collect never sees the probe's own file scans — before round 19
    // this assertion was incidentally satisfied by the PQ/centroid
    // METADATA collects' simple non-AQE plans, which the session-level
    // metadata caches have since removed. Recurse through the adaptive
    // wrappers so the assertion checks what it always meant to: the
    // executed PROBE scans index tables and nothing else.
    def scansOf(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
      p.collect {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          scansOf(a.executedPlan)
        case qs: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          scansOf(qs.plan)
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }.flatten
    val scans = plans.synchronized(plans.toVector).flatMap(scansOf)
    assert(scans.nonEmpty, "the probe must scan the index tables")
    assert(!scans.exists(_.contains("embeddings.parquet")),
      s"the baked arm must never scan the attribute source: $scans")

    val joined = VectorOps.ivfAdcScoredCands(spark, batch, idx, 2)
      .drop("label")
      .join(base.select(col("vec_id").as("neighbor_id"), col("label")),
        Seq("neighbor_id"))
      .filter(col("label") === 1)
      .select(col("query_id"), col("neighbor_id"), col("adc_cos"))
      .collect().map(_.toSeq).toSet
    assert(baked === joined,
      "baked-label filtering must be bit-identical to the join formulation")
    assert(baked.nonEmpty, "fixture must produce matching candidates")
  }
}
