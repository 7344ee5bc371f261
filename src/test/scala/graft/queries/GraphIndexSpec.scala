package graft.queries

import graft.SparkSpec
import graft.operators.IndexStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Lifecycle contract of the PERSISTED graph-ANN index (q250's engine) —
  * the gedges artifact obeys the same append/tombstone/compaction
  * discipline as the float store and the IVFADC codes:
  *
  *  1. BUILD + SEARCH — an exact-direction query walks the persisted
  *     graph to its nearest stored neighbor.
  *  2. APPEND REACHABILITY — an appended vector is found by a later
  *     probe even though no pre-existing edge row was rewritten: the
  *     reverse edges the insert lays down are the only way in (the
  *     DiskANN insert discipline).
  *  3. TAKEDOWN — a tombstoned node is never returned at the next probe;
  *     compaction physically removes its edge rows in BOTH directions
  *     and re-enforces the per-src degree bound the append arm may have
  *     temporarily overflowed.
  */
class GraphIndexSpec extends SparkSpec {

  private val dim = 4
  private def axis(i: Int): Seq[Double] =
    Seq.tabulate(dim)(j => if (j == i % dim) 1.0 else 0.05 * ((i / dim) + 1))

  private def vecsDf(rows: (Long, Seq[Double])*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("vec_id", "embedding")
  }
  private def ids(rows: Long*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("vec_id")
  }

  /** 16 spread seeds + near-copies of direction 0 (the IvfAdcSpec
    * fixture): cell 0 holds {0, 16..19}, the rest are singletons. */
  private def baseRows: Seq[(Long, Seq[Double])] =
    (0 until 16).map(i => (i.toLong, axis(i))) ++
      (16 until 20).map(i => (i.toLong, Seq(1.0, 0.01 * (i - 15), 0.0, 0.0)))

  private def freshIdx(tag: String): String =
    graft.Scratch.fresh(s"gidx_$tag") + "/index"

  private def found(idx: String, q: (Long, Seq[Double])): (Long, Double) = {
    val r = VectorOps.probeGraphIndex(spark, vecsDf(q), idx).head()
    (r.getLong(1), r.getDouble(2))
  }

  test("cross-cell escape edges: present across cells, kept by compaction's per-kind trim") {
    val idx = freshIdx("xcell")
    VectorOps.buildSemIndex(spark, vecsDf(baseRows: _*), idx)
    VectorOps.addGraphToSemIndex(spark, idx)
    val cells = graft.operators.IndexStore.read(spark, idx, "vectors")
      .select(col("vec_id"), col("cell"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def kinds(df: org.apache.spark.sql.DataFrame) = df
      .select(col("src"), col("dst"), col("kind"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val e = kinds(graft.operators.IndexStore.read(spark, idx, "gedges"))
    val cross = e.filter(_._3 == 1)
    assert(cross.nonEmpty, "the build must lay down cross-cell edges")
    cross.foreach { case (a, b, _) =>
      assert(cells(a) !== cells(b),
        s"a kind-1 edge must cross cells: $a(${cells(a)}) -> $b(${cells(b)})")
    }
    e.filter(_._3 == 0).foreach { case (a, b, _) =>
      assert(cells(a) === cells(b),
        s"a kind-0 edge must stay within its cell: $a -> $b")
    }
    // Compaction re-trims per (src, kind): the cross edge — almost
    // always the lowest-cosine row for its src — must survive even
    // where the src also holds a full within-cell budget.
    VectorOps.compactSemIndex(spark, idx)
    val after = kinds(graft.operators.IndexStore.read(spark, idx, "gedges"))
    assert(after.toSet === e.toSet,
      "an untouched index must compact to the same edge set, kinds intact")
  }

  test("build + search: exact-direction query finds its nearest stored neighbor") {
    val idx = freshIdx("build")
    VectorOps.buildSemIndex(spark, vecsDf(baseRows: _*), idx)
    VectorOps.addGraphToSemIndex(spark, idx)
    // Query = vec 16's exact direction; 16 is cell 0's best match and
    // reachable from the entry (cell 0's smallest member) in one hop.
    val (node, cos) = found(idx, 500L -> Seq(1.0, 0.01, 0.0, 0.0))
    assert(node === 16L, s"expected stored vec 16, got $node")
    assert(math.abs(cos - 1.0) < 1e-12)
    // The persisted edge table respects the degree bound from day one.
    val deg = graft.operators.IndexStore.read(spark, idx, "gedges")
      .groupBy(col("src")).count().agg(org.apache.spark.sql.functions
        .max(col("count"))).head().getLong(0)
    assert(deg <= 4L, s"build must respect the degree bound: $deg")
  }

  test("append: novel vector reachable only through its reverse edges") {
    val idx = freshIdx("app")
    VectorOps.buildSemIndex(spark, vecsDf(baseRows: _*), idx)
    VectorOps.addGraphToSemIndex(spark, idx)
    // Novel vector in cell 0, strictly between stored 16 and 17 (an
    // exact duplicate of either would lose the cosine tie to the smaller
    // id). Pre-existing rows get no in-place rewrite; the insert appends
    // novel→neighbors and neighbors→novel rows only.
    val novel = 100L -> Seq(1.0, 0.015, 0.0, 0.0)
    VectorOps.appendToSemIndex(spark, vecsDf(novel), idx)
    val (node, cos) = found(idx, 500L -> Seq(1.0, 0.015, 0.0, 0.0))
    assert(node === 100L, s"appended vector must be retrievable: $node")
    assert(math.abs(cos - 1.0) < 1e-12)
    val back = graft.operators.IndexStore.read(spark, idx, "gedges")
      .filter(col("dst") === 100L).count()
    assert(back > 0L, "insert must lay down reverse edges — they are the way in")
  }

  test("append with tombstones pending: edges wire to ALIVE neighbors only") {
    val idx = freshIdx("tombapp")
    VectorOps.buildSemIndex(spark, vecsDf(baseRows: _*), idx)
    VectorOps.addGraphToSemIndex(spark, idx)
    // Tombstone two of cell 0's members, do NOT compact — the append
    // must not spend the novel node's degree budget (or its reverse
    // edges) on nodes that compaction will remove without replacement.
    IndexStore.tombstone(ids(16L, 17L), idx, "vec_id")
    VectorOps.appendToSemIndex(spark,
      vecsDf(100L -> Seq(1.0, 0.015, 0.0, 0.0)), idx)
    val e = graft.operators.IndexStore.read(spark, idx, "gedges")
    val toDead = e.filter(col("src") === 100L &&
      (col("dst") === 16L || col("dst") === 17L)).count()
    assert(toDead === 0L,
      "novel out-edges must skip pending-tombstone neighbors")
    val fromDead = e.filter(col("dst") === 100L &&
      (col("src") === 16L || col("src") === 17L)).count()
    assert(fromDead === 0L,
      "reverse edges must not resurrect pending-tombstone sources")
    val alive = e.filter(col("src") === 100L).count()
    assert(alive > 0L, "novel node still wires to the ALIVE cell neighbors")
    // Compaction removes the tombstoned rows; the novel node keeps its
    // alive wiring (no silent under-connection window).
    VectorOps.compactSemIndex(spark, idx)
    val after = graft.operators.IndexStore.read(spark, idx, "gedges")
      .filter(col("src") === 100L).count()
    assert(after === alive,
      s"compaction must not shrink the novel node's alive wiring: $alive -> $after")
    val (node, _) = found(idx, 500L -> Seq(1.0, 0.015, 0.0, 0.0))
    assert(node === 100L, s"appended vector must stay retrievable: $node")
  }

  test("append against a replay-duplicated store wires DISTINCT neighbors") {
    val idx = freshIdx("dupapp")
    VectorOps.buildSemIndex(spark, vecsDf(baseRows: _*), idx)
    VectorOps.addGraphToSemIndex(spark, idx)
    // At-least-once replay: the same novel vector appended twice leaves
    // duplicate rows in the float store (tolerated there — the probe's
    // argmax washes them out).
    val replayed = 100L -> Seq(1.0, 0.015, 0.0, 0.0)
    VectorOps.appendToSemIndex(spark, vecsDf(replayed), idx)
    VectorOps.appendToSemIndex(spark, vecsDf(replayed), idx)
    // A LATER novel append must not let 100's duplicate rows occupy two
    // of its top-degree slots and crowd out a distinct neighbor.
    VectorOps.appendToSemIndex(spark,
      vecsDf(101L -> Seq(1.0, 0.016, 0.0, 0.0)), idx)
    val out = graft.operators.IndexStore.read(spark, idx, "gedges")
      .filter(col("src") === 101L)
    val n = out.count()
    val nd = out.select(col("dst")).distinct().count()
    assert(n === nd, s"duplicate dst rows in novel out-edges: $n vs $nd distinct")
    assert(nd >= 4L,
      s"cell 0 has >= 4 alive distinct neighbors; the budget must reach them: $nd")
  }

  test("takedown: invisible at once, edges gone both ways after compaction") {
    val idx = freshIdx("ttl")
    VectorOps.buildSemIndex(spark, vecsDf(baseRows: _*), idx)
    VectorOps.addGraphToSemIndex(spark, idx)
    val q = 500L -> Seq(1.0, 0.01, 0.0, 0.0)
    assert(found(idx, q)._1 === 16L)

    IndexStore.tombstone(ids(16L), idx, "vec_id")
    val after = found(idx, q)
    assert(after._1 !== 16L, s"tombstoned node must never be returned: $after")

    VectorOps.compactSemIndex(spark, idx)
    assert(found(idx, q) === after,
      "compaction must not change tombstone-aware results")
    val e = graft.operators.IndexStore.read(spark, idx, "gedges")
    assert(e.filter(col("src") === 16L || col("dst") === 16L).count() === 0L,
      "edge rows must be physically gone in both directions")
    // Degree bound re-enforced after the append arm's overflow window.
    VectorOps.appendToSemIndex(spark, vecsDf(101L -> Seq(1.0, 0.03, 0.0, 0.0),
      102L -> Seq(1.0, 0.04, 0.0, 0.0)), idx)
    VectorOps.compactSemIndex(spark, idx)
    val deg = graft.operators.IndexStore.read(spark, idx, "gedges")
      .groupBy(col("src")).count().agg(org.apache.spark.sql.functions
        .max(col("count"))).head().getLong(0)
    assert(deg <= 4L, s"compaction must re-trim to the degree bound: $deg")
  }
}
