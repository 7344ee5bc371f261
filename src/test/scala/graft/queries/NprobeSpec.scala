package graft.queries

import graft.SparkSpec
import graft.operators.IndexStore
import org.apache.spark.sql.functions._

/** The IVF nprobe recall lever (q213's subject), pinned on an engineered
  * cross-boundary fixture: a probe whose near-duplicate sits in its
  * SECOND-closest cell — the quantizer assigns the probe to cell 0 and
  * the stored copy to cell 1, so a single-cell probe scores the wrong
  * neighborhood and reads novel, while nprobe = 2 recovers the pair.
  * This is the canonical IVF failure mode (Voronoi-boundary pairs) and
  * the reason production SemDeDup probes multiple cells. */
class NprobeSpec extends SparkSpec {

  private val dim = 16
  private def basis(i: Int, a: Double = 1.0, j2: Int = -1, b: Double = 0.0): Seq[Double] =
    Seq.tabulate(dim)(j => if (j == i) a else if (j == j2) b else 0.0)

  test("nprobe=2 recovers a cross-boundary duplicate that nprobe=1 misses") {
    import spark.implicits._
    val root = graft.Scratch.fresh("nprobe")
    // Base: the 16 orthonormal seeds (all become centroids — clean
    // Voronoi geometry), four moderately spread members of cell 0 (they
    // set τ ≈ 0.993, a REAL within-cell percentile well below the
    // boundary pair's cosine), and vector 20 = (0.70 e0 + 0.72 e1):
    // argmax centroid 1 — the boundary resident.
    val base = ((0 until 16).map(i => (i.toLong, basis(i))) ++
      (16 until 20).map(m => (m.toLong, basis(0, 1.0, 1, 0.15 * (m - 15)))) :+
      (20L -> basis(0, 0.70, 1, 0.72)))
      .toDF("vec_id", "embedding")
    VectorOps.buildSemIndex(spark, base, s"$root/index")
    val tau = IndexStore.kind(spark, s"$root/index", "sem").tau.get
    assert(tau > 0.9 && tau < 0.999, s"fixture must calibrate a usable tau: $tau")

    // Probe: 0.72 e0 + 0.70 e1 — argmax centroid 0, second centroid 1;
    // cosine to vector 20 ≈ 0.9996 > τ, cosine to every cell-0 member
    // ≤ 0.974 < τ.
    val probe = Seq((100L, basis(0, 0.72, 1, 0.70))).toDF("vec_id", "embedding")
    val v1 = VectorOps.probeSemIndex(spark, probe, s"$root/index").head()
    assert(v1.getString(2) === "novel",
      s"single-cell probe must miss the cross-boundary copy: $v1")
    // The stored copy must live in a DIFFERENT cell than the probe's
    // primary — that's what makes this a boundary pair.
    val copyCell = IndexStore.read(spark, s"$root/index", "vectors")
      .filter(col("vec_id") === 20L).head().getLong(2)
    assert(copyCell !== v1.getLong(1),
      s"fixture must place the copy across the boundary: copy=$copyCell probe=$v1")

    val v2 = VectorOps.probeSemIndex(spark, probe, s"$root/index", nprobe = 2).head()
    assert(v2.getString(2) === "dup" && v2.getLong(3) === 20L,
      s"two-cell probe must find the boundary pair: $v2")
    assert(v2.getLong(1) === v1.getLong(1),
      "the reported cell stays the primary assignment at every nprobe")
    assert(v2.getDouble(4) > tau && v2.getDouble(4) > 0.999)
  }

  test("Lloyd-refined index build: trained centroids persist and probes just work") {
    import spark.implicits._
    val root = graft.Scratch.fresh("lloydidx")
    // Two tight clusters + 14 spread seeds. With the seed codebook the
    // cluster members ARE centroids; after refinement centroid 0 moves
    // to its cluster's mean direction — the probe reads whatever the
    // index persisted, so nothing downstream changes.
    val base = ((0 until 16).map(i => (i.toLong, basis(i))) ++
      (16 until 20).map(m => (m.toLong, basis(0, 1.0, 1, 0.15 * (m - 15)))))
      .toDF("vec_id", "embedding")
    VectorOps.buildSemIndex(spark, base, s"$root/index", lloydIters = 2)

    val seedHead = basis(0) // centroid 0's seed value (e0 exactly)
    val trained = IndexStore.kind(spark, s"$root/index", "sem").centroids(0)
    assert(trained !== seedHead,
      "two Lloyd rounds over a loaded cell must move its centroid off the seed")
    assert(math.abs(trained.map(x => x * x).sum - 1.0) < 1e-12, "unit norm")

    // An exact copy of a base vector still probes dup against the
    // refined index — centroids are metadata, verdicts need no code path
    // to know how the quantizer was trained.
    val probe = Seq((200L, basis(0, 1.0, 1, 0.30))).toDF("vec_id", "embedding")
    val v = VectorOps.probeSemIndex(spark, probe, s"$root/index").head()
    assert(v.getString(2) === "dup" && v.getLong(3) === 17L,
      s"exact copy of vec 17 must verdict dup against the refined index: $v")
  }
}
