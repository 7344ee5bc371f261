package graft.queries

import graft.SparkSpec

/** q131 beyond the corpus oracle: on an engineered fixture, the mined
  * hard negative is exactly the near-identical wrong-label vector; no
  * same-label pair ever appears; ranks are dense within each anchor's
  * cell-bounded candidate set. */
class HardNegativesSpec extends SparkSpec {
  import spark.implicits._

  /** 18 vectors, dim 4, ivfKFor(18)=16: vecs 0–15 seed the codebook.
    * Vec 16 (label 1) and vec 17 (label 2) are near-parallel to vec 0
    * (label 0) and land in its cell — a 3-member mixed-label cell where
    * every member has a wrong-label near-twin. */
  private def writeEmb(): String = {
    def v(xs: Double*) = xs.map(_.toFloat).toArray
    val rows = Seq(
      0L -> v(1, 0, 0, 0), 1L -> v(0, 1, 0, 0),
      2L -> v(0, 0, 1, 0), 3L -> v(0, 0, 0, 1),
      4L -> v(0, 1, 0.1, 0), 5L -> v(0, 1, 0.2, 0),
      6L -> v(0, 1, 0.3, 0), 7L -> v(0, 1, 0, 0.1),
      8L -> v(0, 1, 0, 0.2), 9L -> v(0, 1, 0, 0.3),
      10L -> v(0, 0, 1, 0.1), 11L -> v(0, 0, 1, 0.2),
      12L -> v(0, 0, 1, 0.3), 13L -> v(0, 0.1, 1, 0),
      14L -> v(0, 0.2, 1, 0), 15L -> v(0, 0.3, 1, 0),
      16L -> v(1, 0.01, 0, 0), 17L -> v(1, 0.011, 0, 0))
    val dir = graft.Scratch.fresh("hardneg")
    rows.map { case (id, e) => (id, e, (id % 3).toInt) }
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("q131: nearest wrong-label twin is the rank-1 negative; labels always differ") {
    val dir = writeEmb()
    val out = VectorOps.queries("q131_hard_negatives")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getInt(3),
        r.getDouble(4), r.getInt(5)))
    assert(out.nonEmpty)
    out.foreach { case (_, al, _, nl, _, _) => assert(al !== nl) }
    // per-anchor: ranks start at 1, cosines non-increasing
    out.groupBy(_._1).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_._6)
      assert(sorted.head._6 === 1)
      assert(sorted.map(_._5).toSeq === sorted.map(_._5).sortBy(-(_: Double)).toSeq)
    }
    val byAnchor = out.groupBy(_._1)
    // 16 (label 1) and 17 (label 2) are mutual hardest negatives:
    // cos(16,17) ≈ 1 beats their cosine to centroid 0.
    assert(byAnchor(16L).minBy(_._6)._3 === 17L)
    assert(byAnchor(17L).minBy(_._6)._3 === 16L)
    // anchor 0 (label 0): both cellmates are wrong-label candidates
    assert(byAnchor(0L).map(_._3).toSet === Set(16L, 17L))
  }
}
