package graft.queries

import graft.SparkSpec

/** The q114 properties the corpus oracle can't isolate: on a hand-built
  * embedding fixture with one engineered near-dup pair, the corpus-derived
  * ε (99.9th within-cell pair-cosine percentile) isolates exactly that
  * pair, and the SemDeDup keep policy retains the member with the LOWER
  * centroid similarity (the paper's keep-cluster-outliers rule) — plus
  * partitioning invariance of the whole verdict. */
class SemDedupSpec extends SparkSpec {
  import spark.implicits._

  /** 18 vectors, dim 4. ivfKFor(18) = 16, so vecs 0–15 are the seed
    * centroids (each its own cell; no within-cell pairs among them).
    * Vecs 16 and 17 are near-parallel x-axis vectors landing in vec 0's
    * cell: the only multi-member cell is {0, 16, 17} with 3 pairs, whose
    * cosines order as cos(0,17) < cos(0,16) << cos(16,17) ≈ 1. The
    * 99.9th percentile interpolates strictly below the max, so only the
    * (16,17) pair crosses ε; 16 sits CLOSER to the centroid than 17, so
    * 16 is the removed one. */
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
    val dir = graft.Scratch.fresh("semdedup")
    rows.map { case (id, e) => (id, e, (id % 3).toInt) }
      .toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  test("q114: engineered near-dup pair found; lower-centroid-sim member kept") {
    val dir = writeEmb()
    val out = VectorOps.queries("q114_semdedup")(spark, dir).collect()
    assert(out.length === 18)
    val byId = out.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getDouble(2), r.getBoolean(4)))).toMap
    // 16 and 17 share centroid 0's cell; 16 is nearer the centroid.
    assert(byId(16L)._1 === 0L && byId(17L)._1 === 0L)
    assert(byId(16L)._2 > byId(17L)._2, "16 closer to centroid than 17")
    // Exactly one removal corpus-wide: the near-dup member CLOSER to its
    // centroid (the paper keeps the outlier).
    assert(out.filter(_.getBoolean(4)).map(_.getLong(0)).toSeq === Seq(16L))
    // ε sits strictly between the top two within-cell pair cosines: the
    // centroid-to-member pairs survive it.
    assert(!byId(0L)._3 && !byId(17L)._3)
  }

  test("q141: exactly the top quarter of each cell is pruned, by score") {
    val rows = VectorOps.queries("q141_proto_pruning")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(1), r.getDouble(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
    assert(rows.nonEmpty)
    rows.groupBy(_._1).foreach { case (cell, members) =>
      val n = members.head._4
      assert(members.length.toLong === n, s"cell $cell count mismatch")
      val pruned = members.filter(_._5)
      assert(pruned.length.toLong === n / 4, s"cell $cell prunes ${pruned.length} of $n")
      // pruned members are exactly the rank prefix = the score-descending head
      if (pruned.nonEmpty) {
        val worstPruned = pruned.map(_._2).min
        val bestKept = members.filterNot(_._5).map(_._2).max
        assert(worstPruned >= bestKept ||
          math.abs(worstPruned - bestKept) < 1e-15, // exact tie broken by vec_id
          s"cell $cell: kept score $bestKept above pruned $worstPruned")
      }
    }
  }

  test("q114: verdict identical under a different shuffle partition count") {
    val dir = writeEmb()
    val run1 = VectorOps.queries("q114_semdedup")(spark, dir).collect().toSeq
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val run2 = VectorOps.queries("q114_semdedup")(spark, dir).collect().toSeq
      assert(run1.map(_.toSeq) === run2.map(_.toSeq))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
