package graft.queries

import graft.SparkSpec
import graft.operators.IndexStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Lifecycle contract of the composed IVFADC index (q243/q244's
  * engine): the PQ artifacts ride the SAME semantic-index directory and
  * obey the same append/tombstone/compaction discipline as the float
  * store —
  *
  *  1. SELF-CODES ARE EXACT — a seed vector's residual quantizes to
  *     itself, so an exact-direction query ranks its copy first with
  *     adc_cos == the true cosine (the ADC identity ⟨q, c + r̃⟩).
  *  2. APPEND PARITY — appendToSemIndex on a PQ-carrying index encodes
  *     the novel vectors with the FROZEN permutation + books; the new
  *     row is immediately searchable.
  *  3. TAKEDOWN PARITY — a tombstoned vector leaves ADC results at the
  *     next probe; compaction physically removes its codes row in the
  *     same locked pass that compacts `vectors`.
  *  4. TRAINED BOOKS DROP IN — a Lloyd-refined build never increases
  *     the corpus-mean residual distortion and serves the same probe
  *     API (the PqSpec monotonicity contract on the residual frame).
  */
class IvfAdcSpec extends SparkSpec {

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

  /** 16 spread seeds (= the PQ seed books' source) + near-copies of
    * direction 0 — the SemTtlSpec fixture. */
  private def baseRows: Seq[(Long, Seq[Double])] =
    (0 until 16).map(i => (i.toLong, axis(i))) ++
      (16 until 20).map(i => (i.toLong, Seq(1.0, 0.01 * (i - 15), 0.0, 0.0)))

  private def freshIdx(tag: String): String =
    graft.Scratch.fresh(s"ivfadc_$tag") + "/index"

  private def top1(probe: DataFrame, idx: String): Map[Long, (Long, Double)] =
    VectorOps.probeIvfAdcTop3(spark, probe, idx)
      .filter(col("rnk") === 1).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap

  test("exact-direction query ranks its seed copy first at true cosine") {
    val idx = freshIdx("self")
    VectorOps.buildSemIndex(spark, vecsDf(baseRows: _*), idx)
    VectorOps.addPqToSemIndex(spark, idx)
    // vec 3 is a centroid seed: its residual is the ZERO vector, which
    // is codeword 0 in every subspace by construction, so its code error
    // is 0 and an exact-direction query scores it at the true cosine 1.0
    // (scaling is norm-invariant).
    val t = top1(vecsDf(500L -> axis(3).map(_ * 7.0)), idx)
    assert(t(500L)._1 === 3L, s"expected seed vec 3 at rank 1: $t")
    assert(math.abs(t(500L)._2 - 1.0) < 1e-12, s"ADC identity violated: $t")
  }

  test("append encodes with frozen books; new vector immediately searchable") {
    val idx = freshIdx("app")
    VectorOps.buildSemIndex(spark, vecsDf(baseRows: _*), idx)
    VectorOps.addPqToSemIndex(spark, idx)
    // Same DIRECTION as seed 3: the frozen encoder assigns the same cell
    // and the same exact codeword (residual == vec 3's residual), so the
    // append is verifiable by the ADC identity, not just by presence.
    VectorOps.appendToSemIndex(spark, vecsDf(100L -> axis(3).map(_ * 3.0)), idx)
    assert(graft.operators.IndexStore.read(spark, idx, "codes")
      .filter(col("vec_id") === 100L).count() === 1L,
      "append must write the codes row alongside the float row")
    val res = VectorOps.probeIvfAdcTop3(spark,
        vecsDf(500L -> axis(3).map(_ * 7.0)), idx)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(res.contains(100L), s"appended vector must be searchable: $res")
    assert(math.abs(res(100L) - 1.0) < 1e-12,
      s"frozen-book encoding must satisfy the ADC identity: $res")
    assert(res.contains(3L) && math.abs(res(3L) - 1.0) < 1e-12)
  }

  test("takedowns suppress ADC matches at once and compact out of codes") {
    val idx = freshIdx("ttl")
    VectorOps.buildSemIndex(spark, vecsDf(baseRows: _*), idx)
    VectorOps.addPqToSemIndex(spark, idx)
    val q = vecsDf(500L -> axis(3).map(_ * 7.0))
    assert(top1(q, idx)(500L)._1 === 3L)

    IndexStore.tombstone(ids(3L), idx, "vec_id")
    val after = top1(q, idx)
    assert(after(500L)._1 !== 3L, s"takedown must leave ADC results: $after")

    VectorOps.compactSemIndex(spark, idx)
    assert(top1(q, idx) === after,
      "compaction must not change tombstone-aware ADC results")
    assert(graft.operators.IndexStore.read(spark, idx, "codes")
      .filter(col("vec_id") === 3L).count() === 0L,
      "codes row must be physically gone after compaction")
    assert(graft.operators.IndexStore.read(spark, idx, "vectors")
      .filter(col("vec_id") === 3L).count() === 0L)
  }

  test("Lloyd-refined books never increase distortion and drop into the probe") {
    val seedIdx = freshIdx("seed")
    VectorOps.buildSemIndex(spark, vecsDf(baseRows: _*), seedIdx)
    VectorOps.addPqToSemIndex(spark, seedIdx)
    val d0 = VectorOps.ivfAdcDistortion(spark, seedIdx)

    val trainedIdx = freshIdx("lloyd")
    VectorOps.buildSemIndex(spark, vecsDf(baseRows: _*), trainedIdx)
    VectorOps.addPqToSemIndex(spark, trainedIdx, lloydIters = 2)
    val d2 = VectorOps.ivfAdcDistortion(spark, trainedIdx)
    assert(d2 <= d0 + 1e-12, s"Lloyd must not increase distortion: $d0 -> $d2")

    // Drop-in: the probe serves refined books through the same API, and
    // a seed vector's exact-direction query still resolves to it (its
    // cell's residual structure is preserved under refinement here).
    val t = top1(vecsDf(500L -> axis(3).map(_ * 7.0)), trainedIdx)
    assert(t(500L)._1 === 3L, s"refined index must still serve the probe: $t")
  }

  test("seed books are non-degenerate: codes spread beyond one codeword per sub") {
    // The k smallest base vec_ids ARE the centroids, so their residuals
    // are zero; a naive first-ksub seeding collapses every codeword to
    // zero and ADC to coarse-only scoring (codes_used == m). The shipped
    // seeding (zero codeword + first ksub−1 NON-centroid residuals) must
    // actually spread codes on a real corpus.
    val idx = freshIdx("spread")
    val e = graft.Tables(spark, "/root/testdata/sf0.001", "embeddings")
      .select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") % 5 =!= 0)
    VectorOps.buildSemIndex(spark, e, idx)
    VectorOps.addPqToSemIndex(spark, idx)
    val codes = graft.operators.IndexStore.read(spark, idx, "codes")
    val used = codes.select(
        org.apache.spark.sql.functions.posexplode(
          org.apache.spark.sql.functions.array(
            (0 until 4).map(j => col(s"code$j")): _*)).as(Seq("sub", "code")))
      .distinct().count()
    assert(used > 4L * 4L,
      s"residual books must use a real code spread, got $used distinct (sub, code)")
  }

  test("determinism: two builds over the same store produce identical codes") {
    val a = freshIdx("da")
    VectorOps.buildSemIndex(spark, vecsDf(baseRows: _*), a)
    VectorOps.addPqToSemIndex(spark, a, lloydIters = 1)
    val ca = graft.operators.IndexStore.read(spark, a, "codes")
      .collect().map(_.toSeq).toSet
    VectorOps.addPqToSemIndex(spark, a, lloydIters = 1) // rebuild in place
    val cb = graft.operators.IndexStore.read(spark, a, "codes")
      .collect().map(_.toSeq).toSet
    assert(ca === cb, "PQ build must be bit-deterministic")
  }

  // ------------------------- learned-rotation (OPQ) build arm — spec-owned

  test("learned-rotation build: distortion <= permutation build, real corpus") {
    val d = "/root/testdata/sf0.001"
    val e = graft.Tables(spark, d, "embeddings")
      .select(col("vec_id"), col("embedding"))
    val perm = freshIdx("operm")
    VectorOps.buildSemIndex(spark, e, perm)
    VectorOps.addPqToSemIndex(spark, perm, lloydIters = 1)
    val learned = freshIdx("orot")
    VectorOps.buildSemIndex(spark, e, learned)
    VectorOps.addPqToSemIndex(spark, learned, lloydIters = 1,
      learnedRotation = true)
    val dp = VectorOps.ivfAdcDistortion(spark, perm)
    val dl = VectorOps.ivfAdcDistortion(spark, learned)
    // Rotation is orthogonal, so residual L2 distortion is comparable
    // across coding bases — the OpqSpec pin, now on the composed index.
    assert(dl <= dp + 1e-9,
      s"learned-rotation residual distortion $dl must not exceed permutation $dp")
  }

  test("learned-rotation index: ADC identity, frozen-rotation append, determinism") {
    val idx = freshIdx("oself")
    VectorOps.buildSemIndex(spark, vecsDf(baseRows: _*), idx)
    VectorOps.addPqToSemIndex(spark, idx, learnedRotation = true)
    // Seed vec 3's ROTATED residual is a codeword, so the exact-direction
    // query still scores it at the true cosine: the probe rotates the
    // query once and the identity <q,c> + <Rq,Rr> = <q, ue3> survives
    // (float tolerance for the two rotation applications).
    val t = top1(vecsDf(500L -> axis(3).map(_ * 7.0)), idx)
    assert(t(500L)._1 === 3L, s"expected seed vec 3 at rank 1: $t")
    assert(math.abs(t(500L)._2 - 1.0) < 1e-9, s"rotated ADC identity violated: $t")

    // Frozen-rotation append: same direction as seed 3 encodes to the
    // same codeword through the persisted rotation and is searchable.
    VectorOps.appendToSemIndex(spark, vecsDf(100L -> axis(3).map(_ * 3.0)), idx)
    val res = VectorOps.probeIvfAdcTop3(spark,
        vecsDf(500L -> axis(3).map(_ * 7.0)), idx)
      .collect().map(r => r.getLong(1) -> r.getDouble(2)).toMap
    assert(res.contains(100L), s"appended vector must be searchable: $res")
    assert(math.abs(res(100L) - 1.0) < 1e-9,
      s"frozen-rotation encoding must satisfy the ADC identity: $res")

    // Bit-deterministic rebuild (subspace iteration has no RNG).
    val idx2 = freshIdx("oself2")
    VectorOps.buildSemIndex(spark, vecsDf(baseRows: _*), idx2)
    VectorOps.addPqToSemIndex(spark, idx2, learnedRotation = true)
    def codes(i: String) = graft.operators.IndexStore.read(spark, i, "codes")
      .collect().map(_.toSeq).toSet
    // idx carries the one appended row (vec 100) on top of the build.
    assert(codes(idx2) === codes(idx).filter(_.head.asInstanceOf[Long] < 100L),
      "learned-rotation build must be bit-deterministic")
  }
}
