package graft.streaming

import graft.SparkSpec
import graft.operators.IndexStore
import graft.queries.VectorOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The SEMANTIC index's takedown/TTL arm — DedupTtlSpec one modality
  * over, closing the round-13 gap (a takedown silenced the lexical index
  * only):
  *
  *  1. IMMEDIATE EFFECT — a tombstoned vector stops matching at the next
  *     probe, before any compaction runs.
  *  2. PHYSICAL APPLY — compaction removes the tombstoned vector's rows
  *     from the store, clears the applied tombstones, and keeps verdicts
  *     bit-identical to the pre-compaction (tombstone-aware) probe.
  *  3. RETIRE-BEFORE-ARRIVAL — a tombstone for a never-indexed vector
  *     survives compaction (a late append replay cannot resurrect).
  *  4. RE-CANONICALIZATION — retired content arriving again as a new
  *     vector probes novel, re-appends, and becomes the new match
  *     target.
  */
class SemTtlSpec extends SparkSpec {

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
  private def verdicts(probe: DataFrame, idx: String): Map[Long, (String, Any)] =
    VectorOps.probeSemIndex(spark, probe, idx).collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.get(3)))).toMap

  /** 16 spread seed vectors + near-copies of direction 0 (real
    * within-cell τ) — the SemCompactionSpec fixture. */
  private def baseRows: Seq[(Long, Seq[Double])] =
    (0 until 16).map(i => (i.toLong, axis(i))) ++
      (16 until 20).map(i => (i.toLong, Seq(1.0, 0.01 * (i - 15), 0.0, 0.0)))

  private val novelVec = Seq(-0.5, -0.5, 0.5, 0.5)

  test("tombstones suppress matches immediately, apply physically at compaction, and never resurrect") {
    val idx = graft.Scratch.fresh("sttl") + "/index"
    VectorOps.buildSemIndex(spark, vecsDf(baseRows: _*), idx)
    VectorOps.appendToSemIndex(spark, vecsDf(100L -> novelVec), idx)

    val probe = vecsDf(
      500L -> novelVec, // dup of the appended 100
      501L -> Seq(-0.1, 0.7, -0.1, -0.7)) // novel direction
    val before = verdicts(probe, idx)
    assert(before(500L) === (("dup", 100L)), s"$before")
    assert(before(501L)._1 === "novel")

    // Retire the matched base vector and a never-indexed one.
    IndexStore.tombstone(ids(100L, 999L), idx, "vec_id")
    val after = verdicts(probe, idx)
    assert(after(500L)._1 === "novel", "takedown must stop matches at once")
    assert(after(501L)._1 === "novel")

    VectorOps.compactSemIndex(spark, idx)
    assert(verdicts(probe, idx) === after,
      "compaction must not change tombstone-aware verdicts")
    // Rows physically gone; applied tombstone cleared, unapplied kept.
    assert(IndexStore.read(spark, idx, "vectors")
      .filter(col("vec_id") === 100L).count() === 0L)
    val remaining = IndexStore.read(spark, idx, "tombstones")
      .collect().map(_.getLong(0)).toSet
    assert(remaining === Set(999L),
      s"applied tombstones must clear, unapplied must survive: $remaining")

    // Re-canonicalization: the retired content arrives again under a new
    // id, probes novel, re-appends, becomes the new match target.
    assert(verdicts(vecsDf(600L -> novelVec), idx)(600L)._1 === "novel")
    VectorOps.appendToSemIndex(spark, vecsDf(600L -> novelVec), idx)
    val again = verdicts(vecsDf(700L -> novelVec), idx)
    assert(again(700L) === (("dup", 600L)),
      s"re-appended content must canonicalize to the NEW vector: $again")
  }

  test("crash ordering: a stale already-applied tombstone re-applies idempotently") {
    // compactSemIndex commits the store and the surviving tombstone set
    // in one version, so a crash leaves no residue; a takedown re-issued
    // for a vector already gone is the same state. Pin that it is
    // harmless: verdicts unchanged, a re-run compaction doesn't throw,
    // and the stale entry keeps waiting as retire-before-arrival.
    val idx = graft.Scratch.fresh("sttlc") + "/index"
    VectorOps.buildSemIndex(spark, vecsDf(baseRows: _*), idx)
    VectorOps.appendToSemIndex(spark, vecsDf(100L -> novelVec), idx)
    IndexStore.tombstone(ids(100L), idx, "vec_id")
    VectorOps.compactSemIndex(spark, idx) // applies + clears
    val probe = vecsDf(500L -> novelVec)
    val clean = verdicts(probe, idx)
    assert(clean(500L)._1 === "novel")

    IndexStore.tombstone(ids(100L), idx, "vec_id") // the crash residue
    assert(verdicts(probe, idx) === clean,
      "a stale tombstone for an absent vector must change nothing")
    VectorOps.compactSemIndex(spark, idx)
    assert(verdicts(probe, idx) === clean)
    // Still present (retire-before-arrival semantics guard a late replay
    // of vector 100's append).
    assert(IndexStore.read(spark, idx, "tombstones")
      .collect().map(_.getLong(0)).toSet === Set(100L))
  }

  test("a tombstone-free index pays nothing and behaves as before") {
    val idx = graft.Scratch.fresh("sttl0") + "/index"
    VectorOps.buildSemIndex(spark, vecsDf(baseRows: _*), idx)
    VectorOps.appendToSemIndex(spark, vecsDf(100L -> novelVec), idx)
    assert(IndexStore.tombstones(spark, idx).isEmpty)
    assert(verdicts(vecsDf(500L -> novelVec), idx)(500L) === (("dup", 100L)))
  }
}
