package graft.streaming

import graft.SparkSpec
import graft.operators.IndexStore
import graft.queries.DedupOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The dedup index's takedown/TTL arm, pinned end to end:
  *
  *  1. IMMEDIATE EFFECT — a tombstoned doc stops matching at the next
  *     probe (exact AND near verdicts), before any compaction runs.
  *  2. PHYSICAL APPLY — compaction removes the tombstoned doc's rows
  *     from all three tables, clears the applied tombstones, and keeps
  *     verdicts bit-identical to the pre-compaction (tombstone-aware)
  *     probe.
  *  3. RETIRE-BEFORE-ARRIVAL — a tombstone for a never-indexed doc
  *     survives compaction (a late append replay cannot resurrect).
  *  4. RE-CANONICALIZATION — after a takedown, identical content probes
  *     novel, re-appends, and becomes the new canonical match target.
  */
class DedupTtlSpec extends SparkSpec {

  private def docsDf(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }
  private def ids(rows: Long*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id")
  }
  private def verdicts(probe: DataFrame, idx: String): Map[Long, (String, Any)] =
    DedupOps.probeDedupIndex(spark, probe, idx).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.get(2)))).toMap

  private val t1 = "the quick brown fox jumps over the lazy dog"
  private val t100 = (1 to 30).map(i => s"tok$i").mkString(" ")
  private val near100 = (1 to 29).map(i => s"tok$i").mkString(" ") + " zzz"

  test("tombstones suppress exact and near matches immediately, apply physically at compaction, and never resurrect") {
    val idx = graft.Scratch.fresh("ttl") + "/index"
    DedupOps.buildDedupIndex(docsDf(
      1L -> t1,
      2L -> "pack my box with five dozen liquor jugs",
      100L -> t100), idx)

    val probe = docsDf(500L -> t1, 501L -> near100,
      502L -> "entirely novel content matching nothing in the index at all")
    val before = verdicts(probe, idx)
    assert(before(500L) === (("exact", 1L)), s"$before")
    assert(before(501L)._1 === "near" && before(501L)._2 === 100L)
    assert(before(502L)._1 === "novel")

    // Retire the exact base, the near base, and a doc that was never
    // indexed (retire-before-arrival).
    IndexStore.tombstone(ids(1L, 100L, 999L), idx, "doc_id")
    val after = verdicts(probe, idx)
    assert(after(500L)._1 === "novel", "takedown must stop exact matches at once")
    assert(after(501L)._1 === "novel", "takedown must stop near matches at once")
    assert(after(502L)._1 === "novel")

    DedupOps.compactDedupIndex(spark, idx)
    assert(verdicts(probe, idx) === after,
      "compaction must not change tombstone-aware verdicts")
    // Rows physically gone from every table.
    assert(IndexStore.read(spark, idx, "exact")
      .filter(col("exact_doc").isin(1L, 100L)).count() === 0L)
    assert(IndexStore.read(spark, idx, "bands")
      .filter(col("doc_id").isin(1L, 100L)).count() === 0L)
    assert(IndexStore.read(spark, idx, "shingles")
      .filter(col("doc_id").isin(1L, 100L)).count() === 0L)
    // Applied tombstones cleared; the never-indexed one retained.
    val remaining = IndexStore.read(spark, idx, "tombstones")
      .collect().map(_.getLong(0)).toSet
    assert(remaining === Set(999L),
      s"applied tombstones must clear, unapplied must survive: $remaining")

    // Re-canonicalization: the retired content arrives again as a new
    // doc, probes novel, re-appends, and becomes the new match target.
    DedupOps.appendToDedupIndex(docsDf(600L -> t1), idx)
    val again = verdicts(docsDf(700L -> t1), idx)
    assert(again(700L) === (("exact", 600L)),
      s"re-appended content must canonicalize to the NEW doc: $again")
  }

  test("a tombstone-free index pays nothing and behaves as before") {
    val idx = graft.Scratch.fresh("ttl0") + "/index"
    DedupOps.buildDedupIndex(docsDf(1L -> t1), idx)
    assert(IndexStore.tombstones(spark, idx).isEmpty)
    assert(verdicts(docsDf(500L -> t1), idx)(500L) === (("exact", 1L)))
  }
}
