package graft.queries

import graft.SparkSpec
import graft.operators.IndexStore
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Recall DEGRADATION under churn (round 17, the round-16 verdict's item
  * 6): every index family has lifecycle PARITY specs (append/takedown/
  * compaction leave verdicts invariant for the same probe), but nothing
  * measured how recall ages as the frozen artifacts — centroids, books,
  * and now the persisted search scheme — fall behind a corpus that grew
  * and shrank under them. This spec builds the SAME final corpus two
  * ways and compares recall@1 of the persisted graph search:
  *
  *  - CHURNED: build on the initial wave, append a novel wave (the
  *    DiskANN insert wiring: out-edges + reverse edges, temporary
  *    overflow), tombstone a takedown wave, compact (per-kind re-trim).
  *    Centroids and the derived scheme stay FROZEN from the initial
  *    build — the production aging model.
  *  - FRESH: one build over the final corpus (new centroids, new edges,
  *    new scheme derivation).
  *
  * The refresh-vs-rebuild decision threshold this spec pins: a churned
  * index is still servable while its recall@1 sits within 0.25 (2 of
  * the 8-query measurement grain) of a fresh rebuild's; an operator
  * watching this measurement schedules the rebuild when the gap crosses
  * that line. The fixture is sized so BOTH arms have real signal (≥ 0.5
  * absolute) — a comparison of two zeros would pin nothing.
  */
class ChurnRecallSpec extends SparkSpec {
  import spark.implicits._

  private val Dim = 6
  private val Clusters = 4

  /** Deterministic clustered vectors: anchor = axis of (i mod 4), plus
    * a bounded trig perturbation unique to i. */
  private def vec(i: Int): Seq[Double] = {
    val c = i % Clusters
    Seq.tabulate(Dim) { j =>
      val base = if (j == c) 1.0 else 0.0
      base + 0.45 * math.sin(0.7 * i + 1.3 * j) / Dim * 3.0
    }
  }

  private def df(ids: Seq[Int]): DataFrame =
    ids.map(i => (i.toLong, vec(i))).toDF("vec_id", "embedding")

  private val initialIds = 0 until 40
  private val appendIds = 100 until 124
  private val takedownIds = 24 until 32 // late initial rows, never seeds
  private val queryIds = 200 until 208

  private def finalIds: Seq[Int] =
    (initialIds.filterNot(takedownIds.contains) ++ appendIds).toSeq

  /** Exact top-1 of the queries against the FINAL live corpus — the
    * shared ground truth both arms are scored against. */
  private def exactTop1(s: SparkSession): DataFrame = {
    val qv = VectorOps.unitize(df(queryIds))
      .select(col("vec_id").as("query_id"), col("ue").as("qu"))
    val base = VectorOps.unitize(df(finalIds))
      .select(col("vec_id").as("neighbor_id"), col("ue").as("cu"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(expr("graft_dot(qu, cu)").desc, col("neighbor_id"))
    broadcast(qv).join(base, col("query_id") =!= col("neighbor_id"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("query_id"), col("neighbor_id").as("exact_id"))
  }

  private def recallAt1(s: SparkSession, dir: String): Double = {
    val found = VectorOps.probeGraphIndex(s, df(queryIds), dir)
    val hits = found.join(exactTop1(s), "query_id")
      .filter(col("found_id") === col("exact_id")).count()
    hits.toDouble / queryIds.size
  }

  test("churned-index recall stays within the refresh threshold of a fresh rebuild") {
    val root = graft.Scratch.fresh("churn")

    // CHURNED arm: build → append → takedown → compact; centroids and the
    // derived scheme stay frozen from the initial build.
    val churned = s"$root/churned"
    VectorOps.buildSemIndex(spark, df(initialIds), churned)
    VectorOps.addGraphToSemIndex(spark, churned)
    val schemeAtBuild = VectorOps.loadGraphScheme(spark, churned)
    VectorOps.appendToSemIndex(spark, df(appendIds), churned)
    IndexStore.tombstone(df(takedownIds), churned, "vec_id")
    VectorOps.compactSemIndex(spark, churned)
    assert(VectorOps.loadGraphScheme(spark, churned) === schemeAtBuild,
      "churn must not silently re-derive the persisted scheme — it is " +
        "frozen index metadata, recalibrated only by an explicit re-run")

    // FRESH arm: one build over the same final corpus.
    val fresh = s"$root/fresh"
    VectorOps.buildSemIndex(spark, df(finalIds), fresh)
    VectorOps.addGraphToSemIndex(spark, fresh)

    val rChurned = recallAt1(spark, churned)
    val rFresh = recallAt1(spark, fresh)
    info(s"recall@1 churned=$rChurned fresh=$rFresh " +
      s"(scheme churned=${VectorOps.loadGraphScheme(spark, churned)} " +
      s"fresh=${VectorOps.loadGraphScheme(spark, fresh)})")

    // Both arms must have real signal on this separated fixture — a
    // comparison of two zeros would pin nothing.
    assert(rFresh >= 0.5, s"fresh-rebuild recall has no signal: $rFresh")
    assert(rChurned >= 0.5, s"churned recall has no signal: $rChurned")
    // THE decision threshold: refresh while churned ≥ fresh − 0.25 (two
    // queries of the 8-query grain); schedule a rebuild when the gap
    // crosses it. On this fixture churn must stay servable.
    assert(rChurned >= rFresh - 0.25,
      s"churned index degraded past the rebuild threshold: " +
        s"churned=$rChurned fresh=$rFresh")
  }

  test("takedown wave is invisible to the churned probe") {
    val root = graft.Scratch.fresh("churn2")
    val dir = s"$root/idx"
    VectorOps.buildSemIndex(spark, df(initialIds), dir)
    VectorOps.addGraphToSemIndex(spark, dir)
    VectorOps.appendToSemIndex(spark, df(appendIds), dir)
    IndexStore.tombstone(df(takedownIds), dir, "vec_id")
    VectorOps.compactSemIndex(spark, dir)
    val found = VectorOps.probeGraphIndex(spark, df(queryIds), dir)
      .select("found_id").as[Long].collect().toSet
    assert(found.intersect(takedownIds.map(_.toLong).toSet).isEmpty,
      "a taken-down vector must never be returned by the churned probe")
  }
}
