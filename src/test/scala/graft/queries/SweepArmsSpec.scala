package graft.queries

import graft.SparkSpec
import graft.operators.IndexStore
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col

/** Sweep arms as data: a multi-arm probe runs every arm in one chain (the
  * arm is a column of the probe frame), and each arm must read exactly
  * what a one-arm run at its knobs reads.
  *
  *  1. GRAPH ARMS — for every [[GraphConfig.SweepArms]] arm, the
  *     multi-arm persisted probe's top-1 rows and `scored_cands` equal
  *     `probeGraphIndexCost` at that arm's (entries, width, hops);
  *  2. MIXED HOPS — an arm that finishes early (2 hops) beside a longer
  *     one (3 hops) still equals its own one-arm run: a finished arm
  *     passes through the later hops unchanged;
  *  3. ADC PREFIXES — q247's per-nprobe rows, cut from one scoring at
  *     the largest nprobe, equal `ivfAdcScoredCands` at each nprobe.
  *
  * Fixture: the GraphIndexSpec corpus (16 spread seeds, cell 0 holding
  * {0, 16..19}, every other cell a singleton) with node 5 tombstoned.
  * Query 605 points at cell 5 and query 3 at its own singleton cell, so
  * at one entry their probed cell holds no live non-self member and the
  * LIMIT-2 fallback enters them.
  */
class SweepArmsSpec extends SparkSpec {

  private val dim = 4
  private def axis(i: Int): Seq[Double] =
    Seq.tabulate(dim)(j => if (j == i % dim) 1.0 else 0.05 * ((i / dim) + 1))

  private def vecsDf(rows: (Long, Seq[Double])*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("vec_id", "embedding")
  }

  private def baseRows: Seq[(Long, Seq[Double])] =
    (0 until 16).map(i => (i.toLong, axis(i))) ++
      (16 until 20).map(i => (i.toLong, Seq(1.0, 0.01 * (i - 15), 0.0, 0.0)))

  private lazy val idx: String = {
    val dir = graft.Scratch.fresh("sweep_arms") + "/index"
    VectorOps.buildSemIndex(spark, vecsDf(baseRows: _*), dir)
    VectorOps.addPqToSemIndex(spark, dir)
    VectorOps.addGraphToSemIndex(spark, dir)
    IndexStore.tombstone(vecsDf(5L -> axis(5)), dir, "vec_id")
    dir
  }

  private def batch: DataFrame = vecsDf(
    500L -> Seq(1.0, 0.01, 0.0, 0.0), 605L -> axis(5),
    602L -> Seq(0.3, 0.3, 0.9, 0.1), 3L -> axis(3))

  private def sorted(rows: Seq[Row]): Seq[Seq[Any]] =
    rows.map(_.toSeq).sortBy(_.mkString("|"))

  /** The multi-arm probe over `arms` against one one-arm probe per arm. */
  private def armsMatchOneArmRuns(arms: Seq[GraphConfig.Scheme]): Unit = {
    val (found, cost) = VectorOps.probeGraphArms(spark, batch, idx, arms)
    val rows = found.collect().toSeq
    val costs = cost.collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(costs.keySet === arms.indices.toSet)
    arms.indices.foreach { a =>
      val s = arms(a)
      val (one, oneCost) = VectorOps.probeGraphIndexCost(spark, batch, idx,
        s.entries, s.width, s.hops)
      val mine = rows.filter(_.getInt(0) == a).map(r => Row.fromSeq(r.toSeq.tail))
      assert(sorted(mine) === sorted(one.collect().toSeq), s"rows of arm $s")
      assert(costs(a) === oneCost.head().getLong(0), s"scored_cands of arm $s")
      assert(mine.map(_.getLong(0)).toSet === Set(500L, 605L, 602L, 3L),
        s"every query gets a row in arm $s (the fallback enters 605 and 3)")
      assert(!mine.exists(_.getLong(1) == 5L), s"tombstoned node returned in arm $s")
    }
  }

  test("every sweep arm of one multi-arm probe equals its one-arm probe") {
    armsMatchOneArmRuns(GraphConfig.SweepArms)
  }

  test("a mixed-hops pair equals its two one-arm runs") {
    armsMatchOneArmRuns(Seq(GraphConfig.Scheme(1, 1, 2),
      GraphConfig.Scheme(3, 3, 3)))
  }

  test("q247's per-nprobe prefixes equal the ADC scoring at each nprobe") {
    val arms = VectorOps.ivfAdcNprobeArms(spark, batch, idx, 1 to 3)
      .collect().toSeq
    (1 to 3).foreach { np =>
      val want = VectorOps.ivfAdcScoredCands(spark, batch, idx, np)
        .select(col("query_id"), col("neighbor_id"), col("adc_cos"))
        .collect().toSeq
      assert(want.nonEmpty)
      val mine = arms.filter(_.getInt(0) == np).map(r => Row.fromSeq(r.toSeq.tail))
      assert(sorted(mine) === sorted(want), s"nprobe $np")
    }
  }
}
