package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Streaming PSI drift monitor ≡ its batch twin, and the PSI card agrees
  * with q201 (the batch query that defines the statistic) on bins,
  * zero-point, and alert behavior. */
class DriftStreamSpec extends SparkSpec {

  private lazy val docsDir: String = {
    val dir = graft.Scratch.fresh("drift")
    DocStream.withEventTime(Tables(spark, "/root/testdata/sf0.001", "documents"))
      .write.mode("overwrite").parquet(dir)
    dir
  }
  private lazy val ref =
    DriftStream.referenceBins(Tables(spark, "/root/testdata/sf0.001", "documents"))
      .localCheckpoint(true)

  test("windowed bin counters match the batch twin exactly") {
    val streamed = EventStream.runAvailableNow(spark,
      DriftStream.counters(DocStream.read(spark, docsDir)), "drift_counters")
    val batch = DriftStream.binProjection(spark.read.parquet(docsDir))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("hour_start"), col("bin"), col("n"))
    assert(streamed.count() === batch.count())
    assert(streamed.collect().map(_.toSeq).toSet ===
      batch.collect().map(_.toSeq).toSet)
    assert(streamed.agg(sum("n")).head().getLong(0) === 500L)
  }

  test("reference bins agree with q201's c1 column (the defining query)") {
    val mine = ref.select("bin", "c1").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val q201 = graft.SparkEntry.queries("q201_psi_drift")(
        spark, "/root/testdata/sf0.001")
      .select("bin", "c1").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(mine === q201)
  }

  test("a window distributed exactly like the reference has PSI == 0.0") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2023-11-14 22:00:00")
    val counters = ref.select(col("bin"), col("c1")).collect()
      .map(r => (t0, r.getInt(0), r.getLong(1))).toSeq
      .toDF("hour_start", "bin", "n")
      .filter(col("n") > 0)
    val card = DriftStream.psiCard(counters, ref).collect()
    assert(card.length === 1)
    assert(card.head.getAs[Double]("psi") === 0.0)
    assert(!card.head.getAs[Boolean]("major_drift"))
  }

  test("a poisoned window (all mass in one bin) raises major_drift; alerts honor the support floor") {
    import spark.implicits._
    val t0 = java.sql.Timestamp.valueOf("2023-11-14 22:00:00")
    val t1 = java.sql.Timestamp.valueOf("2023-11-14 23:00:00")
    val counters = Seq(
      (t0, 7, 500L), // poisoned, well-supported
      (t1, 7, 3L))   // poisoned but 3 docs: below the floor
      .toDF("hour_start", "bin", "n")
    val card = DriftStream.psiCard(counters, ref)
    val byWin = card.collect()
      .map(r => r.getTimestamp(0) -> r.getAs[Boolean]("major_drift")).toMap
    assert(byWin(t0) && byWin(t1), "both windows drifted on PSI alone")
    val paged = DriftStream.alerts(card).collect().map(_.getTimestamp(0)).toSeq
    assert(paged === Seq(t0), "only the supported window pages")
  }

  test("end-to-end: psiCard over the stream's sink == psiCard over the batch twin") {
    val streamed = EventStream.runAvailableNow(spark,
      DriftStream.counters(DocStream.read(spark, docsDir)), "drift_counters_e2e")
    val batch = DriftStream.binProjection(spark.read.parquet(docsDir))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("hour_start"), col("bin"), col("n"))
    val a = DriftStream.psiCard(streamed, ref).collect().map(_.toSeq).toSet
    val b = DriftStream.psiCard(batch, ref).collect().map(_.toSeq).toSet
    assert(a === b, "stream and batch cards must be bit-identical")
    assert(a.nonEmpty)
  }
}
