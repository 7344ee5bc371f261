package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Streaming model-gate scorer ≡ batch: offline-trained q220 weights,
  * online row-local scoring, windowed counters bit-equal across
  * micro-batch boundaries (dyadic score sums are order-free). */
class ScoreStreamSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("windowed score counters equal the batch twin; flags equal q220's") {
    val w = graft.queries.LmOps.trainLogitCached(spark, sf).last._2
    val dir = graft.Scratch.fresh("score")
    DocStream.withEventTime(Tables(spark, sf, "documents"))
      .repartition(4) // 4 files -> multiple micro-batches
      .write.mode("overwrite").parquet(dir)

    val streamed = EventStream.runAvailableNow(spark,
      ScoreStream.monitor(DocStream.read(spark, dir), w), "score_monitor")
    val batch = ScoreStream.batchTwin(
      DocStream.withEventTime(Tables(spark, sf, "documents")), w)

    val skey = streamed.collect().map(_.toSeq).toSet
    val bkey = batch.collect().map(_.toSeq).toSet
    assert(skey === bkey, "stream must equal batch twin bit-for-bit")
    assert(streamed.agg(sum("n_docs")).head().getLong(0) === 500L)

    // Total flagged across windows = q220's final-state flag count is
    // NOT expected (q220 reports state wt4 BEFORE its own update at
    // iter 4 — same weights as `last._2`, so it IS expected here).
    val flagged = streamed.agg(sum("n_flagged")).head().getLong(0)
    val q220flag = graft.queries.LmOps.trainLogitCached(spark, sf).last._4
    assert(flagged === q220flag,
      "stream flag total must equal the q220 card's final-state count")
  }

  test("mean_p1 is the dyadic mean: in (0,1), responsive to weights") {
    val dir = graft.Scratch.fresh("score0")
    DocStream.withEventTime(Tables(spark, sf, "documents"))
      .write.mode("overwrite").parquet(dir)
    val zero = EventStream.runAvailableNow(spark,
      ScoreStream.monitor(DocStream.read(spark, dir),
        Seq(0.0, 0.0, 0.0, 0.0, 0.0)), "score_zero")
    // sigma(0) = 0.5 exactly for every doc -> every window mean is 0.5
    zero.select("mean_p1").collect().foreach { r =>
      assert(math.abs(r.getDouble(0) - 0.5) < 1e-7)
    }
  }
}
