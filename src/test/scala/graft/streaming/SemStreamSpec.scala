package graft.streaming

import graft.{SparkSpec, Tables}
import graft.operators.IndexStore
import graft.queries.VectorOps
import org.apache.spark.sql.functions._

/** Streaming semantic dedup ≡ batch q211 on the same split (same probe
  * function, so equality is by construction — the spec proves the
  * streaming plumbing loses and invents nothing), plus the refresh loop:
  * a batch's novel vectors must be semantically findable by later
  * batches without any corpus re-pass. */
class SemStreamSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("multi-batch stream probe verdicts equal batch q211 verdicts") {
    val root = graft.Scratch.fresh("sstream")
    val e = Tables(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    VectorOps.buildSemIndex(spark, e.filter(col("vec_id") % 5 =!= 0), s"$root/index")

    // Stream input: the probe split as doubles + injected in-stream id
    // duplicates (every 4th vec delivered twice), over 4 micro-batches.
    val probe = e.filter(col("vec_id") % 5 === 0)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("vec_id")))
    probe.union(probe.filter(col("vec_id") % 20 === 0)).repartition(4)
      .write.mode("overwrite").parquet(s"$root/in")

    SemStream.runProbe(spark, s"$root/in", s"$root/index",
      s"$root/out", s"$root/ckpt", maxFilesPerTrigger = Some(1))

    val streamed = SemStream.readVerdicts(spark, s"$root/out")
      .collect().map(_.toSeq).toSet
    val expected = graft.SparkEntry.queries("q211_incremental_semdedup")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamed.size === probe.count(),
      "one verdict per unique vec — in-stream dups must be absorbed")
    assert(streamed === expected,
      "streamed probe verdicts must equal batch q211 on the same split")

    // Idempotence: re-running against the same checkpoint with no new
    // files must not change the emitted verdicts.
    SemStream.runProbe(spark, s"$root/in", s"$root/index",
      s"$root/out", s"$root/ckpt", maxFilesPerTrigger = Some(1))
    assert(SemStream.readVerdicts(spark, s"$root/out")
      .collect().map(_.toSeq).toSet === expected)
  }

  test("refresh loop: a batch's novel vectors are findable by later batches") {
    import spark.implicits._
    val root = graft.Scratch.fresh("sref")
    val dim = 4
    def axis(i: Int, v: Double = 1.0): Seq[Double] =
      Seq.tabulate(dim)(j => if (j == i % dim) v else 0.05 * ((i / dim) + 1))
    // Base: 16 spread vectors (all become centroids) + 4 near-copies of
    // direction 0 — cell 0 gets multiple members, so the build-time τ is
    // a real (< 1) within-cell percentile instead of NULL.
    val base = ((0 until 16).map(i => (i.toLong, axis(i))) ++
      (16 until 20).map(i => (i.toLong, Seq(1.0, 0.01 * (i - 15), 0.0, 0.0))))
      .toDF("vec_id", "embedding")
    VectorOps.buildSemIndex(spark, base, s"$root/index")
    val tau = IndexStore.kind(spark, s"$root/index", "sem").tau.get
    assert(tau > 0.9 && tau < 1.0, s"fixture must calibrate a usable tau: $tau")

    def wave(rows: (Long, Seq[Double])*) = rows.toSeq.toDF("vec_id", "embedding")
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("vec_id")))

    // Wave 1: a direction far from every base vector — novel.
    val novelVec = Seq(-0.5, -0.5, 0.5, 0.5)
    wave(100L -> novelVec).coalesce(1).write.parquet(s"$root/in")
    SemStream.runProbeWithRefresh(spark, s"$root/in", s"$root/index",
      s"$root/out", s"$root/ckpt")
    val w1 = SemStream.readVerdicts(spark, s"$root/out")
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    assert(w1(100L) === "novel")

    // Wave 2: an exact copy of wave 1's vector. Without the refresh it
    // would read novel (nothing near it in the base); with it the store
    // already holds vec 100 — cos = 1 clears τ.
    wave(200L -> novelVec).coalesce(1).write.mode("append").parquet(s"$root/in")
    SemStream.runProbeWithRefresh(spark, s"$root/in", s"$root/index",
      s"$root/out", s"$root/ckpt")
    val w2 = SemStream.readVerdicts(spark, s"$root/out")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(2), if (r.isNullAt(3)) -1L else r.getLong(3)))).toMap
    assert(w2(200L) === (("dup", 100L)), s"semantic dup of a refreshed vec: ${w2(200L)}")
    assert(w2(100L)._1 === "novel", "wave-1 verdicts must be untouched")
  }
}
