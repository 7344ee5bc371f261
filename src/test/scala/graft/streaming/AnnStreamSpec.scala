package graft.streaming

import graft.{SparkSpec, Tables}
import graft.operators.IndexStore
import graft.queries.VectorOps
import org.apache.spark.sql.functions._

/** Streaming ANN retrieval over the persisted IVFADC index
  * ([[SemStream.runAnnProbe]]) — the probe is `probeIvfAdcTop3`, the
  * same function batch q243 calls, so the spec proves the streaming
  * plumbing loses and invents nothing:
  *
  *  1. STREAM ≡ BATCH — q243's query split streamed over 4 micro-batches
  *     (with injected in-stream id duplicates) emits exactly the
  *     registered q243 rows, and a checkpoint re-run adds nothing.
  *  2. REFRESH — a later batch retrieves a vector an earlier batch
  *     ingested: appended vectors get cells from the frozen centroids
  *     and codes from the frozen books, no re-training.
  *  3. COMPACTION INVARIANCE — the same stream with aggressive
  *     compaction (vectors + codes rewritten mid-stream) emits
  *     bit-identical results.
  */
class AnnStreamSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("multi-batch ANN stream results equal batch q243 results") {
    val root = graft.Scratch.fresh("astream")
    val e = Tables(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    VectorOps.buildSemIndex(spark, e.filter(col("vec_id") % 5 =!= 0), s"$root/index")
    // lloydIters = 1 mirrors the registered q243 build (builtIvfAdc).
    VectorOps.addPqToSemIndex(spark, s"$root/index", lloydIters = 1)

    // Stream input: q243's query split + injected in-stream id dups.
    val probe = e.filter(col("vec_id") % 5 === 0 && col("vec_id") < 40)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("vec_id")))
    probe.union(probe.filter(col("vec_id") % 20 === 0)).repartition(4)
      .write.mode("overwrite").parquet(s"$root/in")

    SemStream.runAnnProbe(spark, s"$root/in", s"$root/index",
      s"$root/out", s"$root/ckpt", maxFilesPerTrigger = Some(1))

    val streamed = SemStream.readAnnResults(spark, s"$root/out")
      .collect().map(_.toSeq).toSet
    val expected = graft.SparkEntry.queries("q243_ivfadc_search")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamed === expected,
      "streamed ADC results must equal the registered q243 output")

    // Idempotence: a checkpoint re-run with no new files changes nothing.
    SemStream.runAnnProbe(spark, s"$root/in", s"$root/index",
      s"$root/out", s"$root/ckpt", maxFilesPerTrigger = Some(1))
    assert(SemStream.readAnnResults(spark, s"$root/out")
      .collect().map(_.toSeq).toSet === expected)
  }

  private def fixtureIndex(root: String): Unit = {
    import spark.implicits._
    val dim = 4
    def axis(i: Int): Seq[Double] =
      Seq.tabulate(dim)(j => if (j == i % dim) 1.0 else 0.05 * ((i / dim) + 1))
    // 16 spread vectors (all become centroids + PQ seed residuals) + 4
    // near-copies of direction 0 so cells have real occupancy.
    val base = ((0 until 16).map(i => (i.toLong, axis(i))) ++
      (16 until 20).map(i => (i.toLong, Seq(1.0, 0.01 * (i - 15), 0.0, 0.0))))
      .toDF("vec_id", "embedding")
    VectorOps.buildSemIndex(spark, base, s"$root/index")
    VectorOps.addPqToSemIndex(spark, s"$root/index")
  }

  private def runWaves(root: String, compactAboveFiles: Option[Long]):
      Set[Seq[Any]] = {
    import spark.implicits._
    def wave(path: String, rows: (Long, Seq[Double])*): Unit =
      rows.toSeq.toDF("vec_id", "embedding")
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("vec_id")))
        .coalesce(1).write.mode("append").parquet(path)
    val novelVec = Seq(-0.5, -0.5, 0.5, 0.5)
    // Wave 1 ingests a direction far from every base vector; wave 2
    // queries an exact copy — retrievable only through the refresh.
    wave(s"$root/in", 100L -> novelVec)
    SemStream.runAnnProbe(spark, s"$root/in", s"$root/index",
      s"$root/out", s"$root/ckpt", refresh = true,
      compactAboveFiles = compactAboveFiles)
    wave(s"$root/in", 200L -> novelVec)
    SemStream.runAnnProbe(spark, s"$root/in", s"$root/index",
      s"$root/out", s"$root/ckpt", refresh = true,
      compactAboveFiles = compactAboveFiles)
    SemStream.readAnnResults(spark, s"$root/out")
      .collect().map(_.toSeq).toSet
  }

  test("refresh: a later batch retrieves an earlier batch's vector") {
    val root = graft.Scratch.fresh("aref")
    fixtureIndex(root)
    val res = runWaves(root, compactAboveFiles = None)
    val q200 = res.filter(_.head == 200L)
      .map(r => (r(1).asInstanceOf[Long], r(3).asInstanceOf[Int]))
    assert(q200.nonEmpty, "wave-2 query must land in a probed cell")
    // ADC scores the QUANTIZED residual, so an exact copy is guaranteed
    // retrievable (same cell, top-3 of a probed cell), not guaranteed
    // rank 1 — rank order among close candidates is the quantizer's.
    assert(q200.exists(_._1 == 100L),
      s"query 200 must retrieve wave-1's ingested vec 100: $q200")
    assert(q200.filter(_._1 == 100L).map(_._2).min <= 3,
      "the refreshed vector must sit in the emitted top-3")
  }

  test("mid-stream compaction leaves results bit-identical") {
    val plainRoot = graft.Scratch.fresh("ac0")
    val compactRoot = graft.Scratch.fresh("ac1")
    fixtureIndex(plainRoot)
    fixtureIndex(compactRoot)
    val plain = runWaves(plainRoot, compactAboveFiles = None)
    val compacted = runWaves(compactRoot, compactAboveFiles = Some(1L))
    assert(IndexStore.fileCount(spark, s"$compactRoot/index", Seq("vectors")) <
      IndexStore.fileCount(spark, s"$plainRoot/index", Seq("vectors")),
      "the aggressive threshold must actually have compacted")
    assert(compacted === plain,
      "compaction mid-stream must not change any emitted result")
  }
}
