package graft.streaming

import graft.SparkSpec
import graft.operators.IndexStore
import graft.queries.VectorOps
import org.apache.spark.sql.functions._

/** The semantic index's compaction arm, pinned the DedupCompactionSpec
  * way: rewriting the replay-accumulated vector store to one row per
  * vec_id changes file and row counts but NOT one bit of any probe
  * verdict (the probe's argmax already collapses duplicate rows —
  * compaction materializes that collapse), and the streaming refresh
  * loop auto-compacts past the file threshold with verdicts unchanged. */
class SemCompactionSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

  private val dim = 4
  private def axis(i: Int): Seq[Double] =
    Seq.tabulate(dim)(j => if (j == i % dim) 1.0 else 0.05 * ((i / dim) + 1))

  private def vecsDf(rows: (Long, Seq[Double])*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("vec_id", "embedding")
  }

  private def tsVecs(rows: (Long, Seq[Double])*): DataFrame =
    vecsDf(rows: _*)
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("vec_id")))

  /** 16 spread vectors (the centroid seed) + near-copies of direction 0
    * so the build-time τ is a real within-cell percentile. */
  private def baseRows: Seq[(Long, Seq[Double])] =
    (0 until 16).map(i => (i.toLong, axis(i))) ++
      (16 until 20).map(i => (i.toLong, Seq(1.0, 0.01 * (i - 15), 0.0, 0.0)))

  test("probe verdicts bit-identical before and after compaction; files shrink") {
    val root = graft.Scratch.fresh("scomp")
    val idx = s"$root/index"
    VectorOps.buildSemIndex(spark, vecsDf(baseRows: _*), idx)

    // Accumulate replay generations: the same novel vector appended
    // three times (the at-least-once shape), plus a second novel one.
    val novelVec = Seq(-0.5, -0.5, 0.5, 0.5)
    VectorOps.appendToSemIndex(spark, vecsDf(100L -> novelVec), idx)
    VectorOps.appendToSemIndex(spark, vecsDf(100L -> novelVec), idx)
    VectorOps.appendToSemIndex(spark, vecsDf(100L -> novelVec), idx)
    VectorOps.appendToSemIndex(spark,
      vecsDf(101L -> Seq(0.5, -0.5, -0.5, 0.5)), idx)

    // Fresh probe: a semantic dup of the refreshed vector + a novel one.
    val probe = vecsDf(
      500L -> novelVec,
      501L -> Seq(-0.1, 0.7, -0.1, -0.7))
    val before = VectorOps.probeSemIndex(spark, probe, idx)
      .collect().map(_.toSeq).toSet
    val filesBefore = IndexStore.fileCount(spark, idx, Seq("vectors"))
    val rowsBefore = IndexStore.read(spark, idx, "vectors").count()

    VectorOps.compactSemIndex(spark, idx)

    val after = VectorOps.probeSemIndex(spark, probe, idx)
      .collect().map(_.toSeq).toSet
    assert(after === before, "compaction must not change any verdict bit")
    assert(before.exists(_.apply(2) == "dup") && before.exists(_.apply(2) == "novel"),
      s"fixture must exercise both verdicts: $before")
    assert(IndexStore.fileCount(spark, idx, Seq("vectors")) < filesBefore,
      s"compaction must reduce data files (was $filesBefore)")
    val vs = IndexStore.read(spark, idx, "vectors")
    assert(vs.count() < rowsBefore, "replay generations must physically collapse")
    assert(vs.count() === vs.select("vec_id").distinct().count())
  }

  test("refresh loop auto-compacts past the file threshold, verdicts unchanged") {
    val root = graft.Scratch.fresh("sauto")
    def run(tag: String, compactAbove: Option[Long]): (Set[Seq[Any]], Long) = {
      val idx = s"$root/$tag/index"
      VectorOps.buildSemIndex(spark, vecsDf(baseRows: _*), idx)
      // Three micro-batches of novel directions, then a dup of the first.
      tsVecs(100L -> Seq(-0.5, -0.5, 0.5, 0.5)).coalesce(1)
        .write.parquet(s"$root/$tag/in")
      tsVecs(101L -> Seq(0.5, -0.5, -0.5, 0.5)).coalesce(1)
        .write.mode("append").parquet(s"$root/$tag/in")
      tsVecs(102L -> Seq(-0.5, 0.5, -0.5, 0.5)).coalesce(1)
        .write.mode("append").parquet(s"$root/$tag/in")
      tsVecs(200L -> Seq(-0.5, -0.5, 0.5, 0.5)).coalesce(1)
        .write.mode("append").parquet(s"$root/$tag/in")
      SemStream.runProbeWithRefresh(spark, s"$root/$tag/in", idx,
        s"$root/$tag/out", s"$root/$tag/ckpt", maxFilesPerTrigger = Some(1),
        compactAboveFiles = compactAbove)
      (SemStream.readVerdicts(spark, s"$root/$tag/out")
         .collect().map(_.toSeq).toSet,
       IndexStore.fileCount(spark, idx, Seq("vectors")))
    }
    val (plain, filesPlain) = run("plain", None)
    val (auto, filesAuto) = run("auto", Some(2L))
    assert(auto === plain, "auto-compaction must not change verdicts")
    assert(filesAuto < filesPlain,
      s"threshold must have fired ($filesPlain -> $filesAuto)")
    assert(plain.exists(r => r(2) == "dup" && r(0) == 200L),
      s"cross-batch semantic dup must survive compaction: $plain")
  }
}
