package graft.streaming

import graft.SparkSpec
import graft.operators.IndexStore
import graft.queries.DedupOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The auto-rebucket arm of the streaming refresh (round 16): a
  * long-lived index fed by `runProbeWithRefresh` outgrows its frozen
  * build-time bucket count; when a table's rows-per-bucket cross the
  * configured target, `IndexStore.rebucketIfGrown` rewrites it to the
  * next power-of-two count under the writer lock, BETWEEN micro-batches
  * — the compaction-threshold pattern applied to layout. Pinned:
  *
  *  1. INVARIANCE — verdicts from a multi-wave refresh with the
  *     threshold crossing mid-run are bit-identical to a no-rebucket
  *     twin, and a fresh post-run probe matches the twin's too (rows
  *     untouched, only layout).
  *  2. GROWTH — the bucket count actually grew past the build default,
  *     spec files updated, grow-only (a second pass at the same bytes
  *     never shrinks or flaps).
  */
class DedupRebucketSpec extends SparkSpec {

  private def docsDf(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }

  private def tsDocs(rows: (Long, String)*): DataFrame =
    docsDf(rows: _*)
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))

  private val baseRows = Seq(
    1L -> "the quick brown fox jumps over the lazy dog",
    2L -> "pack my box with five dozen liquor jugs")

  test("refresh auto-rebuckets past the growth threshold; verdicts and probes invariant") {
    val root = graft.Scratch.fresh("drbk")
    def run(tag: String, target: Option[Long]): (Set[Seq[Any]], String) = {
      val idx = s"$root/$tag/index"
      DedupOps.buildDedupIndex(docsDf(baseRows: _*), idx)
      val mk = (i: Long) => i -> (1 to 30).map(j => s"w${i}x$j").mkString(" ")
      tsDocs(mk(10), mk(11)).coalesce(1).write.parquet(s"$root/$tag/in")
      tsDocs(mk(12), mk(13)).coalesce(1).write.mode("append")
        .parquet(s"$root/$tag/in")
      tsDocs(14L -> (1 to 30).map(j => s"w10x$j").mkString(" ")) // dup of 10
        .coalesce(1).write.mode("append").parquet(s"$root/$tag/in")
      DedupStream.runProbeWithRefresh(spark, s"$root/$tag/in", idx,
        s"$root/$tag/out", s"$root/$tag/ckpt", maxFilesPerTrigger = Some(1),
        rebucketAboveRowsPerBucket = target)
      (DedupStream.readVerdicts(spark, s"$root/$tag/out")
        .collect().map(_.toSeq).toSet, idx)
    }
    val (plain, plainIdx) = run("plain", None)
    // The bands table holds 4 rows per doc (the 4x4 scheme's band keys)
    // -> 28 rows across base + waves vs a 1-row/bucket target: over
    // budget from the first waves on, while the 7-row exact and
    // shingle doc-stores never cross it (grow-only, per table).
    val (auto, autoIdx) = run("auto", Some(1L))
    assert(auto === plain,
      "mid-run rebuckets must not change one verdict bit")
    assert(plain.exists(_.apply(1) == "exact"),
      "fixture must include a cross-batch dup probed after a rebucket")

    val grown = IndexStore.tables(spark, autoIdx).map(t =>
      t -> IndexStore.spec(spark, autoIdx, t).map(_._1))
    assert(grown.forall(_._2.isDefined), s"tables must stay bucketed: $grown")
    assert(grown.exists(_._2.exists(_ > IndexStore.DefaultBuckets)),
      s"at least one table must have outgrown the default count: $grown")
    grown.foreach { case (t, n) =>
      val twin = IndexStore.spec(spark, plainIdx, t).map(_._1)
      assert(n.exists(c => twin.exists(c >= _)), s"grow-only: $t $n vs $twin")
    }

    // Fresh probe after the run: bit-identical across layouts.
    val probe = docsDf(
      500L -> (1 to 30).map(j => s"w10x$j").mkString(" "),
      501L -> ((1 to 29).map(j => s"w12x$j").mkString(" ") + " zzz"),
      502L -> "entirely novel content that matches nothing in the index")
    val a = DedupOps.probeDedupIndex(spark, probe, autoIdx)
      .collect().map(_.toSeq).toSet
    val p = DedupOps.probeDedupIndex(spark, probe, plainIdx)
      .collect().map(_.toSeq).toSet
    assert(a === p, "post-run probes must be layout-invariant")

    // Stability: re-running the trigger at unchanged rows is a no-op.
    val before = grown.toMap
    IndexStore.tables(spark, autoIdx).foreach { t =>
      IndexStore.rebucketIfGrown(spark, autoIdx, t, 1L)
    }
    IndexStore.tables(spark, autoIdx).foreach { t =>
      assert(IndexStore.spec(spark, autoIdx, t).map(_._1) === before(t),
        s"unchanged rows must not re-trigger a rewrite: $t")
    }
  }

  /** The semantic-index twin: SemStream's refresh rebuckets the
    * `vectors` store past the threshold with probe verdicts invariant
    * (absent `codes`/`gedges` artifacts are a no-op — no bucket spec,
    * nothing to rewrite). */
  test("semantic refresh auto-rebuckets the vector store; verdicts invariant") {
    import spark.implicits._
    val dim = 4
    def axis(i: Int): Seq[Double] =
      Seq.tabulate(dim)(j => if (j == i % dim) 1.0 else 0.05 * ((i / dim) + 1))
    val base = ((0 until 16).map(i => (i.toLong, axis(i))) ++
      (16 until 20).map(i => (i.toLong, Seq(1.0, 0.01 * (i - 15), 0.0, 0.0))))
      .toDF("vec_id", "embedding")
    val root = graft.Scratch.fresh("srbk")
    def wave(tag: String, rows: (Long, Seq[Double])*) =
      rows.toSeq.toDF("vec_id", "embedding")
        .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("vec_id")))
        .coalesce(1).write.mode("append").parquet(s"$root/$tag/in")
    def run(tag: String, target: Option[Long]): (Map[Long, String], String) = {
      val idx = s"$root/$tag/index"
      graft.queries.VectorOps.buildSemIndex(spark, base, idx)
      wave(tag, 100L -> Seq(-0.5, -0.5, 0.5, 0.5))
      wave(tag, 200L -> Seq(-0.5, -0.5, 0.5, 0.5),
        201L -> Seq(0.5, -0.5, -0.5, 0.5))
      SemStream.runProbeWithRefresh(spark, s"$root/$tag/in", idx,
        s"$root/$tag/out", s"$root/$tag/ckpt", maxFilesPerTrigger = Some(1),
        rebucketAboveRowsPerBucket = target)
      (SemStream.readVerdicts(spark, s"$root/$tag/out")
        .collect().map(r => r.getLong(0) -> r.getString(2)).toMap, idx)
    }
    val (plain, plainIdx) = run("plain", None)
    // 20 base + ingested rows vs a 1-row/bucket target: the 8-bucket
    // default crosses from the first wave.
    val (auto, autoIdx) = run("auto", Some(1L))
    assert(auto === plain, "rebuckets must not change semantic verdicts")
    assert(auto(200L) === "dup", "cross-batch semantic dup must survive")
    val n = IndexStore.spec(spark, autoIdx, "vectors").map(_._1)
    assert(n.exists(_ > IndexStore.DefaultBuckets),
      s"vector store must have outgrown the default count: $n")
    assert(IndexStore.spec(spark, plainIdx, "vectors").map(_._1) ===
      Some(IndexStore.DefaultBuckets), "twin stays at the build count")
  }
}
