package graft.streaming

import graft.{SparkSpec, Tables}
import graft.queries.VectorOps
import org.apache.spark.sql.functions._

/** Streaming retrieval over the persisted graph index
  * ([[SemStream.runGraphProbe]]) — searches run through the SAME
  * `probeGraphIndex` function batch q250 calls:
  *
  *  1. STREAM ≡ BATCH — q250's query split streamed over 4 micro-batches
  *     (plus injected in-stream id dups) emits exactly the registered
  *     q250 rows.
  *  2. CROSS-BATCH RETRIEVAL — with refresh on, a vector ingested in
  *     wave 1 is found by wave 2's exact-copy query, reachable ONLY
  *     through the reverse edges the insert laid down (its cell had no
  *     out-edges at build time).
  *  3. COMPACTION INVARIANCE — a dual run with mid-stream compaction
  *     (degree re-trim included) emits the same results.
  */
class GraphStreamSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("multi-batch graph stream results equal batch q250 results") {
    val root = graft.Scratch.fresh("gstream")
    val e = Tables(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    VectorOps.buildSemIndex(spark, e.filter(col("vec_id") % 5 =!= 0), s"$root/index")
    VectorOps.addGraphToSemIndex(spark, s"$root/index")

    val probe = e.filter(col("vec_id") % 5 === 0 && col("vec_id") < 40)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding"))
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("vec_id")))
    probe.union(probe.filter(col("vec_id") % 20 === 0)).repartition(4)
      .write.mode("overwrite").parquet(s"$root/in")

    SemStream.runGraphProbe(spark, s"$root/in", s"$root/index",
      s"$root/out", s"$root/ckpt", maxFilesPerTrigger = Some(1))

    val streamed = SemStream.readGraphResults(spark, s"$root/out")
      .collect().map(_.toSeq).toSet
    val expected = graft.SparkEntry.queries("q250_graph_index_search")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamed === expected,
      "streamed graph-search results must equal the registered q250 output")
  }

  private def fixtureIndex(root: String): Unit = {
    import spark.implicits._
    val dim = 4
    def axis(i: Int): Seq[Double] =
      Seq.tabulate(dim)(j => if (j == i % dim) 1.0 else 0.05 * ((i / dim) + 1))
    val base = ((0 until 16).map(i => (i.toLong, axis(i))) ++
      (16 until 20).map(i => (i.toLong, Seq(1.0, 0.01 * (i - 15), 0.0, 0.0))))
      .toDF("vec_id", "embedding")
    VectorOps.buildSemIndex(spark, base, s"$root/index")
    VectorOps.addGraphToSemIndex(spark, s"$root/index")
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
    // queries an exact copy — retrievable only through the refresh's
    // reverse edges (the novel vector's cell had no edges at build).
    wave(s"$root/in", 300L -> novelVec)
    SemStream.runGraphProbe(spark, s"$root/in", s"$root/index",
      s"$root/out", s"$root/ckpt", maxFilesPerTrigger = Some(1),
      refresh = true, compactAboveFiles = compactAboveFiles)
    wave(s"$root/in", 400L -> novelVec.map(_ * 2.0))
    SemStream.runGraphProbe(spark, s"$root/in", s"$root/index",
      s"$root/out", s"$root/ckpt", maxFilesPerTrigger = Some(1),
      refresh = true, compactAboveFiles = compactAboveFiles)
    SemStream.readGraphResults(spark, s"$root/out")
      .collect().map(_.toSeq).toSet
  }

  test("refresh: wave-2 query retrieves the vector wave 1 ingested") {
    val root = graft.Scratch.fresh("gwave")
    fixtureIndex(root)
    val results = runWaves(root, compactAboveFiles = None)
    val w2 = results.collect {
      case Seq(400L, found: Long, cos: Double) => (found, cos)
    }
    assert(w2 === Set((300L, 1.0)),
      s"wave-2 exact copy must retrieve the ingested vector: $results")
  }

  test("mid-stream compaction leaves results invariant and degree bounded") {
    val a = graft.Scratch.fresh("gc_a")
    val b = graft.Scratch.fresh("gc_b")
    fixtureIndex(a); fixtureIndex(b)
    val plain = runWaves(a, compactAboveFiles = None)
    val compacted = runWaves(b, compactAboveFiles = Some(1L))
    assert(plain === compacted,
      "mid-stream compaction must not change any search result")
    val deg = graft.operators.IndexStore.read(spark, s"$b/index", "gedges")
      .groupBy(col("src")).count()
      .agg(max(col("count"))).head().getLong(0)
    assert(deg <= 4L, s"compaction must re-trim the degree bound: $deg")
  }
}
