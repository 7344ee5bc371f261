package graft.streaming

import graft.{SparkSpec, Tables}
import graft.queries.DedupOps
import org.apache.spark.sql.functions._

/** Streaming incremental dedup ≡ batch q112 on the same split: the index
  * is built once from the base corpus, the q112 "new crawl" split arrives
  * as a MULTI-micro-batch file stream (with injected in-stream id
  * duplicates), and the union of per-batch probe verdicts must equal the
  * batch query's — same probe function, so equality is by construction;
  * the spec proves the streaming plumbing (watermark id-dedup, per-batch
  * idempotent sink, state across batches) loses and invents nothing.
  */
class DedupStreamSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("multi-batch stream probe verdicts equal batch q112 verdicts") {
    val root = graft.Scratch.fresh("dstream")
    val docs = Tables(spark, sf, "documents").select(col("doc_id"), col("text"))
    val base = docs.filter(col("doc_id") % 5 =!= 0)
    val batch = docs.filter(col("doc_id") % 5 === 0)
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))

    DedupOps.buildDedupIndex(base, s"$root/index")

    // Stream input: the crawl split plus in-stream duplicates (every 4th
    // doc delivered twice — the crawler-retry shape the watermark dedup
    // must absorb), spread over 4 files → 4 micro-batches at
    // maxFilesPerTrigger=1.
    val dups = batch.filter(col("doc_id") % 20 === 0)
    batch.union(dups).repartition(4)
      .write.mode("overwrite").parquet(s"$root/in")

    DedupStream.runProbe(spark, s"$root/in", s"$root/index",
      s"$root/out", s"$root/ckpt", maxFilesPerTrigger = Some(1))

    val streamed = DedupStream.readVerdicts(spark, s"$root/out")
      .collect().map(_.toSeq).toSet
    val expected = graft.SparkEntry.queries("q112_incremental_dedup")(spark, sf)
      .collect().map(_.toSeq).toSet
    assert(streamed.size === batch.count(),
      "one verdict per unique crawl doc — in-stream dups must be absorbed")
    assert(streamed === expected,
      "streamed probe verdicts must equal batch q112 on the same split")

    // Idempotence: re-running against the same checkpoint with no new
    // files must not change the emitted verdicts.
    DedupStream.runProbe(spark, s"$root/in", s"$root/index",
      s"$root/out", s"$root/ckpt", maxFilesPerTrigger = Some(1))
    val again = DedupStream.readVerdicts(spark, s"$root/out")
      .collect().map(_.toSeq).toSet
    assert(again === expected)
  }

  test("refresh loop: a batch's novel docs are findable by later batches") {
    import spark.implicits._
    val root = graft.Scratch.fresh("dref")
    def docsDf(rows: (Long, String)*) = rows.toSeq.toDF("doc_id", "text")
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))

    // Base corpus: unrelated text; the interesting docs arrive in-stream.
    DedupOps.buildDedupIndex(
      docsDf(1L -> "the quick brown fox jumps over the lazy dog",
             2L -> "pack my box with five dozen liquor jugs").drop("ts"),
      s"$root/index")

    // Wave 1: doc 100 is NOVEL (nothing like it in the base index).
    // 30 tokens: long enough that the one-token edit below still shares
    // 3 of 4 MinHash bands (verified against the q112 oracle's SQL
    // replica of graft_minhash — banding is deterministic per text, so
    // this fixture can't flake).
    val novelText = (1 to 30).map(i => s"tok$i").mkString(" ")
    val nearText = (1 to 29).map(i => s"tok$i").mkString(" ") + " zzz"
    docsDf(100L -> novelText)
      .coalesce(1).write.parquet(s"$root/in")
    DedupStream.runProbeWithRefresh(spark, s"$root/in", s"$root/index",
      s"$root/out", s"$root/ckpt")
    val w1 = DedupStream.readVerdicts(spark, s"$root/out")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(w1(100L) === "novel")

    // Wave 2 (same checkpoint — continues the stream): doc 200 is an
    // exact copy of 100, doc 201 a near-copy. Without the refresh both
    // would read novel; with it the index already holds doc 100.
    docsDf(200L -> novelText, 201L -> nearText)
      .coalesce(1).write.mode("append").parquet(s"$root/in")
    DedupStream.runProbeWithRefresh(spark, s"$root/in", s"$root/index",
      s"$root/out", s"$root/ckpt")
    val w2 = DedupStream.readVerdicts(spark, s"$root/out")
      .collect().map(r => (r.getLong(0), (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))))
      .toMap
    assert(w2(200L) === (("exact", 100L)), s"exact dup of a refreshed doc: ${w2(200L)}")
    assert(w2(201L)._1 === "near" && w2(201L)._2 === 100L,
      s"near dup of a refreshed doc: ${w2(201L)}")
    assert(w2(100L) === (("novel", -1L)), "wave-1 verdicts must be untouched")

    // Wave 3 edge: wave 1/2 never cross-checked INTRA-batch exact dups
    // (both would read novel and BOTH refresh into the index, sharing a
    // norm_key — the multi-generation case the probe's min collapse
    // exists for). Deliver two identical novel docs in one batch, then
    // a third copy in the next: its match must be the MINIMUM doc_id of
    // the generations, and exactly one verdict row must come back.
    val dupText = "one two three four five six seven eight nine ten"
    docsDf(300L -> dupText, 301L -> dupText)
      .coalesce(1).write.mode("append").parquet(s"$root/in")
    DedupStream.runProbeWithRefresh(spark, s"$root/in", s"$root/index",
      s"$root/out", s"$root/ckpt")
    docsDf(302L -> dupText)
      .coalesce(1).write.mode("append").parquet(s"$root/in")
    DedupStream.runProbeWithRefresh(spark, s"$root/in", s"$root/index",
      s"$root/out", s"$root/ckpt")
    val w3 = DedupStream.readVerdicts(spark, s"$root/out")
    assert(w3.filter(col("doc_id") === 302L).count() === 1L,
      "multi-generation key must not duplicate the verdict row")
    val r302 = w3.filter(col("doc_id") === 302L).head()
    assert(r302.getString(1) === "exact" && r302.getLong(2) === 300L,
      s"third copy must match the min generation: $r302")
  }
}
