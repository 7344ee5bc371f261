package graft.streaming

import graft.SparkSpec
import graft.operators.IndexStore
import graft.queries.DedupOps
import org.apache.spark.sql.functions._

/** The dedup index's two operational guarantees, pinned:
  *
  *  1. COMPACTION INVARIANCE — rewriting the append-accumulated index
  *     tables to their canonical collapsed form changes file counts and
  *     row counts but NOT one bit of any probe verdict (compaction
  *     applies the probe's own min/DISTINCT semantics ahead of time).
  *  2. RETRY SAFETY — a crash between the three non-atomic index appends
  *     followed by an at-least-once replay must re-probe the batch to
  *     the SAME verdicts (self-matches ignored) and complete the append,
  *     so near-dup recall is not silently degraded (the round-11 advice
  *     failure mode: exact/ written, bands/shingles permanently lost).
  */
class DedupCompactionSpec extends SparkSpec {
  import org.apache.spark.sql.DataFrame

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

  test("probe verdicts are bit-identical before and after compaction; files shrink") {
    val root = graft.Scratch.fresh("dcomp")
    val idx = s"$root/index"
    DedupOps.buildDedupIndex(docsDf(baseRows: _*), idx)

    // Multi-batch refresh run: three waves through the streaming loop,
    // then TWO verbatim retry re-appends of wave-1's novel docs (the
    // at-least-once shape that accumulates duplicate generations).
    val novelText = (1 to 30).map(i => s"tok$i").mkString(" ")
    tsDocs(100L -> novelText).coalesce(1).write.parquet(s"$root/in")
    DedupStream.runProbeWithRefresh(spark, s"$root/in", idx,
      s"$root/out", s"$root/ckpt")
    tsDocs(200L -> novelText,
           201L -> "completely different words in this one here indeed")
      .coalesce(1).write.mode("append").parquet(s"$root/in")
    DedupStream.runProbeWithRefresh(spark, s"$root/in", idx,
      s"$root/out", s"$root/ckpt")
    DedupOps.appendToDedupIndex(docsDf(100L -> novelText), idx)
    DedupOps.appendToDedupIndex(docsDf(100L -> novelText), idx)

    // Fresh probe batch: an exact dup, a near dup, and a novel doc.
    val probe = docsDf(
      500L -> novelText,
      501L -> ((1 to 29).map(i => s"tok$i").mkString(" ") + " zzz"),
      502L -> "entirely novel content that matches nothing in the index at all")
    val before = DedupOps.probeDedupIndex(spark, probe, idx)
      .collect().map(_.toSeq).toSet
    val filesBefore = IndexStore.fileCount(spark, idx, IndexStore.tables(spark, idx))
    val exactRowsBefore = IndexStore.read(spark, idx, "exact").count()

    DedupOps.compactDedupIndex(spark, idx)

    val after = DedupOps.probeDedupIndex(spark, probe, idx)
      .collect().map(_.toSeq).toSet
    val filesAfter = IndexStore.fileCount(spark, idx, IndexStore.tables(spark, idx))
    val exactRowsAfter = IndexStore.read(spark, idx, "exact").count()

    assert(after === before, "compaction must not change any verdict bit")
    assert(before.exists(_.apply(1) == "exact") &&
      before.exists(_.apply(1) == "near") &&
      before.exists(_.apply(1) == "novel"),
      s"fixture must exercise all three verdicts: $before")
    assert(filesAfter < filesBefore,
      s"compaction must reduce data files ($filesBefore -> $filesAfter)")
    assert(exactRowsAfter < exactRowsBefore,
      "retry generations must physically collapse " +
        s"($exactRowsBefore -> $exactRowsAfter)")
    // Semantic collapse: one exact row per norm_key, one shingle row per doc.
    val ex = IndexStore.read(spark, idx, "exact")
    assert(ex.count() === ex.select("norm_key").distinct().count())
    val sh = IndexStore.read(spark, idx, "shingles")
    assert(sh.count() === sh.select("doc_id").distinct().count())
  }

  test("crash between appends + replay: same verdicts, append completed") {
    val root = graft.Scratch.fresh("dretry")
    val idx = s"$root/index"
    DedupOps.buildDedupIndex(docsDf(baseRows: _*), idx)

    val novelText = (1 to 30).map(i => s"mot$i").mkString(" ")
    val batch = docsDf(700L -> novelText)
    val v1 = DedupOps.probeDedupIndex(spark, batch, idx)
      .collect().map(_.toSeq).toSet
    assert(v1.head(1) === "novel")

    // Simulate the crash window: the exact table's append landed, the
    // bands/shingles appends did not (appendToDedupIndex writes exact
    // first — this is the only partial state a crash can leave plus the
    // exact+bands prefix, which the same filter covers). The partial
    // append goes through IndexStore.append — the same path the real
    // appender uses — so the simulated crash leaves a valid BUCKETED
    // file set, exactly like a real crash after the first table commit.
    IndexStore.append(
      DedupOps.normDocs(batch)
        .groupBy(col("norm_key")).agg(min(col("doc_id")).as("exact_doc")),
      idx, "exact")

    // Replay: the self-exact row must be ignored — same verdicts as the
    // first attempt, so the novel filter re-admits the doc.
    val v2 = DedupOps.probeDedupIndex(spark, batch, idx)
      .collect().map(_.toSeq).toSet
    assert(v2 === v1, "replay over a partial append must reproduce verdicts")
    DedupOps.appendToDedupIndex(batch, idx)

    // Recall restored: a near-copy of doc 700 must now band-match it —
    // exactly what was permanently lost before the self-match guard.
    val near = docsDf(800L -> ((1 to 29).map(i => s"mot$i").mkString(" ") + " qqq"))
    val v3 = DedupOps.probeDedupIndex(spark, near, idx).head()
    assert(v3.getString(1) === "near" && v3.getLong(2) === 700L,
      s"near-dup of the replayed doc must be found: $v3")
  }

  test("refresh loop auto-compacts past the file threshold, verdicts unchanged") {
    val root = graft.Scratch.fresh("dauto")
    def run(tag: String, compactAbove: Option[Long]): (Set[Seq[Any]], Long) = {
      val idx = s"$root/$tag/index"
      DedupOps.buildDedupIndex(docsDf(baseRows: _*), idx)
      val mk = (i: Long) => i -> (1 to 30).map(j => s"w${i}x$j").mkString(" ")
      tsDocs(mk(10), mk(11)).coalesce(1).write.parquet(s"$root/$tag/in")
      tsDocs(mk(12), mk(13)).coalesce(1).write.mode("append").parquet(s"$root/$tag/in")
      tsDocs(14L -> (1 to 30).map(j => s"w10x$j").mkString(" ")) // dup of 10
        .coalesce(1).write.mode("append").parquet(s"$root/$tag/in")
      DedupStream.runProbeWithRefresh(spark, s"$root/$tag/in", idx,
        s"$root/$tag/out", s"$root/$tag/ckpt", maxFilesPerTrigger = Some(1),
        compactAboveFiles = compactAbove)
      (DedupStream.readVerdicts(spark, s"$root/$tag/out")
         .collect().map(_.toSeq).toSet,
       IndexStore.fileCount(spark, idx, IndexStore.tables(spark, idx)))
    }
    val (plain, filesPlain) = run("plain", None)
    val (auto, filesAuto) = run("auto", Some(3L))
    assert(auto === plain, "auto-compaction must not change verdicts")
    assert(filesAuto < filesPlain,
      s"threshold must have fired ($filesPlain -> $filesAuto)")
    assert(plain.exists(_.apply(1) == "exact"),
      "fixture must include a cross-batch dup surviving compaction")
  }
}
