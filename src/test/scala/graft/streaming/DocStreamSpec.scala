package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Streaming document monitor ≡ its batch twin on the same corpus: the
  * gate projection is one shared function, so the assertion is that the
  * windowed streaming aggregation loses/duplicates nothing relative to
  * running the identical expressions in batch.
  */
class DocStreamSpec extends SparkSpec {

  private lazy val docsDir: String = {
    val dir = graft.Scratch.fresh("docs")
    DocStream.withEventTime(Tables(spark, "/root/testdata/sf0.001", "documents"))
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("windowed screen counters match the batch twin exactly") {
    val streamed = EventStream.runAvailableNow(spark,
      DocStream.monitor(DocStream.read(spark, docsDir)), "doc_monitor")
    val batch = DocStream.gateProjection(
        spark.read.parquet(docsDir))
      .groupBy(window(col("ts"), "1 hour").as("w"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("watermark_flag"), 1)).as("n_watermarked"),
        count(when(col("loopy"), 1)).as("n_loopy"),
        count(when(col("too_short"), 1)).as("n_too_short"))
      .select(col("w.start").as("hour_start"), col("source"), col("n_docs"),
        col("n_watermarked"), col("n_loopy"), col("n_too_short"))
    assert(streamed.count() === batch.count())
    val skey = streamed.select("hour_start", "source", "n_docs", "n_watermarked",
        "n_loopy", "n_too_short")
      .collect().map(_.toSeq).toSet
    val bkey = batch.collect().map(_.toSeq).toSet
    assert(skey === bkey, "streamed windows must equal the batch aggregation")
    assert(streamed.agg(sum("n_docs")).head().getLong(0) === 500L)
  }

  test("screen flags agree with the batch queries that define them") {
    // watermark_flag ≡ q197's flag, loopy ≡ q195's longest_run >= 8
    val proj = DocStream.gateProjection(
      DocStream.withEventTime(Tables(spark, "/root/testdata/sf0.001", "documents")))
      .select(col("doc_id"), col("watermark_flag"), col("loopy"))
      .collect().map(r => r.getLong(0) -> ((r.getBoolean(1), r.getBoolean(2)))).toMap
    val q197 = graft.SparkEntry.queries("q197_watermark_detect")(
      spark, "/root/testdata/sf0.001")
      .select("doc_id", "watermark_flag")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val q195 = graft.SparkEntry.queries("q195_repetition_loops")(
      spark, "/root/testdata/sf0.001")
      .select("doc_id", "longest_run")
      .collect().map(r => r.getLong(0) -> (r.getLong(1) >= 8L)).toMap
    proj.foreach { case (id, (wm, lp)) =>
      assert(wm === q197(id), s"watermark drift doc $id")
      assert(lp === q195(id), s"loop drift doc $id")
    }
  }

  test("loopy screen uses q195's tokenizer, not the watermark's, on multi-space text") {
    // Double-spaced repetition: q195's split(text, ' ') interleaves empty
    // tokens (longest run 1 → NOT loopy); the watermark's trim+'\s+'
    // convention would see a run of 9 and flag it. The two screens must
    // each track their defining batch query — this fixture is the exact
    // divergence a single shared tokenizer hid.
    import spark.implicits._
    val rows = Seq(
      (1L, ("x " * 9).trim.replace(" ", "  ")),      // "x  x  ..." double-spaced
      (2L, ("x " * 9).trim),                          // single-spaced: genuinely loopy
      (3L, "  lead trail  "))                         // trim-sensitive edges
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val got = DocStream.gateProjection(DocStream.withEventTime(rows))
      .select("doc_id", "loopy")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(got(1L) === false, "double-spaced run must follow q195 (empty tokens break runs)")
    assert(got(2L) === true, "single-spaced run of 9 is loopy")
    assert(got(3L) === false)
  }

  test("alerts fire for the poisoned (hour, source) cell on stream and batch alike") {
    import spark.implicits._
    // Hour 0: srcA floods with loopy spam (30 docs of "x x x …"),
    // srcB stays clean (30 normal docs). Hour 1: srcA recovers.
    def doc(id: Long, text: String, src: String) =
      (id, text, "en", src, text.length.toLong)
    val spam = ("x " * 20).trim
    val clean = (1 to 12).map(i => s"w$i").mkString(" ")
    val rows = ((0L until 30L).map(i => doc(i, spam, "srcA")) ++
      (100L until 130L).map(i => doc(i, clean, "srcB")) ++
      (3600L until 3630L).map(i => doc(i, clean, "srcA")))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = graft.Scratch.fresh("alerts")
    DocStream.withEventTime(rows).write.mode("overwrite").parquet(dir)
    val streamed = EventStream.runAvailableNow(spark,
      DocStream.monitor(DocStream.read(spark, dir)), "doc_alerts")
    val fromStream = DocStream.alerts(streamed)
      .select("source", "n_docs").collect().map(_.toSeq)
    val fromBatch = DocStream.alerts(
        DocStream.gateProjection(spark.read.parquet(dir))
          .groupBy(window(col("ts"), "1 hour").as("w"), col("source"))
          .agg(count(lit(1)).as("n_docs"),
            count(when(col("watermark_flag"), 1)).as("n_watermarked"),
            count(when(col("loopy"), 1)).as("n_loopy"),
            count(when(col("too_short"), 1)).as("n_too_short"),
            count(when(!col("watermark_flag") && !col("loopy") && !col("too_short"), 1))
              .as("n_clean"))
          .select(col("w.start").as("hour_start"), col("source"), col("n_docs"),
            col("n_watermarked"), col("n_loopy"), col("n_too_short"), col("n_clean")))
      .select("source", "n_docs").collect().map(_.toSeq)
    assert(fromStream.toSeq === Seq(Seq("srcA", 30L)),
      s"exactly the poisoned cell must alert: ${fromStream.toSeq}")
    assert(fromBatch.toSeq === fromStream.toSeq, "stream and batch alerts must agree")
  }
}
