package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

class EventStreamSpec extends SparkSpec {

  private lazy val eventsDir: String = {
    // Stream source needs a directory; materialize the sf0.001 events there.
    val dir = graft.Scratch.fresh("events")
    Tables(spark, "/root/testdata/sf0.001", "events")
      .write.mode("overwrite").parquet(dir)
    dir
  }

  test("hourly windowed aggregate matches the batch q20 totals") {
    implicit val s = spark
    val streamed = EventStream.runAvailableNow(spark,
      EventStream.hourlyByType(EventStream.read(spark, eventsDir)), "hourly")
    val batch = Tables(spark, "/root/testdata/sf0.001", "events")
      .groupBy(date_trunc("hour", col("ts")).as("hour_start"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    assert(streamed.count() === batch.count())
    assert(streamed.agg(sum("n_events")).head().getLong(0) ===
      batch.agg(sum("n_events")).head().getLong(0))
  }

  test("watermarked dedup passes distinct event_ids through") {
    implicit val s = spark
    val streamed = EventStream.runAvailableNow(spark,
      EventStream.dedup(EventStream.read(spark, eventsDir)), "deduped",
      OutputMode.Append())
    assert(streamed.select("event_id").distinct().count() === streamed.count())
    assert(streamed.count() === 1000)
  }

  test("stream-stream interval join matches the batch equivalent") {
    implicit val s = spark
    val streamed = EventStream.runAvailableNow(spark,
      EventStream.purchaseAttribution(EventStream.read(spark, eventsDir)),
      "attribution", OutputMode.Append())
    val e = Tables(spark, "/root/testdata/sf0.001", "events")
    val clicks = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    val purchases = e.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"), col("ts").as("purchase_ts"))
    val batch = purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("interval 30 minutes"))
    assert(streamed.count() === batch.count())
    assert(streamed.count() > 0)
  }

  test("foreachBatch gold rebuild produces the batch aggregate") {
    val gold = graft.Scratch.fresh("gold")
    EventStream.goldRebuild(spark, eventsDir, gold)
    val rebuilt = spark.read.parquet(s"$gold/events_by_type")
    val batch = Tables(spark, "/root/testdata/sf0.001", "events")
      .groupBy("event_type").agg(count(lit(1)).as("n"))
    assert(rebuilt.count() === batch.count())
    assert(rebuilt.agg(sum("n_events")).head().getLong(0) === 1000L)
  }

  test("gold rebuild keeps full totals when files arrive across many micro-batches") {
    // Split events into several files so maxFilesPerTrigger=1 forces a
    // multi-batch run: each batch sees only one new file, and gold must
    // still hold ALL events' contributions after the last batch.
    val bronze = graft.Scratch.fresh("bronze")
    Tables(spark, "/root/testdata/sf0.001", "events")
      .repartition(4).write.mode("overwrite").parquet(bronze)
    val nFiles = new java.io.File(bronze).listFiles()
      .count(f => f.getName.endsWith(".parquet"))
    assert(nFiles >= 2)
    val gold = graft.Scratch.fresh("gold_mb")
    EventStream.goldRebuild(spark, bronze, gold, maxFilesPerTrigger = Some(1))
    val rebuilt = spark.read.parquet(s"$gold/events_by_type")
    assert(rebuilt.agg(sum("n_events")).head().getLong(0) === 1000L)
  }

  test("streaming SCD2 emits exactly the batch query's closed intervals") {
    implicit val s = spark
    val stream = EventStream.scd2Stream(EventStream.read(spark, eventsDir))
    val out = EventStream.runAvailableNow(spark, stream, "scd2_closed",
      org.apache.spark.sql.streaming.OutputMode.Append())
    val batchClosed = graft.SparkEntry
      .queries("q69_scd2_intervals")(spark, "/root/testdata/sf0.001")
      .filter(col("valid_to").isNotNull)
      .select(col("user_id"), col("version"), col("event_type"),
        col("valid_from"), col("valid_to"))
    assert(out.count() > 0)
    assert(out.exceptAll(batchClosed).isEmpty && batchClosed.exceptAll(out).isEmpty,
      "streaming closed intervals must equal the batch q69 closed rows")
  }

  test("incremental merge gold equals the batch aggregate across batches and restarts") {
    val bronze = graft.Scratch.fresh("bronze_inc")
    val gold = graft.Scratch.fresh("gold_inc")
    val cp = graft.Scratch.fresh("cp_inc")
    val events = Tables(spark, "/root/testdata/sf0.001", "events")
    val firstWave = events.filter(col("event_id") % 5 =!= 0)
    val secondWave = events.filter(col("event_id") % 5 === 0)
    firstWave.repartition(3).write.mode("overwrite").parquet(bronze)
    // Run 1: three files, one per micro-batch — partials must MERGE, not
    // overwrite each other.
    EventStream.goldIncrementalMerge(spark, bronze, gold, cp,
      maxFilesPerTrigger = Some(1))
    val g1 = EventStream.readIncrementalGold(spark, gold)
    assert(g1.agg(sum("n_events")).head().getLong(0) === firstWave.count())
    // Run 2 on the SAME checkpoint after new files land: only the new wave
    // is read (offsets resume), and its partial merges into existing gold.
    secondWave.coalesce(1).write.mode("append").parquet(bronze)
    EventStream.goldIncrementalMerge(spark, bronze, gold, cp,
      maxFilesPerTrigger = Some(1))
    val g2 = EventStream.readIncrementalGold(spark, gold)
    val batchTwin = events.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,6)")).as("total_value"))
    assert(g2.agg(sum("n_events")).head().getLong(0) === 1000L)
    assert(g2.exceptAll(batchTwin).isEmpty && batchTwin.exceptAll(g2).isEmpty,
      "incremental merge must reproduce the batch aggregate exactly")
    // Replay idempotence: a batch id that already committed is a no-op.
    val commits = new java.io.File(s"$gold/events_by_type_inc_commits")
      .listFiles().map(_.getName).toSet
    assert(commits.nonEmpty)
    EventStream.goldIncrementalMerge(spark, bronze, gold, cp,
      maxFilesPerTrigger = Some(1))
    val g3 = EventStream.readIncrementalGold(spark, gold)
    assert(g3.agg(sum("n_events")).head().getLong(0) === 1000L,
      "re-run with no new data must not double-count")
  }

  test("incremental merge closes both crash windows (staged-uncommitted and replayed-committed)") {
    val gold = graft.Scratch.fresh("gold_crash")
    val events = Tables(spark, "/root/testdata/sf0.001", "events")
    val wave1 = events.filter(col("event_id") % 2 === 0)
    val wave2 = events.filter(col("event_id") % 2 =!= 0)
    EventStream.mergeIncrementalBatch(gold, 0L, wave1)
    val v0 = EventStream.readIncrementalGold(spark, gold)
      .agg(sum("n_events")).head().getLong(0)
    assert(v0 === wave1.count())
    // Crash window 1: batch 1 stages its versioned dir but dies before the
    // marker — forge that state by writing a GARBAGE staged dir (doubled
    // counts). Readers must not see it, and the replay must overwrite it
    // from the committed v0, not merge on top of it.
    val staged = s"$gold/events_by_type_inc_versions/batch_1"
    EventStream.readIncrementalGold(spark, gold)
      .withColumn("n_events", col("n_events") * 2)
      .write.mode("overwrite").parquet(staged)
    assert(EventStream.readIncrementalGold(spark, gold)
      .agg(sum("n_events")).head().getLong(0) === v0,
      "an uncommitted staged version must be invisible to readers")
    EventStream.mergeIncrementalBatch(gold, 1L, wave2)
    assert(EventStream.readIncrementalGold(spark, gold)
      .agg(sum("n_events")).head().getLong(0) === 1000L,
      "replay over a stale staged dir must rebuild from the committed version")
    // Crash window 2: batch 1 committed, but the stream's offset commit was
    // lost — the replayed (id, data) must be a no-op.
    EventStream.mergeIncrementalBatch(gold, 1L, wave2)
    assert(EventStream.readIncrementalGold(spark, gold)
      .agg(sum("n_events")).head().getLong(0) === 1000L,
      "replay of a committed batch must not double-count")
  }

  test("a reset checkpoint cannot collide with stale markers (epoch binding)") {
    val bronze = graft.Scratch.fresh("bronze_ep")
    val gold = graft.Scratch.fresh("gold_ep")
    val cp1 = graft.Scratch.fresh("cp_ep1")
    val events = Tables(spark, "/root/testdata/sf0.001", "events")
    val wave1 = events.filter(col("event_id") % 2 === 0)
    val wave2 = events.filter(col("event_id") % 2 =!= 0)
    wave1.coalesce(1).write.mode("overwrite").parquet(bronze)
    EventStream.goldIncrementalMerge(spark, bronze, gold, cp1)
    assert(EventStream.readIncrementalGold(spark, gold)
      .agg(sum("n_events")).head().getLong(0) === wave1.count())
    // The operator's lost-checkpoint scenario: checkpoint gone, goldDir
    // kept. A fresh checkpoint replays ALL files with batch ids restarting
    // at 0; the stale batch_0 marker must not make the replay skip them.
    wave2.coalesce(1).write.mode("append").parquet(bronze)
    val cp2 = graft.Scratch.fresh("cp_ep2")
    EventStream.goldIncrementalMerge(spark, bronze, gold, cp2)
    assert(EventStream.readIncrementalGold(spark, gold)
      .agg(sum("n_events")).head().getLong(0) === 1000L,
      "new data must reach gold after a checkpoint reset, not be skipped by stale markers")
  }

  test("pre-epoch (unbound) markers are purged on first epoch binding") {
    val bronze = graft.Scratch.fresh("bronze_ub")
    val gold = graft.Scratch.fresh("gold_ub")
    val cp = graft.Scratch.fresh("cp_ub")
    val events = Tables(spark, "/root/testdata/sf0.001", "events")
    val wave1 = events.filter(col("event_id") % 2 === 0)
    val wave2 = events.filter(col("event_id") % 2 =!= 0)
    // An output dir written BEFORE epoch binding existed: batch_* markers
    // present, no _epoch recorded. Adopting them into the new epoch would
    // resurrect the stale-marker skip bug for exactly one checkpoint reset.
    EventStream.mergeIncrementalBatch(gold, 0L, wave1)
    wave1.coalesce(1).write.mode("overwrite").parquet(bronze)
    wave2.coalesce(1).write.mode("append").parquet(bronze)
    EventStream.goldIncrementalMerge(spark, bronze, gold, cp)
    assert(EventStream.readIncrementalGold(spark, gold)
      .agg(sum("n_events")).head().getLong(0) === 1000L,
      "unbound markers must be treated as a dead lineage and purged, " +
        "not adopted into the fresh checkpoint's epoch")
  }

  test("epoch publish is atomic: torn _epoch and stale publish temps self-heal") {
    val bronze = graft.Scratch.fresh("bronze_at")
    val gold = graft.Scratch.fresh("gold_at")
    val cp1 = graft.Scratch.fresh("cp_at1")
    val events = Tables(spark, "/root/testdata/sf0.001", "events")
    events.coalesce(1).write.mode("overwrite").parquet(bronze)
    EventStream.goldIncrementalMerge(spark, bronze, gold, cp1)
    val commitDir = new java.io.File(s"$gold/events_by_type_inc_commits")
    // 1. a clean publish leaves a complete epoch and NO temp residue
    val epoch = java.nio.file.Files.readString(
      java.nio.file.Paths.get(commitDir.toString, "_epoch"))
    assert(java.util.UUID.fromString(epoch).toString === epoch,
      "_epoch must hold one complete UUID")
    assert(!commitDir.listFiles().exists(_.getName.endsWith(".tmp")),
      "publish temp must be renamed away, not left beside the markers")
    // 2. the pre-fix crash artifact — a TORN _epoch (truncated UUID) plus a
    // dangling publish temp — must read as a dead lineage: purge + full
    // rebuild under a fresh checkpoint, clean epoch after, temp gone.
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(commitDir.toString, "_epoch"), epoch.take(17))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(commitDir.toString, "._epoch.tmp"), "garbage")
    val cp2 = graft.Scratch.fresh("cp_at2")
    EventStream.goldIncrementalMerge(spark, bronze, gold, cp2)
    assert(EventStream.readIncrementalGold(spark, gold)
      .agg(sum("n_events")).head().getLong(0) === events.count(),
      "torn epoch must trigger purge + full rebuild, not a partial adopt")
    val after = java.nio.file.Files.readString(
      java.nio.file.Paths.get(commitDir.toString, "_epoch"))
    assert(java.util.UUID.fromString(after).toString === after)
    assert(!commitDir.listFiles().exists(_.getName.endsWith(".tmp")),
      "the purge + re-publish must not leave temp residue either")
  }

  test("version GC keeps the two largest committed ids even with id gaps") {
    val gold = graft.Scratch.fresh("gold_gc")
    val events = Tables(spark, "/root/testdata/sf0.001", "events")
    val third = events.filter(col("event_id") % 3 === 0)
    // Non-contiguous ids, as a stream with empty/skipped batches produces.
    EventStream.mergeIncrementalBatch(gold, 0L, third)
    EventStream.mergeIncrementalBatch(gold, 5L, third)
    EventStream.mergeIncrementalBatch(gold, 9L, third)
    val versions = new java.io.File(s"$gold/events_by_type_inc_versions")
      .listFiles().map(_.getName).toSet
    assert(versions === Set("batch_5", "batch_9"),
      "GC must keep the two LARGEST committed versions (batch_5 is the one " +
        "an in-flight reader of the previous version may hold), not latest-1 arithmetic")
    assert(EventStream.readIncrementalGold(spark, gold)
      .agg(sum("n_events")).head().getLong(0) === third.count() * 3)
  }

  test("streaming CMS merge is bit-identical to the batch sketch") {
    implicit val s = spark
    val docsDir = graft.Scratch.fresh("cms_stream")
    val sketchDir = graft.Scratch.fresh("cms_state")
    val cp = graft.Scratch.fresh("cms_cp")
    val docs = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select("doc_id", "text")
    docs.repartition(4).write.mode("overwrite").parquet(docsDir)
    EventStream.cmsTokenStream(spark, docsDir, sketchDir, cp,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))),
      maxFilesPerTrigger = Some(1)) // 4 micro-batches → 4 incremental merges
    val streamed = EventStream.readCmsSketch(spark, sketchDir)
      .head().getSeq[Long](0)
    val batch = docs
      .select(explode(split(col("text"), " ")).as("tok"))
      .withColumn("hm", expr("graft_h60(tok)"))
      .agg(graft.operators.CmsAgg(col("hm")).as("cms"))
      .head().getSeq[Long](0)
    assert(streamed === batch,
      "incrementally merged sketch must equal the batch sketch bit-for-bit")
    // Retention: sketch version dirs must not accumulate unboundedly —
    // 4 micro-batches committed, only the two latest versions remain.
    val vdirs = new java.io.File(s"$sketchDir/versions")
      .listFiles().map(_.getName).toSet
    assert(vdirs === Set("batch_2", "batch_3"),
      s"CMS version GC must keep exactly the two largest committed ids, got $vdirs")
    // Replay idempotence: rerun with the same checkpoint — no double count.
    EventStream.cmsTokenStream(spark, docsDir, sketchDir, cp,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("doc_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("text",
          org.apache.spark.sql.types.StringType))))
    assert(EventStream.readCmsSketch(spark, sketchDir)
      .head().getSeq[Long](0) === batch)
  }

  test("streaming content dedup keeps exactly one doc per normalized text") {
    implicit val s = spark
    import org.apache.spark.sql.types._
    val docsDir = graft.Scratch.fresh("docs_stream")
    Tables(spark, "/root/testdata/sf0.001", "documents")
      .withColumn("ts", lit("2024-01-01 00:00:00").cast("timestamp"))
      .select("doc_id", "text", "ts")
      .write.mode("overwrite").parquet(docsDir)
    val schema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("ts", TimestampType)))
    val streamed = EventStream.runAvailableNow(spark,
      EventStream.dedupByContent(
        spark.readStream.schema(schema).parquet(docsDir), "text", "ts"),
      "content_dedup", OutputMode.Append())
    val batchDistinct = Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(regexp_replace(lower(trim(col("text"))), "\\s+", " ").as("norm"))
      .distinct().count()
    assert(streamed.count() === batchDistinct)
    assert(streamed.select("content_fp").distinct().count() === streamed.count())
  }

  test("flatMapGroupsWithState emits each closed session exactly once") {
    implicit val s = spark
    val closed = EventStream.runAvailableNow(spark,
      EventStream.closedSessions(EventStream.read(spark, eventsDir)), "closed",
      OutputMode.Append())
    // every emitted session is closed (a later event exceeded the gap), so
    // batch-side truth: total sessions per user MINUS the final (open) one
    val e = Tables(spark, "/root/testdata/sf0.001", "events")
      .select(col("user_id"), unix_timestamp(col("ts")).as("sec"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("sec"))
    val batchClosed = e
      .withColumn("prev", lag(col("sec"), 1).over(w))
      .withColumn("is_new", when(col("prev").isNull || col("sec") - col("prev") > 1800, 1).otherwise(0))
      .agg(sum(col("is_new")).as("sessions")).head().getLong(0) -
      e.select("user_id").distinct().count() // one open session per user
    assert(closed.count() === batchClosed)
    assert(closed.filter(col("duration_sec") < 0).count() === 0)
  }

  test("stateful sessionization emits one state per user with sane bounds") {
    implicit val s = spark
    val sessions = EventStream.runAvailableNow(spark,
      EventStream.sessionize(EventStream.read(spark, eventsDir)), "sessions",
      OutputMode.Update())
    val users = Tables(spark, "/root/testdata/sf0.001", "events")
      .select("user_id").distinct().count()
    assert(sessions.select("user_id").distinct().count() === users)
    assert(sessions.filter(col("duration_sec") < 0).count() === 0)
  }
}
