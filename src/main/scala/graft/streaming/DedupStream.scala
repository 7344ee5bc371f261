package graft.streaming

import graft.operators.IndexStore
import graft.queries.DedupOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Streaming incremental dedup — the ingest-side twin of batch q112: as
  * crawl documents arrive, each micro-batch probes the PERSISTED dedup
  * index (exact-hash + MinHash band + shingle doc-store, built once by
  * `DedupOps.buildDedupIndex`) and emits the same
  * (doc_id, verdict, match_doc, near_jaccard) verdict schema q112
  * produces. The probe is `DedupOps.probeDedupIndex` — the SAME function
  * the batch query calls, so stream ≡ batch verdicts hold by
  * construction (the DocStream/EventStream shared-projection discipline).
  *
  * In-stream duplicates (a crawler delivering the same doc_id twice
  * within the watermark horizon) are dropped BEFORE the probe with
  * `dropDuplicatesWithinWatermark` — state is bounded by the watermark
  * delay, not the stream's lifetime, which is what makes the operator
  * viable on an unbounded 100 TB/day ingest. Cross-batch novel-vs-novel
  * near-dups are by design the INDEX's job, not stream state: a
  * production loop folds each batch's novel docs into the next index
  * rebuild (the q112 amortization), keeping streaming state
  * watermark-bounded.
  *
  * Sink discipline: foreachBatch writes each micro-batch's verdicts to
  * `out/batch=<id>` with overwrite — a retried batch id clobbers its own
  * partial output instead of appending duplicates, the standard
  * idempotent-foreachBatch pattern (exactly-once results over
  * at-least-once batch delivery; EventStream.goldIncrementalMerge makes
  * the same argument with a commit protocol — here directory-per-batch
  * overwrite is the whole protocol).
  *
  * Scale shape per micro-batch: band probe is a batch-bands × index
  * equi-join on (band, sig); shingle verification touches candidate
  * docs only and reads base shingles from the doc-store; nothing
  * corpus-proportional lives in executor state. The index tables ARE
  * bucketed by their join keys (graft.operators.IndexStore — external
  * bucketed tables, spec committed in the index manifest) so each probe is
  * co-located: the index side of every probe join scans pre-partitioned
  * with zero index-side shuffles, batch-side data alone moves
  * (IndexColocationSpec pins the executed plans).
  */
object DedupStream {

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("ts", TimestampType)))

  /** File-source stream of crawl docs (doc_id, text, ts).
    * `maxFilesPerTrigger` bounds micro-batch size (and in tests forces a
    * genuinely multi-batch run). */
  def read(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(docSchema)
    maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n.toLong))
      .parquet(dir)
  }

  /** Probe stream: watermark + in-stream id dedup, then per-micro-batch
    * index probe appended (idempotently) under `outDir`. Runs to
    * completion of available input (AvailableNow).
    *
    * LATE-DATA CONTRACT: `dropDuplicatesWithinWatermark` bounds its state
    * by DROPPING any row whose event time is more than `watermarkDelay`
    * behind the observed max — a doc arriving later than that gets NO
    * verdict at all, not a duplicate verdict. The "loses and invents
    * nothing" guarantee therefore holds only WITHIN the watermark
    * horizon; `watermarkDelay` is a parameter precisely so operators of
    * out-of-order crawl feeds can widen it (state grows linearly with
    * the horizon — the standard trade). */
  def runProbe(spark: SparkSession, streamDir: String, indexDir: String,
      outDir: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      watermarkDelay: String = "2 hours"): Unit = {
    val q = read(spark, streamDir, maxFilesPerTrigger)
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("doc_id")
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        DedupOps.probeDedupIndex(spark, batch.select("doc_id", "text"), indexDir)
          .write.mode("overwrite").parquet(s"$outDir/batch=$id")
        (): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The probe WITH the index-refresh loop closed: after each
    * micro-batch's verdicts land, that batch's NOVEL docs are appended
    * to the persisted index (`DedupOps.appendToDedupIndex`), so batch
    * N+1 detects exact/near duplicates of anything batch N admitted —
    * cross-batch dedup with ZERO corpus re-passes and zero streaming
    * state beyond the watermark dedup (the index IS the state, exactly
    * as in the batch world).
    *
    * Retry safety: the verdict sink is overwrite-per-batch idempotent,
    * and the probe IGNORES SELF-MATCHES (see `probeDedupIndex`), so an
    * at-least-once replay — including a crash BETWEEN the three
    * non-atomic index appends — re-classifies the batch's own docs as
    * novel and re-appends them in full; duplicate index rows wash out in
    * the probe's min/DISTINCT collapse and are physically merged by the
    * next compaction.
    *
    * Compaction arm: append-only refresh adds one parquet file-set per
    * table per micro-batch, and probe cost degrades with file count (the
    * streaming small-files problem). When the index's total data-file
    * count exceeds `compactAboveFiles`, the three tables are rewritten
    * to their canonical collapsed form (`DedupOps.compactDedupIndex`) —
    * verdicts are invariant by construction since compaction applies the
    * probe's own min/DISTINCT semantics, pinned by DedupCompactionSpec.
    * The rewrite commits new table generations through the index
    * manifest, so a probe reads the index before or after it, whole.
    * Compaction runs BETWEEN batches inside foreachBatch here; a real
    * deployment runs it as an async maintenance job. Same
    * `watermarkDelay` late-data contract as [[runProbe]].
    *
    * Rebucket arm (round 16): bucket counts are frozen at build so
    * probe plans stay exchange-free, which means a LONG-LIVED index fed
    * by this refresh eventually outgrows them — per-bucket volume
    * drifts past the scan-unit target and every probe pays oversized
    * bucket scans. When any index table's rows-per-bucket exceed
    * `rebucketAboveRowsPerBucket` (rows, not bytes: the layout-invariant
    * signal — see IndexStore.rebucketIfGrown), it is rewritten to the next
    * power-of-two count that fits (`IndexStore.rebucketIfGrown`,
    * grow-only, under the index writer lock — same between-batches
    * placement as compaction, same async-daemon story in production).
    * Rows are untouched, so verdicts are invariant before/during/after
    * (DedupRebucketSpec pins it against a no-rebucket twin) and the
    * probe is co-located at the NEW count from the next batch on
    * (IndexColocationSpec's rebucket arm). */
  def runProbeWithRefresh(spark: SparkSession, streamDir: String,
      indexDir: String, outDir: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      watermarkDelay: String = "2 hours",
      compactAboveFiles: Option[Long] = None,
      rebucketAboveRowsPerBucket: Option[Long] = None): Unit = {
    val q = read(spark, streamDir, maxFilesPerTrigger)
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("doc_id")
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val docs = batch.select("doc_id", "text").localCheckpoint(true)
        val verdicts = DedupOps.probeDedupIndex(spark, docs, indexDir)
          .localCheckpoint(true) // two consumers: sink + novel filter
        verdicts.write.mode("overwrite").parquet(s"$outDir/batch=$id")
        DedupOps.appendToDedupIndex(
          docs.join(verdicts.filter(col("verdict") === "novel")
            .select("doc_id"), "doc_id"),
          indexDir)
        compactAboveFiles.foreach { thr =>
          if (IndexStore.fileCount(spark, indexDir,
              IndexStore.tables(spark, indexDir)) > thr)
            DedupOps.compactDedupIndex(spark, indexDir)
        }
        rebucketAboveRowsPerBucket.foreach { target =>
          IndexStore.tables(spark, indexDir).foreach(
            IndexStore.rebucketIfGrown(spark, indexDir, _, target))
        }
        (): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** All verdicts emitted so far (the `batch` partition column is
    * implementation detail — dropped). */
  def readVerdicts(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
      .select(col("doc_id"), col("verdict"), col("match_doc"), col("near_jaccard"))
}
