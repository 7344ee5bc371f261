package graft.streaming

import graft.operators.IndexStore
import graft.queries.VectorOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

/** Streaming incremental SEMANTIC dedup — [[DedupStream]]'s pattern one
  * modality over, closing the q211 loop on the ingest side: as embedded
  * documents arrive, each micro-batch probes the PERSISTED IVF index
  * (the cell-assigned unit vectors, plus the centroids and the
  * build-time-calibrated τ that `VectorOps.buildSemIndex` commits in the
  * index manifest, read by every session alike) and emits q211's
  * (vec_id, cell, verdict, match_vec, best_cos, tau) verdict schema.
  * The probe is `VectorOps.probeSemIndex` — the SAME function the batch
  * query calls, so stream ≡ batch verdicts hold by construction.
  *
  * The same contracts as DedupStream, restated because they carry over
  * verbatim:
  *  - in-stream id duplicates are absorbed by
  *    `dropDuplicatesWithinWatermark` (state bounded by the watermark
  *    horizon; rows later than `watermarkDelay` behind the observed max
  *    are DROPPED, not mis-verdicted — widen the delay for out-of-order
  *    feeds);
  *  - the verdict sink is overwrite-per-batch idempotent;
  *  - the probe ignores self-matches, so an at-least-once replay of a
  *    partially-appended batch re-admits its own vectors (retry safety);
  *  - the refresh arm appends each batch's NOVEL vectors to the vector
  *    store — centroids and τ are index metadata, aged offline, exactly
  *    how production IVF indexes are operated (a drifting corpus gets a
  *    recalibration job, not a per-batch re-train).
  *
  * Scale shape per micro-batch: cell assignment is row-local scoring
  * against the ≤k committed centroids (k ∝ √n); the candidate join
  * touches only the batch's cells' occupants, keyed on the cell id the
  * index is partitioned by at scale. Nothing corpus-proportional lives
  * in executor state — the index IS the state. */
object SemStream {

  private val vecSchema = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(DoubleType)),
    StructField("ts", TimestampType)))

  /** File-source stream of embedded docs (vec_id, embedding, ts). */
  def read(spark: SparkSession, dir: String,
      maxFilesPerTrigger: Option[Int] = None): DataFrame = {
    val r = spark.readStream.schema(vecSchema)
    maxFilesPerTrigger.fold(r)(n => r.option("maxFilesPerTrigger", n.toLong))
      .parquet(dir)
  }

  /** Probe-only stream: per-micro-batch index probe written idempotently
    * under `outDir/batch=<id>`. `nprobe` is the IVF recall lever
    * (q213's subject) — a streaming deployment that saw boundary misses
    * in q213's card raises it here without touching the index. */
  def runProbe(spark: SparkSession, streamDir: String, indexDir: String,
      outDir: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      watermarkDelay: String = "2 hours", nprobe: Int = 1): Unit = {
    val q = read(spark, streamDir, maxFilesPerTrigger)
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("vec_id")
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        VectorOps.probeSemIndex(spark, batch.select("vec_id", "embedding"),
            indexDir, nprobe)
          .write.mode("overwrite").parquet(s"$outDir/batch=$id")
        (): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** The compaction arm of every refresh loop: compact once the vector
    * store's data files exceed `threshold`. */
  private def compactAbove(spark: SparkSession, indexDir: String,
      threshold: Option[Long]): Unit =
    threshold.foreach { thr =>
      if (IndexStore.fileCount(spark, indexDir, Seq("vectors")) > thr)
        VectorOps.compactSemIndex(spark, indexDir)
    }

  /** The probe WITH the refresh loop closed: each batch's novel vectors
    * join the vector store, so batch N+1 detects semantic duplicates of
    * anything batch N admitted — zero corpus re-passes.
    *
    * Compaction arm (the DedupStream discipline): append-only refresh
    * adds one parquet file-set to `vectors` per micro-batch; when its
    * data-file count exceeds `compactAboveFiles`, the store is rewritten
    * to one row per vec_id (`VectorOps.compactSemIndex`) — verdicts are
    * invariant since the probe's argmax already collapses duplicate
    * rows, pinned by SemCompactionSpec. */
  def runProbeWithRefresh(spark: SparkSession, streamDir: String,
      indexDir: String, outDir: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      watermarkDelay: String = "2 hours",
      compactAboveFiles: Option[Long] = None, nprobe: Int = 1,
      rebucketAboveRowsPerBucket: Option[Long] = None): Unit = {
    val q = read(spark, streamDir, maxFilesPerTrigger)
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("vec_id")
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val vecs = batch.select("vec_id", "embedding").localCheckpoint(true)
        val verdicts = VectorOps.probeSemIndex(spark, vecs, indexDir, nprobe)
          .localCheckpoint(true) // two consumers: sink + novel filter
        verdicts.write.mode("overwrite").parquet(s"$outDir/batch=$id")
        VectorOps.appendToSemIndex(spark,
          vecs.join(verdicts.filter(col("verdict") === "novel")
            .select("vec_id"), "vec_id"),
          indexDir)
        compactAbove(spark, indexDir, compactAboveFiles)
        // Auto-rebucket arm (round 16, the DedupStream discipline): the
        // semantic index's committed tables — `vectors` always, `codes`
        // and `gedges` when the manifest lists the pq/graph kinds —
        // grow past their frozen build-time counts under a long-lived
        // refresh; rebucketIfGrown is a no-op for plain tables and
        // grow-only for bucketed ones. Layout only: DedupRebucketSpec's
        // semantic arm pins verdict invariance.
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

  /** Streaming ANN retrieval over the PERSISTED IVFADC index (the q243
    * artifact: coarse centroids + cell-bucketed residual-PQ codes) — the
    * round-14 verdict's stretch arm. Each micro-batch's vectors are
    * ADC-searched through `VectorOps.probeIvfAdcTop3`, the SAME function
    * batch q243 calls, so stream ≡ batch results hold by construction
    * (AnnStreamSpec pins the streamed rows bit-equal to the registered
    * q243 output on the same queries); results land idempotently under
    * `outDir/batch=<id>`.
    *
    * `refresh = true` closes the ingest loop the DedupStream/SemStream
    * refresh arms prove one index over: AFTER probing, the batch's
    * vectors join the index — `VectorOps.appendToSemIndex` assigns cells
    * against the frozen centroids and encodes residual codes with the
    * FROZEN permutation + books — so batch N+1 retrieves anything batch
    * N ingested, with zero corpus re-passes and zero re-training (index
    * metadata ages offline, the production contract). Probe-then-append
    * ordering means a batch is searched against the index AS OF batch
    * start (an in-batch pair meets at the NEXT batch); the probe skips
    * self-matches, so at-least-once replays of a partially-appended
    * batch are retry-safe. Compaction at `compactAboveFiles` rewrites
    * `vectors` and `codes` in the same locked pass
    * (`VectorOps.compactSemIndex`) — results are invariant, pinned by
    * AnnStreamSpec's dual-run arm.
    *
    * Scale shape per micro-batch: coarse ranking is row-local against
    * the ≤k-row literal centroid table; the candidate join touches only
    * the batch's nprobe cells' code rows, arriving bucket-partitioned on
    * `cell` (no index-side Exchange — IndexColocationSpec); per-candidate
    * work is m lookup-adds. Nothing corpus-proportional lives anywhere
    * but the index. */
  def runAnnProbe(spark: SparkSession, streamDir: String, indexDir: String,
      outDir: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      watermarkDelay: String = "2 hours", nprobe: Int = 2,
      refresh: Boolean = false,
      compactAboveFiles: Option[Long] = None): Unit = {
    val q = read(spark, streamDir, maxFilesPerTrigger)
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("vec_id")
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val vecs = batch.select("vec_id", "embedding")
        val pinned = // two consumers under refresh: search + append
          if (refresh) vecs.localCheckpoint(true) else vecs
        VectorOps.probeIvfAdcTop3(spark, pinned, indexDir, nprobe)
          .write.mode("overwrite").parquet(s"$outDir/batch=$id")
        if (refresh) {
          VectorOps.appendToSemIndex(spark, pinned, indexDir)
          compactAbove(spark, indexDir, compactAboveFiles)
        }
        (): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Streaming retrieval over the PERSISTED graph index (the q250
    * artifact: frozen centroids + src-bucketed `gedges`) — the graph
    * twin of [[runAnnProbe]], searching through
    * `VectorOps.probeGraphIndex`, the SAME function batch q250 calls, so
    * stream ≡ batch results hold by construction (GraphStreamSpec pins
    * it). `refresh = true` closes the ingest loop: after probing, the
    * batch's vectors join the index through `appendToSemIndex`, whose
    * graph arm lays down the novel nodes' out-edges AND the reverse
    * edges that make them reachable — so batch N+1 retrieves anything
    * batch N ingested with zero edge rewrites of existing rows.
    * Compaction at `compactAboveFiles` re-trims the append arm's
    * temporary degree overflow in the same locked pass that compacts
    * `vectors` (results invariant, pinned by the spec's dual-run arm).
    *
    * Non-positive (entries, width, hops) — the default — resolve inside
    * the probe to the INDEX's committed scheme (the build-time sweep on
    * its own corpus, recorded in the index manifest; an index without
    * the graph kind refuses the probe), so a stream searches the way the
    * index it reads was measured; explicit positive knobs override per
    * knob. */
  def runGraphProbe(spark: SparkSession, streamDir: String, indexDir: String,
      outDir: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None,
      watermarkDelay: String = "2 hours",
      entries: Int = -1,
      width: Int = -1,
      hops: Int = -1,
      refresh: Boolean = false,
      compactAboveFiles: Option[Long] = None): Unit = {
    val q = read(spark, streamDir, maxFilesPerTrigger)
      .withWatermark("ts", watermarkDelay)
      .dropDuplicatesWithinWatermark("vec_id")
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val vecs = batch.select("vec_id", "embedding")
        val pinned = // two consumers under refresh: search + append
          if (refresh) vecs.localCheckpoint(true) else vecs
        VectorOps.probeGraphIndex(spark, pinned, indexDir, entries, width,
            hops)
          .write.mode("overwrite").parquet(s"$outDir/batch=$id")
        if (refresh) {
          VectorOps.appendToSemIndex(spark, pinned, indexDir)
          compactAbove(spark, indexDir, compactAboveFiles)
        }
        (): Unit
      }
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** All graph-search results emitted so far (the batch partition column
    * dropped). */
  def readGraphResults(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
      .select(col("query_id"), col("found_id"), col("found_cos"))

  /** All ANN results emitted so far (the batch partition column
    * dropped). */
  def readAnnResults(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
      .select(col("query_id"), col("neighbor_id"), col("adc_cos"), col("rnk"))

  /** All verdicts emitted so far (the batch partition column dropped). */
  def readVerdicts(spark: SparkSession, outDir: String): DataFrame =
    spark.read.parquet(outDir)
      .select(col("vec_id"), col("cell"), col("verdict"), col("match_vec"),
        col("best_cos"), col("tau"))
}
