package graft.streaming

import graft.Fs
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface. The reference has no streaming — its daily
  * drop-and-rebuild cron is Trigger.AvailableNow semantics over a re-read
  * (SURVEY §2.9) — so this module is the Spark-native upgrade path: the same
  * transforms as the batch queries (q19/q20), expressed over readStream.
  *
  * Scale design: watermark + windowed hash agg is fully partition-parallel;
  * dropDuplicatesWithinWatermark replaces the batch keep-first dedup with
  * bounded state; sessionization keeps one state object per user key.
  */
object EventStream {

  val eventSchema: StructType = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** File-source stream over a parquet directory of events. */
  def read(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(eventSchema).parquet(dir)

  /** Tumbling 1-hour event-time windows per event_type with a 2-hour
    * watermark — streaming twin of q20_tumbling_window. */
  def hourlyByType(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n_events"), col("total_value"))

  /** Watermarked exact-once dedup by event_id (streaming D1). */
  def dedup(events: DataFrame): DataFrame =
    events.withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark(Seq("event_id"))

  /** Streaming exact CONTENT dedup — the streaming twin of q26's
    * normalized-text canonical dedup: a document is dropped if the md5 of
    * its whitespace-normalized lowercase text was already seen within the
    * watermark. State is one fingerprint per distinct content (bounded by
    * the watermark), so a 100 TB/day ingest keeps only a day of 16-byte
    * fingerprints, not the corpus. */
  def dedupByContent(docs: DataFrame, textCol: String, tsCol: String): DataFrame =
    docs
      .withColumn("content_fp",
        md5(regexp_replace(lower(trim(col(textCol))), "\\s+", " ")))
      .withWatermark(tsCol, "2 hours")
      .dropDuplicatesWithinWatermark(Seq("content_fp"))

  final case class SessionState(start: Long, last: Long, n: Int)
  final case class SessionOut(user_id: Long, session_start: Long, n_events: Int,
      duration_sec: Long)

  /** Gap-based sessionization with mapGroupsWithState (streaming twin of
    * q19_sessionize): 30-min inactivity gap closes a session; processing-
    * time timeout flushes idle users. Emits the CURRENT session summary per
    * update (append-style downstream consumers take the last per key). */
  def sessionize(events: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val typed = events.select(col("user_id"), unix_timestamp(col("ts")).as("sec"))
      .as[(Long, Long)]
    typed.groupByKey(_._1)
      .mapGroupsWithState[SessionState, SessionOut](GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[SessionState]) =>
          val secs = rows.map(_._2).toSeq.sorted
          var st = state.getOption.getOrElse(SessionState(secs.head, secs.head, 0))
          secs.foreach { s =>
            st = if (s - st.last > 1800) SessionState(s, s, 1)
            else st.copy(last = math.max(st.last, s), n = st.n + 1)
          }
          state.update(st)
          SessionOut(user, st.start, st.n, st.last - st.start)
      }.toDF()
  }

  /** Closed-session emitter via flatMapGroupsWithState: unlike
    * [[sessionize]] (mapGroupsWithState — emits the CURRENT session each
    * update), this emits a session row exactly once, when a later event
    * closes it by exceeding the 30-min gap; the still-open session stays in
    * state. Append-mode-friendly shape: downstream consumers see each
    * session exactly once. */
  def closedSessions(events: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val typed = events.select(col("user_id"), unix_timestamp(col("ts")).as("sec"))
      .as[(Long, Long)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[SessionState]) =>
          val secs = rows.map(_._2).toSeq.sorted
          val closed = scala.collection.mutable.ListBuffer.empty[SessionOut]
          var st = state.getOption.getOrElse(SessionState(secs.head, secs.head, 0))
          secs.foreach { s =>
            if (s - st.last > 1800) {
              closed += SessionOut(user, st.start, st.n, st.last - st.start)
              st = SessionState(s, s, 1)
            } else st = st.copy(last = math.max(st.last, s), n = st.n + 1)
          }
          state.update(st)
          closed.iterator
      }.toDF()
  }

  final case class Scd2State(tpe: String, since: Long, version: Int)
  final case class Scd2Out(user_id: Long, version: Int, event_type: String,
      valid_from: Long, valid_to: Long)

  /** Streaming SCD2 — the stateful twin of batch q69: per user, one state
    * object holds the OPEN validity interval (current event_type, its
    * start, version); a value change emits the closed interval exactly
    * once (append-mode) and opens the next. Events are sorted by
    * (sec, event_id) within each batch so in-batch order matches q69's
    * window ordering; across batches correctness relies on per-user event
    * time not regressing between triggers (same contract as
    * [[closedSessions]] — file-source batches arrive in arrival order).
    * State is O(1) per user regardless of history — the property that
    * lets this run forever. */
  def scd2Stream(events: DataFrame)(implicit spark: SparkSession): DataFrame = {
    import spark.implicits._
    val typed = events
      .select(col("user_id"), unix_timestamp(col("ts")).as("sec"),
        col("event_id"), col("event_type"))
      .as[(Long, Long, Long, String)]
    typed.groupByKey(_._1)
      .flatMapGroupsWithState[Scd2State, Scd2Out](
        OutputMode.Append(), GroupStateTimeout.NoTimeout) {
        case (user, rows, state: GroupState[Scd2State]) =>
          val evs = rows.toSeq.sortBy(r => (r._2, r._3))
          val closed = scala.collection.mutable.ListBuffer.empty[Scd2Out]
          var st = state.getOption.orNull
          evs.foreach { case (_, sec, _, tpe) =>
            if (st == null) st = Scd2State(tpe, sec, 1)
            else if (tpe != st.tpe) {
              closed += Scd2Out(user, st.version, st.tpe, st.since, sec)
              st = Scd2State(tpe, sec, st.version + 1)
            }
          }
          state.update(st)
          closed.iterator
      }.toDF()
  }

  /** Stream-stream interval join: purchases matched to the same user's
    * clicks within the preceding 30 minutes. Both sides watermarked so the
    * join state is bounded (clicks older than watermark+interval are
    * evicted) — the streaming twin of the q39 as-of join, with interval
    * instead of last-match semantics. */
  def purchaseAttribution(events: DataFrame): DataFrame = {
    val clicks = events.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"),
        col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = events.filter(col("event_type") === "purchase")
      .select(col("user_id").as("p_user"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"), col("value"))
      .withWatermark("purchase_ts", "1 hour")
    purchases.join(clicks,
      col("p_user") === col("c_user") &&
        col("click_ts") <= col("purchase_ts") &&
        col("click_ts") >= col("purchase_ts") - expr("interval 30 minutes"))
      .select(col("purchase_id"), col("p_user").as("user_id"),
        col("click_id"), col("purchase_ts"), col("click_ts"), col("value"))
  }

  /** Streaming gold rebuild via foreachBatch — the SURVEY §2.9 upgrade of
    * the reference's daily drop-and-rebuild cron: new bronze files arriving
    * trigger a full re-read + re-aggregate + overwrite of the gold table
    * (complete_data_pipeline_fixed.py:95-107 drop-and-rebuild semantics).
    *
    * The micro-batch itself is only the arrival signal: it holds just the
    * NEW files, so aggregating it would silently drop all prior events'
    * contributions in any multi-batch (maxFilesPerTrigger) or checkpointed
    * incremental run. The rebuild therefore re-reads the whole bronze
    * directory with a batch reader inside foreachBatch. */
  def goldRebuild(spark: SparkSession, bronzeDir: String, goldDir: String,
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    val reader = spark.readStream.schema(eventSchema)
    val stream = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(bronzeDir)
    val q = stream.writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        batch.sparkSession.read.schema(eventSchema).parquet(bronzeDir)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
          .write.mode("overwrite").parquet(s"$goldDir/events_by_type")
        (): Unit
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** Incremental MERGE-style gold: each micro-batch's PARTIAL aggregate is
    * merged into the existing gold table — per-batch work is O(batch +
    * |gold|), independent of history size, which is the only shape that
    * survives an unbounded stream (goldRebuild's re-read is the reference's
    * drop-and-rebuild semantics; this is the upgrade past it). Count/sum
    * are mergeable; the sum accumulates as decimal so merge order can never
    * drift the result.
    *
    * Exactly-once: the checkpoint makes batch ids monotone across restarts;
    * each batch stages its merged gold into a batch-id-VERSIONED directory
    * and the commit marker is the single commit point. The merge always
    * reads the latest COMMITTED version (never a possibly-half-written
    * directory), so every crash window closes:
    *  - crash mid-stage: no marker → replay rewrites the same versioned dir
    *    from the same checkpointed input (readers never saw it);
    *  - crash between stage and marker: same — the staged dir is simply
    *    overwritten with identical content, then committed;
    *  - crash after marker: replay sees the marker and skips — no
    *    double-merge.
    * Readers go through [[readIncrementalGold]], which resolves the latest
    * committed version. Old versions are garbage-collected after commit
    * (the latest two are kept so an in-flight reader of the previous
    * version is never yanked). The marker lineage is bound to the
    * checkpoint lineage by an epoch id (see [[alignEpoch]]), so a reset
    * checkpoint — whose batch ids restart at 0 — can never collide with
    * stale markers and silently skip new data.
    *
    * All marker/epoch/version I/O goes through the Hadoop FileSystem
    * resolved from each path (see [[graft.Fs]]): goldDir and checkpointDir may
    * be file://, hdfs://, or object-store URIs — the epoch always lives
    * next to the real checkpoint, never on driver-local disk. */
  def goldIncrementalMerge(spark: SparkSession, bronzeDir: String,
      goldDir: String, checkpointDir: String,
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    alignEpoch(checkpointDir, incCommitDir(goldDir),
      s"$goldDir/events_by_type_inc_versions")
    val reader = spark.readStream.schema(eventSchema)
    val stream = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(bronzeDir)
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) => mergeIncrementalBatch(goldDir, id, batch)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  /** One merge step of [[goldIncrementalMerge]] — package-visible so the
    * spec can drive the crash windows (staged-but-uncommitted version dir,
    * replayed committed batch) directly, without forging checkpoint state
    * under a live metadata log. */
  private[streaming] def mergeIncrementalBatch(goldDir: String, id: Long,
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row]): Unit = {
    val marker = s"${incCommitDir(goldDir)}/batch_$id"
    if (!Fs.exists(marker)) {
      val ss = batch.sparkSession
      val partial = batch.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value").cast("decimal(18,6)")).as("total_value"))
      val prev = latestCommittedBatch(goldDir)
        .map(v => ss.read.parquet(incVersionDir(goldDir, v)))
        .getOrElse(partial.limit(0))
      val merged = prev.unionByName(partial)
        .groupBy(col("event_type"))
        .agg(sum(col("n_events")).as("n_events"),
          sum(col("total_value")).as("total_value"))
        .coalesce(1)
      merged.write.mode("overwrite").parquet(incVersionDir(goldDir, id))
      require(Fs.touch(marker),
        s"could not write commit marker for batch $id")
      // GC: keep the TWO LARGEST committed ids (by sort, not id
      // arithmetic — ids can be non-contiguous, and `latest - 1` would
      // then delete the second-latest version an in-flight
      // readIncrementalGold reader just resolved); a crash mid-delete is
      // harmless. Markers are never deleted — replay dedup needs them.
      val keep = committedBatches(goldDir).sorted.takeRight(2).toSet
      committedBatches(goldDir).filterNot(keep).foreach { old =>
        Fs.delete(incVersionDir(goldDir, old))
      }
    }
    (): Unit
  }

  /** Read the incremental gold table at its latest committed version. */
  def readIncrementalGold(spark: SparkSession, goldDir: String): DataFrame = {
    val v = latestCommittedBatch(goldDir).getOrElse(
      throw new IllegalStateException(s"no committed incremental gold under $goldDir"))
    spark.read.parquet(incVersionDir(goldDir, v))
  }

  private def incCommitDir(goldDir: String) = s"$goldDir/events_by_type_inc_commits"
  private def incVersionDir(goldDir: String, id: Long) =
    s"$goldDir/events_by_type_inc_versions/batch_$id"

  /** Bind the commit-marker lineage to the CHECKPOINT lineage. Batch ids
    * are minted by the checkpoint; markers are keyed by batch id. If the
    * checkpoint is reset/deleted while the output dir is kept, ids restart
    * at 0 and collide with stale markers — batches holding genuinely new
    * files would be silently skipped and never reach gold. An epoch id
    * (a UUID minted alongside the checkpoint on its first use) is recorded
    * next to the markers; an epoch mismatch at startup means the marker
    * lineage is dead, so markers AND version dirs are dropped and the fresh
    * checkpoint's full replay rebuilds the output from scratch. */
  private def alignEpoch(checkpointDir: String, commitDir: String,
      versionRoot: String): Unit = {
    val epochFile = s"$checkpointDir/graft_epoch"
    // An UNREADABLE epoch file (torn write + checksum-filesystem sidecar:
    // LocalFileSystem/HDFS throw ChecksumException on read, they don't
    // return truncated content) must degrade to the same dead-lineage
    // handling as a mismatch — before this, a corrupt epoch was a startup
    // crash LOOP, not a self-heal. Checkpoint side: mint a fresh epoch
    // (conservative: forces a purge + rebuild). Marker side: any
    // unreadable _epoch compares unequal, purging the markers with it.
    val epoch = (if (Fs.exists(epochFile))
      scala.util.Try(Fs.read(epochFile)).toOption else None)
      .getOrElse {
        val e = java.util.UUID.randomUUID().toString
        Fs.write(epochFile, e)
        e
      }
    val recorded = s"$commitDir/_epoch"
    val prior = if (!Fs.exists(recorded)) None
      else Some(scala.util.Try(Fs.read(recorded)).getOrElse("<unreadable>"))
    if (!prior.contains(epoch)) {
      // Markers with NO recorded epoch are just as dead as a mismatched
      // one: they predate epoch binding (or survived a partial purge), so
      // their batch-id lineage is unverifiable — purge those too instead
      // of adopting them into the new epoch.
      val unboundMarkers = prior.isEmpty && listCommitted(commitDir).nonEmpty
      if (prior.isDefined || unboundMarkers) {
        // versionRoot FIRST: if the purge dies between the two deletes,
        // commitDir (holding the old _epoch / markers) survives, the
        // mismatch is re-detected on restart, and the purge re-runs.
        // Deleting commitDir first would make the retry see prior=None
        // with no markers → stale version dirs leak forever.
        Fs.delete(versionRoot)
        Fs.delete(commitDir)
      }
      Fs.write(recorded, epoch)
    }
  }

  private def listCommitted(commitDir: String): Seq[Long] =
    Fs.list(commitDir).collect { case s if s.startsWith("batch_") =>
      s.stripPrefix("batch_").toLong }
  private def committedBatches(goldDir: String): Seq[Long] =
    listCommitted(incCommitDir(goldDir))
  private def latestCommittedBatch(goldDir: String): Option[Long] =
    committedBatches(goldDir).maxOption

  /** Streaming Count-Min token frequency: each micro-batch computes its
    * partial sketch (one pass, zero token-keyed shuffle — see
    * graft.operators.CmsAgg) and element-wise ADDS it into the running
    * sketch; CMS merge is exactly array addition, so the streamed result
    * is bit-identical to a batch sketch over the same corpus — the
    * property that lets a training-data pipeline keep corpus-wide token
    * statistics current while documents arrive, without ever re-reading
    * history. Commit protocol is the same versioned-dir + marker single
    * commit point as goldIncrementalMerge (exactly-once under replay),
    * with the same Hadoop-FileSystem path resolution (see [[graft.Fs]]) — any
    * filesystem that serves the checkpoint serves the protocol. */
  def cmsTokenStream(spark: SparkSession, docsDir: String, sketchDir: String,
      checkpointDir: String, textSchema: org.apache.spark.sql.types.StructType,
      maxFilesPerTrigger: Option[Int] = None): Unit = {
    alignEpoch(checkpointDir, cmsCommitDir(sketchDir), s"$sketchDir/versions")
    val reader = spark.readStream.schema(textSchema)
    val stream = maxFilesPerTrigger
      .fold(reader)(n => reader.option("maxFilesPerTrigger", n))
      .parquet(docsDir)
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch {
        (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
            id: Long) => mergeCmsBatch(sketchDir, id, batch)
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  private def cmsCommitDir(sketchDir: String) = s"$sketchDir/commits"
  private def cmsVersionDir(sketchDir: String, id: Long) =
    s"$sketchDir/versions/batch_$id"

  private[streaming] def mergeCmsBatch(sketchDir: String, id: Long,
      batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row]): Unit = {
    val marker = s"${cmsCommitDir(sketchDir)}/batch_$id"
    if (!Fs.exists(marker)) {
      val ss = batch.sparkSession
      val partial = batch
        .select(explode(split(col("text"), " ")).as("tok"))
        .withColumn("hm", expr("graft_h60(tok)"))
        .agg(graft.operators.CmsAgg(col("hm")).as("cms"))
      val prevId = listCommitted(cmsCommitDir(sketchDir)).maxOption
      val merged = prevId match {
        case Some(v) =>
          val prev = ss.read.parquet(cmsVersionDir(sketchDir, v))
          graft.Scalars.withScalar(partial, prev.select(col("cms").as("prev_cms")))
            .select(expr("zip_with(cms, prev_cms, (a, b) -> a + b)").as("cms"))
        case None => partial
      }
      merged.coalesce(1).write.mode("overwrite")
        .parquet(cmsVersionDir(sketchDir, id))
      require(Fs.touch(marker),
        s"could not commit CMS batch $id")
      // Same retention as mergeIncrementalBatch: keep the two largest
      // committed versions so an in-flight readCmsSketch is never yanked.
      val committed = listCommitted(cmsCommitDir(sketchDir))
      val keep = committed.sorted.takeRight(2).toSet
      committed.filterNot(keep).foreach { old =>
        Fs.delete(cmsVersionDir(sketchDir, old))
      }
    }
    (): Unit
  }

  /** Read the streaming sketch at its latest committed version. */
  def readCmsSketch(spark: SparkSession, sketchDir: String): DataFrame = {
    val v = listCommitted(cmsCommitDir(sketchDir)).maxOption
      .getOrElse(throw new IllegalStateException(s"no committed sketch under $sketchDir"))
    spark.read.parquet(cmsVersionDir(sketchDir, v))
  }

  /** Run any of the above to completion over existing files (the reference's
    * daily batch semantics): Trigger.AvailableNow into an in-memory sink. */
  def runAvailableNow(spark: SparkSession, df: DataFrame, name: String,
      outputMode: OutputMode = OutputMode.Complete()): DataFrame = {
    val q = df.writeStream
      .format("memory").queryName(name)
      .outputMode(outputMode)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }
}
