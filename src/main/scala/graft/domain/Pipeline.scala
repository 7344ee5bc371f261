package graft.domain

import graft.Par
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end warehouse build replacing the reference's three Airflow DAGs
  * (SURVEY §3): bronze parquet → staged/cleaned → NLP-enriched silver →
  * star-schema gold + marts, with per-stage count validation
  * (complete_data_pipeline_fixed.py:305-327). The reference's CSV/XCom
  * hops between DAGs disappear: silver is one persisted frame in the
  * session, and [[run]] builds gold from it as a dependency DAG.
  *
  * Idempotent full rebuild: SaveMode.Overwrite ≡ the reference's
  * DROP CASCADE + CTAS (complete_data_pipeline_fixed.py:95-107).
  */
object Pipeline {

  final case class Result(
      bronzeCount: Long, stagedCount: Long,
      factCount: Long, bankCount: Long, branchCount: Long)

  def enrichOnly(bronze: DataFrame): DataFrame =
    Nlp.enrich(Clean.stage(bronze))

  /** Full run with gold-layer persistence + validation counts, built as a
    * dependency DAG in three phases, so each shared input is computed once
    * and no independent job waits behind another:
    *
    *  1. Silver. `enrichOnly(bronze)` — the dedup window shuffle and the NLP
    *     columns, the one data-proportional input every sink shares — is
    *     persisted and materialized by the count that also validates it. It
    *     is released in a `finally`, so a failed sink cannot leak it.
    *  2. Small shared inputs and the key check, as three concurrent arms:
    *     dim_bank then dim_branch (branch needs bank_key), and the per-bank
    *     performance aggregate, each materialized once with
    *     `localCheckpoint` (≤ a few thousand rows) so every consumer — the
    *     dim writes, fact_reviews, mart_geographic, mart_bank_ranking —
    *     reads that frame; and [[Star.requireDistinctReviewKeys]] over
    *     silver, which fails the build on a duplicate review_key: the one
    *     key whose hash collision odds grow with the data (see [[Star]]).
    *     The fact is a subset of silver, so its keys are distinct too.
    *  3. Sinks. Every gold write, the dim/fact validation re-reads (the
    *     reference's per-table COUNT(*), complete_data_pipeline_fixed.py:
    *     305-327) and the bronze count are concurrent [[graft.Par]] arms,
    *     one per sink. The fact write is listed first, so the FIFO scheduler
    *     gives it cores first and the one-task sinks back-fill.
    *
    * The fact ≤ staged check and the run-stats JSON follow only once every
    * arm has succeeded. At scale: fact partitioned by review_year (partition
    * pruning for the time-sliced marts); dims are single small files. */
  def run(spark: SparkSession, bronzeDir: String, goldDir: String): Result = {
    val bronze = spark.read.schema(Schemas.review).parquet(bronzeDir)
    val silver = enrichOnly(bronze).persist()
    val r = try {
      val stagedCount = silver.count()
      val Seq(Seq(bank, branch), Seq(perf), _) = Par.map(Seq[() => Seq[DataFrame]](
        () => {
          val bank = Star.dimBank(silver).localCheckpoint()
          Seq(bank, Star.dimBranch(silver, bank).localCheckpoint())
        },
        () => Seq(Marts.bankPerformance(silver).localCheckpoint()),
        () => { Star.requireDistinctReviewKeys(silver); Nil }))(_())
      val fact = Star.factReviews(silver, bank, branch)

      def save(df: DataFrame, name: String): Unit =
        df.write.mode(SaveMode.Overwrite).parquet(s"$goldDir/$name")
      def reread(name: String): Long = spark.read.parquet(s"$goldDir/$name").count()
      // Each arm writes one sink and returns its validation count, if any.
      val arms = Seq[() => Option[Long]](
        () => {
          // Within each year partition, rows are z-ordered on (bank_key,
          // date_key): per-file min/max stats become tight on BOTH keys, so
          // bank-sliced AND date-sliced mart scans skip files (graft_zorder —
          // see graft.functions.ZOrderUtil).
          fact.withColumn("review_year", year(col("review_time")))
            .sortWithinPartitions(expr("graft_zorder(bank_key, date_key)"))
            .write.mode(SaveMode.Overwrite)
            .partitionBy("review_year")
            .parquet(s"$goldDir/fact_reviews")
          Some(reread("fact_reviews"))
        },
        () => { save(bank, "dim_bank"); Some(reread("dim_bank")) },
        () => { save(branch, "dim_branch"); Some(reread("dim_branch")) },
        () => Some(bronze.count()),
        () => { save(Marts.geographicAnalysis(fact, branch), "mart_geographic"); None },
        () => { save(perf, "mart_bank_performance"); None },
        () => { save(Marts.rankPerformance(perf), "mart_bank_ranking"); None },
        () => { save(Star.dimSentiment(spark), "dim_sentiment"); None },
        () => { save(Star.dimDate(spark), "dim_date"); None })
      val Seq(factCount, bankCount, branchCount, bronzeCount) =
        Par.map(arms, parallelism = arms.size)(_()).flatten
      Result(bronzeCount, stagedCount, factCount, bankCount, branchCount)
    } finally silver.unpersist()
    require(r.factCount <= r.stagedCount, "fact cannot exceed staged rows")
    // S11: run-stats JSON sink — the reference drops a processing-stats
    // JSON at the end of each phase (nlp_processor_simple.py:289-301);
    // here it is the per-stage validation counts next to the gold layer.
    import spark.implicits._
    Seq(r).toDS().coalesce(1).write.mode(SaveMode.Overwrite)
      .json(s"$goldDir/run_stats")
    r
  }
}
