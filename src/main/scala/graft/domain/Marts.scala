package graft.domain

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Aggregate/window marts (SURVEY §2.5-2.6): the reference's
  * int_bank_performance / mart_bank_analytics / comprehensive analysis /
  * BI views as DataFrame functions. Every one is a partial-aggregating
  * hash aggregate; dims broadcast; the only total-order ops are tiny
  * (ranking over per-bank aggregates).
  */
object Marts {

  private def rate(n: org.apache.spark.sql.Column, d: org.apache.spark.sql.Column) =
    round(n.cast("decimal(20,6)") / d * 100, 2)

  /** A1: per-bank performance (phase2_transformation_pipeline.py:405-418). */
  def bankPerformance(enriched: DataFrame): DataFrame =
    enriched.groupBy(col("bank_name")).agg(
      count(lit(1)).as("total_reviews"),
      round(avg(col("rating")), 2).as("avg_rating"),
      round(avg(col("sentiment_score")), 4).as("avg_sentiment"),
      count(when(col("rating") >= Thresholds.ratingHigh, 1)).as("positive_reviews"),
      count(when(col("rating") <= Thresholds.ratingLow, 1)).as("negative_reviews"),
      count(when(col("mentions_service"), 1)).as("service_mentions"),
      count(when(col("mentions_waiting"), 1)).as("waiting_mentions"),
      count(when(col("mentions_fees"), 1)).as("fees_mentions"),
      round(avg(col("word_count")), 1).as("avg_review_length"))

  /** A2: comprehensive per-bank stats — rating/sentiment histograms,
    * sample stddev (mart_comprehensive_bank_analysis.sql:10-51). */
  def bankComprehensive(enriched: DataFrame): DataFrame =
    enriched.groupBy(col("bank_name")).agg(
      count(lit(1)).as("total_reviews"),
      round(avg(col("rating")), 2).as("avg_rating"),
      round(avg(col("sentiment_score")), 4).as("avg_sentiment"),
      round(stddev_samp(col("sentiment_score")), 4).as("sentiment_stddev"),
      count(when(col("rating") === 5, 1)).as("five_star"),
      count(when(col("rating") === 4, 1)).as("four_star"),
      count(when(col("rating") === 3, 1)).as("three_star"),
      count(when(col("rating") === 2, 1)).as("two_star"),
      count(when(col("rating") === 1, 1)).as("one_star"),
      count(when(col("sentiment_label") === "Positive", 1)).as("positive_sentiment"),
      count(when(col("sentiment_label") === "Neutral", 1)).as("neutral_sentiment"),
      count(when(col("sentiment_label") === "Negative", 1)).as("negative_sentiment"))

  /** A3: per-branch with satisfaction rate
    * (mart_comprehensive_bank_analysis.sql:53-72). */
  def branchPerformance(enriched: DataFrame): DataFrame =
    enriched.groupBy(col("bank_name"), col("branch_name"), col("place_id")).agg(
      count(lit(1)).as("total_reviews"),
      round(avg(col("rating")), 2).as("avg_rating"),
      round(avg(col("sentiment_score")), 4).as("avg_sentiment"),
      rate(count(when(col("rating") >= Thresholds.ratingHigh, 1)), count(lit(1)))
        .as("satisfaction_rate"))

  /** A5+W3: quarterly trend with LAG
    * (mart_comprehensive_bank_analysis.sql:91-107). */
  def quarterlyTrend(enriched: DataFrame): DataFrame = {
    val q = enriched
      .filter(col("review_year").isNotNull)
      .groupBy(col("bank_name"), col("review_year"),
        quarter(col("review_time")).as("review_quarter"))
      .agg(count(lit(1)).as("reviews"),
        round(avg(col("rating")), 2).as("q_avg_rating"),
        round(avg(col("sentiment_score")), 4).as("q_avg_sentiment"))
    val w = Window.partitionBy(col("bank_name"))
      .orderBy(col("review_year"), col("review_quarter"))
    q.withColumn("prev_q_avg_rating", lag(col("q_avg_rating"), 1).over(w))
      .withColumn("rating_trend", col("q_avg_rating") - col("prev_q_avg_rating"))
  }

  /** vw_monthly_trends — named in the reference's drop list
    * (airflow/dags/complete_data_pipeline_fixed.py:99) and documented in
    * its README (5_documentation/project_README.md:308-311) but never
    * actually created there (a documented reference breakage, SURVEY
    * §1.1). This implements the stated intent: per-(bank, month) review
    * volume + average rating/sentiment with month-over-month LAG. The
    * window partitions by bank, so it never sees data-proportional input. */
  def monthlyTrends(enriched: DataFrame): DataFrame = {
    val m = enriched
      .filter(col("review_time").isNotNull)
      .groupBy(col("bank_name"),
        date_format(col("review_time"), "yyyy-MM").as("review_month"))
      .agg(count(lit(1)).as("reviews"),
        round(avg(col("rating")), 2).as("m_avg_rating"),
        round(avg(col("sentiment_score")), 4).as("m_avg_sentiment"))
    val w = Window.partitionBy(col("bank_name")).orderBy(col("review_month"))
    m.withColumn("prev_m_avg_rating", lag(col("m_avg_rating"), 1).over(w))
      .withColumn("rating_mom", col("m_avg_rating") - col("prev_m_avg_rating"))
  }

  /** W2: gapped RANK leaderboard (phase2_transformation_pipeline.py:462). */
  def bankRanking(enriched: DataFrame): DataFrame =
    rankPerformance(bankPerformance(enriched))

  /** W2 over an already-built [[bankPerformance]] frame, so a caller that
    * materializes the per-bank aggregate ranks it without rebuilding it. */
  def rankPerformance(perf: DataFrame): DataFrame = {
    // Unpartitioned RANK is bounded: the window input is the per-BANK
    // aggregate — one row per bank (~10 at any corpus size), not reviews.
    val w = Window.orderBy(col("avg_rating").desc, col("avg_sentiment").desc)
    perf.withColumn("bank_rank", rank().over(w))
      .withColumn("performance_tier",
        when(col("avg_rating") >= 4.0, "Excellent")
          .when(col("avg_rating") >= 3.0, "Good")
          .when(col("avg_rating") >= 2.0, "Average")
          .otherwise("Poor"))
  }

  /** A9: BI dashboard view — fact ⋈ broadcast dims
    * (vw_bank_performance_dashboard, complete_data_pipeline_fixed.py:269-280). */
  def bankDashboard(fact: DataFrame, dimBank: DataFrame): DataFrame =
    fact.select(col("bank_key"), col("rating"), col("sentiment_score"), col("branch_key"))
      .join(broadcast(dimBank.select(col("bank_key"), col("bank_name"))), Seq("bank_key"))
      .groupBy(col("bank_key"), col("bank_name")).agg(
        count(lit(1)).as("total_reviews"),
        round(avg(col("rating")), 2).as("avg_rating"),
        round(avg(col("sentiment_score")), 4).as("avg_sentiment"),
        countDistinct(col("branch_key")).as("branch_count"))
      .orderBy(col("total_reviews").desc)

  /** vw_geographic_analysis: city-level BI view — fact ⋈ broadcast branch
    * dim, grouped by city (complete_data_pipeline_fixed.py:281-291). */
  def geographicAnalysis(fact: DataFrame, dimBranch: DataFrame): DataFrame =
    fact.select(col("branch_key"), col("rating"), col("sentiment_score"))
      .join(broadcast(dimBranch.select(col("branch_key"), col("city"))), Seq("branch_key"))
      .groupBy(col("city")).agg(
        count(lit(1)).as("total_reviews"),
        round(avg(col("rating")), 2).as("avg_rating"),
        round(avg(col("sentiment_score")), 4).as("avg_sentiment"))
      .orderBy(col("total_reviews").desc, col("city"))

  /** A7/A8: per-topic rollup with sorted string agg
    * (phase2_transformation_pipeline.py:420-431). */
  def topicAnalysis(enriched: DataFrame): DataFrame =
    enriched.filter(col("dominant_topic").isNotNull)
      .groupBy(col("dominant_topic")).agg(
        count(lit(1)).as("topic_count"),
        round(avg(col("sentiment_score")), 4).as("avg_sentiment"),
        array_join(array_sort(collect_set(col("bank_name"))), ", ").as("banks"))
      .orderBy(col("topic_count").desc)
}
