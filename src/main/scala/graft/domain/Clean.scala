package graft.domain

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Staging/cleaning transforms (SURVEY §2.2-2.3): P1 cleansing projection,
  * P2/P3 predicate filters, P4/P5 quality flags, P6 null imputation, D1
  * deterministic keep-first dedup.
  *
  * Reference: complete_data_pipeline_fixed.py:115-139 (staging view),
  * run_phase2_transformation.py:64-117 (clean_data),
  * stg_raw_reviews.sql:28-72, stg_nlp_enriched_reviews.sql:60-105.
  */
object Clean {

  /** D1: keep-first by review_id. The pandas original keeps file order
    * (run_phase2_transformation.py:70-74); Spark needs an explicit order —
    * we keep the earliest collected_at, tiebroken by time then place_id,
    * which is deterministic and scale-safe (hash-partitioned window, no
    * global sort). */
  def dedupReviews(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("review_id"))
      .orderBy(col("collected_at").asc_nulls_last, col("time").asc_nulls_last,
        col("place_id").asc_nulls_last)
    df.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn")
  }

  /** P6 null imputation: text→'', rating→3, bank_name→'Unknown'
    * (run_phase2_transformation.py:76-79). */
  def imputeNulls(df: DataFrame): DataFrame =
    df.na.fill(Map(
      "text" -> "",
      "rating" -> Thresholds.ratingImputeDefault,
      "bank_name" -> "Unknown"))

  /** P1 cleansing projection: TRIM names, normalized whitespace text,
    * epoch→timestamp review_time (complete_data_pipeline_fixed.py:115-135,
    * run_phase2_transformation.py:101-117,158).
    *
    * The text is `regexp_replace(trim(text), '\s+', ' ')`, computed as
    * `graft_collapse_ws(trim(text))` (graft.functions.CollapseWhitespace):
    * one pass over the UTF-8 bytes that leaves a string with no run to
    * collapse as it is. Java's `\s` is `[ \t\n\x0B\f\r]`, all single
    * bytes that no multi-byte character contains, so the two are equal
    * (WordStatsSpec compares them). */
  def cleanse(df: DataFrame): DataFrame =
    df.withColumn("bank_name", trim(col("bank_name")))
      .withColumn("branch_name", trim(col("branch_name")))
      .withColumn("text", call_function("graft_collapse_ws", trim(col("text"))))
      .withColumn("review_time", timestamp_seconds(col("time")))

  /** P4 length-band quality flag (stg_raw_reviews.sql:28-33 with
    * vars min=10/max=5000 from dbt_project.yml:56-57). */
  def withQualityFlag(df: DataFrame): DataFrame =
    df.withColumn("data_quality_flag",
      when(col("text").isNull || length(col("text")) === 0, "empty_text")
        .when(length(col("text")) < Thresholds.minTextLength, "too_short")
        .when(length(col("text")) > Thresholds.maxTextLength, "too_long")
        .otherwise("valid"))

  /** P5 multi-rule validity flag (stg_nlp_enriched_reviews.sql:60-66). */
  def withValidityFlag(df: DataFrame): DataFrame =
    df.withColumn("validity_flag",
      when(col("review_id").isNull, "missing_id")
        .when(col("rating").isNull || col("rating") < 1 || col("rating") > 5, "invalid_rating")
        .when(col("text").isNull || length(col("text")) === 0, "empty_text")
        .otherwise("valid"))

  /** P2 not-null predicate filter (complete_data_pipeline_fixed.py:136-138). */
  def requiredFieldsFilter(df: DataFrame): DataFrame =
    df.filter(col("bank_name").isNotNull && col("review_id").isNotNull &&
      col("rating").isNotNull)

  /** Full bronze→staged composition in reference order
    * (run_phase2_transformation.py:249-286: dedup → impute → clean →
    * flag → keep valid). */
  def stage(bronze: DataFrame): DataFrame = {
    val staged = withQualityFlag(cleanse(imputeNulls(dedupReviews(bronze))))
    requiredFieldsFilter(staged).filter(col("data_quality_flag") === "valid")
  }
}
