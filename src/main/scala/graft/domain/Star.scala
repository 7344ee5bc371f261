package graft.domain

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Star-schema build (SURVEY §2.4-2.6, §3.1): dim_sentiment, dim_date,
  * dim_bank, dim_branch, fact_reviews. All dims are broadcast-join
  * candidates (≤ thousands of rows); the fact build is one lineage with
  * two broadcast left-joins + the ordered sentiment-range CASE.
  *
  * Surrogate keys follow one rule: a key is the BIGINT `xxhash64` of its
  * natural key — bank_key of bank_name, branch_key of branch_id,
  * review_key of review_id. The reference numbers rows with a global
  * `ROW_NUMBER() OVER (ORDER BY …)` (complete_data_pipeline_fixed.py:
  * 150,186,200,226), a single-partition sort whose keys also shift when a
  * row is added. A hash is computed on each row: it adds no stage, and a
  * natural key gets the same surrogate key in every session, refresh and
  * partition layout.
  *
  * Collision bound: n distinct values collide with probability ≈ n²/2⁶⁵,
  * about 7·10⁻¹¹ at 50k reviews and 3·10⁻⁴ at 10⁸. The dims are bounded
  * (~10 banks, a few thousand branches), so their odds do not grow with
  * the data; [[requireDistinctReviewKeys]] checks the fact's keys, and
  * [[Pipeline.run]] runs it over silver on every build.
  */
object Star {

  /** dim_sentiment: 5 static buckets with the reference's overlapping score
    * ranges (dim_sentiment.sql:27-31). Priority order (very_* first) is the
    * disambiguation spec — see sentimentKey. */
  def dimSentiment(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      (1, "very_positive", "Very Positive", 0.5, 1.0),
      (2, "positive", "Positive", 0.1, 1.0),
      (3, "neutral", "Neutral", -0.1, 0.1),
      (4, "negative", "Negative", -1.0, -0.1),
      (5, "very_negative", "Very Negative", -1.0, -0.5))
      .toDF("sentiment_key", "sentiment_id", "sentiment_display",
        "score_range_min", "score_range_max")
  }

  /** J7: sentiment score → key via the ordered CASE ladder; the CASE
    * priority order IS the spec because ranges overlap
    * (complete_data_pipeline_fixed.py:229-235, fact_reviews.sql:91-97).
    * Branch order and boundary operators mirror the reference verbatim:
    * >= 0.5 very_positive, >= 0.1 positive (exactly 0.1 IS positive),
    * <= -0.5 very_negative, <= -0.1 negative (exactly -0.1 IS negative),
    * else neutral. */
  def sentimentKey(scoreCol: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(scoreCol >= Thresholds.sentimentVeryPositive, 1)
      .when(scoreCol >= Thresholds.sentimentPositive, 2)
      .when(scoreCol <= Thresholds.sentimentVeryNegative, 5)
      .when(scoreCol <= Thresholds.sentimentNegative, 4)
      .otherwise(3)

  /** dim_date: 2020-01-01..2030-12-31 spine (4018 rows, dim_date.sql:17-23)
    * with date_key = YYYYMMDD int, PG-semantics DOW, season + weekend flags.
    * is_holiday is the row-local [[isMoroccanHoliday]] test over the same
    * fixed-date list that [[dimHoliday]] tabulates. */
  def dimDate(spark: SparkSession): DataFrame = {
    val spine = spark.sql(
      "SELECT explode(sequence(to_date('2020-01-01'), to_date('2030-12-31'), interval 1 day)) AS full_date")
    val fd = col("full_date")
    spine.select(
      (year(fd) * 10000 + month(fd) * 100 + dayofmonth(fd)).as("date_key"),
      fd,
      year(fd).as("year"), quarter(fd).as("quarter"), month(fd).as("month"),
      date_format(fd, "MMMM").as("month_name"),
      weekofyear(fd).as("week_of_year"),
      dayofmonth(fd).as("day_of_month"),
      (dayofweek(fd) - 1).as("day_of_week"), // PG EXTRACT(DOW): 0=Sunday
      date_format(fd, "EEEE").as("day_name"),
      dayofweek(fd).isin(1, 7).as("is_weekend"),
      when(month(fd).isin(12, 1, 2), "Winter")
        .when(month(fd).isin(3, 4, 5), "Spring")
        .when(month(fd).isin(6, 7, 8), "Summer")
        .otherwise("Autumn").as("season"),
      year(fd).as("fiscal_year"), // Jan-Dec fiscal calendar (dim_date.sql:65-67)
      quarter(fd).as("fiscal_quarter"),
      isMoroccanHoliday(fd).as("is_holiday"))
  }

  /** dim_holiday: the nine [[fixedHolidays]] as a DATA table — one row
    * per occurrence over the dim_date spine years (9 × 11 = 99 rows). Religious (lunar)
    * holidays shift yearly and are out of the reference's scope (and
    * dim_date's is_holiday); `includeReligious = true` appends their
    * observed/projected Gregorian dates — the extension the reference
    * could never express in a CASE over (month, day), and the reason this
    * is a table. Lunar dates beyond the mid-2020s are astronomical
    * projections (actual observance follows moon sighting and can shift
    * ±1 day) — the operational path is correcting the row, not the code.
    *
    * `full_date` is UNIQUE in both modes — the contract that makes this
    * joinable to the date spine without duplicating spine rows. Lunar
    * dates can land on fixed ones (Fatih Muharram 2020 = Revolution Day,
    * Hijri New Year 2022 = Throne Day), so the religious mode aggregates
    * coinciding names into one sorted "A / B" row rather than emitting
    * two rows for the date. */
  def dimHoliday(spark: SparkSession,
      includeReligious: Boolean = false): DataFrame = {
    import spark.implicits._
    val rows = for {
      y <- 2020 to 2030
      (m, dd, name) <- fixedHolidays
    } yield (java.sql.Date.valueOf(f"$y-$m%02d-$dd%02d"), name)
    val base = rows.toDF("full_date", "holiday_name")
    if (!includeReligious) base
    else base.unionByName(
        religiousHolidays.map { case (d, n) => (java.sql.Date.valueOf(d), n) }
          .toDF("full_date", "holiday_name"))
      .groupBy("full_date")
      .agg(array_join(array_sort(collect_list(col("holiday_name"))), " / ")
        .as("holiday_name"))
  }

  /** Morocco observes two days each for Eid al-Fitr, Eid al-Adha and
    * Fatih Muharram is one day; Aid al-Mawlid two. First-day dates below;
    * each spans the listed day plus the following day for the two-day
    * holidays. Kept flat (one row per observed day). */
  private[domain] val religiousHolidays: Seq[(String, String)] = {
    val eidFitr = Seq( // 1 Shawwal (+1 day observed)
      "2020-05-24", "2021-05-13", "2022-05-02", "2023-04-21", "2024-04-10",
      "2025-03-31", "2026-03-20", "2027-03-10", "2028-02-27", "2029-02-15",
      "2030-02-05")
    val eidAdha = Seq( // 10 Dhu al-Hijjah (+1 day observed)
      "2020-07-31", "2021-07-20", "2022-07-10", "2023-06-29", "2024-06-17",
      "2025-06-07", "2026-05-27", "2027-05-17", "2028-05-05", "2029-04-24",
      "2030-04-14")
    val hijriNewYear = Seq( // 1 Muharram
      "2020-08-20", "2021-08-09", "2022-07-30", "2023-07-19", "2024-07-08",
      "2025-06-27", "2026-06-17", "2027-06-07", "2028-05-26", "2029-05-15",
      "2030-05-05")
    val mawlid = Seq( // 12 Rabi al-Awwal (+1 day observed)
      "2020-10-29", "2021-10-19", "2022-10-08", "2023-09-28", "2024-09-16",
      "2025-09-05", "2026-08-26", "2027-08-15", "2028-08-03", "2029-07-24",
      "2030-07-13")
    def plusOne(d: String): String =
      java.time.LocalDate.parse(d).plusDays(1).toString
    eidFitr.flatMap(d => Seq(d -> "Eid al-Fitr", plusOne(d) -> "Eid al-Fitr (day 2)")) ++
      eidAdha.flatMap(d => Seq(d -> "Eid al-Adha", plusOne(d) -> "Eid al-Adha (day 2)")) ++
      hijriNewYear.map(_ -> "Fatih Muharram") ++
      mawlid.flatMap(d => Seq(d -> "Aid al-Mawlid", plusOne(d) -> "Aid al-Mawlid (day 2)"))
  }

  /** The fixed-date Moroccan public holidays as (month, day, name)
    * (dim_date.sql:68-81). The reference models only the fixed Gregorian
    * dates (religious holidays shift yearly and are out of its scope — kept
    * identical here). */
  private val fixedHolidays = Seq(
    (1, 1, "New Year"), (1, 11, "Independence Manifesto Day"),
    (5, 1, "Labour Day"), (7, 30, "Throne Day"),
    (8, 14, "Oued Ed-Dahab Day"), (8, 20, "Revolution Day"),
    (8, 21, "Youth Day"), (11, 6, "Green March Day"),
    (11, 18, "Independence Day"))

  /** True on the [[fixedHolidays]]: a row-local test of (month, day). */
  def isMoroccanHoliday(fd: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (month(fd) * 100 + dayofmonth(fd)).isin(fixedHolidays.map { case (m, dd, _) => m * 100 + dd }: _*)

  /** Descriptive bank attributes — the dbt dim's CASE lookup ladders
    * (dim_bank.sql:21-73): category and type from name patterns,
    * establishment year / headquarters / website from the known-bank
    * lookup. Pure row-local column expressions. */
  def bankAttributes(df: DataFrame, nameCol: String = "bank_name"): DataFrame = {
    val n = lower(col(nameCol))
    val category = when(n.contains("islamic") || n.contains("barid"), "Islamic")
      .when(n.contains("credit") || n.contains("crédit"), "Credit")
      .when(n.contains("populaire"), "Cooperative")
      .when(n.contains("international"), "International")
      .otherwise("Commercial")
    val bankType = when(n.isin("attijariwafa bank", "banque populaire", "bmce bank"),
        "Large Commercial")
      .when(n.contains("crédit") || n.contains("credit"), "Credit Institution")
      .when(n.contains("islamic"), "Islamic Banking")
      .otherwise("Commercial")
    val established = when(n === "attijariwafa bank", 2004)
      .when(n === "banque populaire", 1961)
      .when(n === "bmce bank", 1959)
      .when(n === "crédit agricole du maroc", 1961)
      .when(n === "bmci", 1943)
      .when(n === "société générale maroc", 1962)
      .when(n === "cih bank", 1920)
      .when(n === "cdm", 1959)
      .when(n === "al barid bank", 2009)
      .otherwise(lit(null).cast("int"))
    val hq = when(n.isin("attijariwafa bank", "bmce bank", "bmci",
        "société générale maroc", "cih bank"), "Casablanca")
      .when(n.isin("banque populaire", "crédit agricole du maroc", "cdm",
        "al barid bank"), "Rabat")
      .otherwise("Casablanca") // default to the economic capital (dim_bank.sql:62)
    val website = when(n === "attijariwafa bank", "https://www.attijariwafabank.com")
      .when(n === "banque populaire", "https://www.gbp.ma")
      .when(n === "bmce bank", "https://www.bmcebank.ma")
      .when(n === "crédit agricole du maroc", "https://www.creditagricole.ma")
      .when(n === "bmci", "https://www.bmci.ma")
      .when(n === "société générale maroc", "https://www.sgmaroc.com")
      .when(n === "cih bank", "https://www.cih.co.ma")
      .when(n === "al barid bank", "https://www.albaridbank.ma")
      .otherwise(lit(null).cast("string"))
    df.withColumn("bank_category", category)
      .withColumn("bank_type", bankType)
      .withColumn("established_year", established)
      .withColumn("headquarters_city", hq)
      .withColumn("website_url", website)
  }

  /** dim_bank: distinct banks + branch-count metric join + descriptive
    * attribute ladders
    * (complete_data_pipeline_fixed.py:182-196; dim_bank.sql:16-101). */
  def dimBank(staged: DataFrame): DataFrame = {
    val banks = staged.select(col("bank_name")).distinct()
    val metrics = staged.groupBy(col("bank_name"))
      .agg(countDistinct(col("place_id")).as("total_branches"))
    val joined = bankAttributes(banks.join(broadcast(metrics), Seq("bank_name"), "left"))
      .withColumn("bank_id", regexp_replace(col("bank_name"), " ", "_"))
      .withColumn("total_branches", coalesce(col("total_branches"), lit(0L)))
    joined.select(xxhash64(col("bank_name")).as("bank_key"), col("bank_id"),
      col("bank_name"), col("bank_category"), col("bank_type"),
      col("established_year"), col("headquarters_city"), col("website_url"),
      col("total_branches"))
  }

  /** City/region extraction from branch names — the dim_branch CASE ladder
    * family (dim_branch.sql:22-68): ordered ILIKE-contains router plus the
    * ARRAY services literal and NULL-typed opening_hours (dim_branch.sql:
    * 95-100). Cities cover the reference's Moroccan metro areas. */
  def branchGeo(df: DataFrame, nameCol: String = "branch_name"): DataFrame = {
    val n = lower(coalesce(col(nameCol), lit("")))
    val city = when(n.contains("casablanca"), "Casablanca")
      .when(n.contains("rabat"), "Rabat")
      .when(n.contains("marrakech"), "Marrakech")
      .when(n.contains("fes") || n.contains("fès"), "Fes")
      .when(n.contains("tanger"), "Tangier")
      .when(n.contains("agadir"), "Agadir")
      .otherwise("Other")
    val region = when(col("city").isin("Casablanca", "Rabat"), "Casablanca-Rabat Axis")
      .when(col("city").isin("Marrakech", "Agadir"), "South")
      .when(col("city").isin("Fes", "Tangier"), "North")
      .otherwise("Other")
    val branchType = when(n.contains("siege") || n.contains("siège"), "headquarters")
      .when(n.contains("agence"), "branch")
      .otherwise("branch")
    df.withColumn("city", city)
      .withColumn("region", region)
      .withColumn("branch_type", branchType)
      .withColumn("services",
        typedLit(Seq("ATM", "Cash Withdrawal", "Account Services")))
      .withColumn("opening_hours", lit(null).cast("map<string,string>"))
  }

  /** dim_branch: distinct (place_id, branch, bank) + bank_key lookup
    * (complete_data_pipeline_fixed.py:198-221; dim_branch.sql:17-106). */
  def dimBranch(staged: DataFrame, dimBank: DataFrame): DataFrame = {
    val branches = staged
      .select(col("place_id").as("branch_id"), col("branch_name"), col("bank_name"))
      .distinct()
    val joined = branchGeo(branches.join(
      broadcast(dimBank.select("bank_key", "bank_name")), Seq("bank_name"), "left"))
    joined.select(xxhash64(col("branch_id")).as("branch_key"), col("branch_id"),
      col("branch_name"), col("bank_name"), col("bank_key"), col("city"),
      col("region"), col("branch_type"), col("services"), col("opening_hours"))
  }

  /** fact_reviews: staged silver ⋈ broadcast dims (J1 left + null-filter,
    * J2 left), sentiment key CASE, date_key, stable reviewer hash
    * (complete_data_pipeline_fixed.py:223-261; fact_reviews.sql:69-163).
    *
    * reviewer_key uses Spark's Murmur3 `hash` — deliberately NOT PG
    * hashtext (non-portable, SURVEY §7.4.3); stability within this engine
    * is what matters. */
  def factReviews(enriched: DataFrame, dimBank: DataFrame, dimBranch: DataFrame): DataFrame =
    enriched
      .join(broadcast(dimBank.select("bank_key", "bank_name")), Seq("bank_name"), "left")
      .filter(col("bank_key").isNotNull) // J1: left + null-filter, not inner (parity)
      .join(broadcast(dimBranch.select(col("branch_key"), col("branch_id"))),
        enriched("place_id") === col("branch_id"), "left")
      .withColumn("sentiment_key", sentimentKey(col("sentiment_score")))
      .withColumn("date_key",
        year(col("review_time")) * 10000 + month(col("review_time")) * 100 +
          dayofmonth(col("review_time")))
      .withColumn("reviewer_key",
        abs(hash(concat(coalesce(col("author_name"), lit("")),
          coalesce(col("author_url"), lit(""))))))
      .withColumn("loaded_at", current_timestamp())
      .withColumn("review_key", reviewKey(col("review_id")))

  /** review_key, the fact's surrogate key of review_id. */
  def reviewKey(reviewId: Column): Column =
    xxhash64(reviewId)

  /** Fails unless every row of `reviews` has its own review_key: a repeated
    * review_id, or two review_ids whose hashes collide, fails. One job, an
    * aggregate of the row count and the distinct keys. */
  def requireDistinctReviewKeys(reviews: DataFrame): Unit = {
    val r = reviews.agg(count(lit(1)), countDistinct(reviewKey(col("review_id")))).head()
    val (rows, keys) = (r.getLong(0), r.getLong(1))
    require(keys == rows, s"$rows reviews but $keys distinct review_keys")
  }
}
