package graft.domain

import graft.SparkSpec
import org.apache.spark.sql.functions._

class StarSpec extends SparkSpec {
  private lazy val bronze = Fixtures.reviews(spark)
  private lazy val silver = Pipeline.enrichOnly(bronze)
  private lazy val bank = Star.dimBank(silver)
  private lazy val branch = Star.dimBranch(silver, bank)
  private lazy val fact = Star.factReviews(silver, bank, branch)

  /** Each `key` is the xxhash64 of its `natural` key, and the keys are
    * distinct. */
  private def assertHashKeys(df: org.apache.spark.sql.DataFrame, key: String,
      natural: String): Unit = {
    val rows = df.select(col(key), xxhash64(col(natural))).collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1), s"$key of $natural: $r"))
    assert(rows.map(_.getLong(0)).distinct.length === rows.length, s"$key is not distinct")
  }

  test("dim_sentiment has 5 prioritized buckets with reference ranges") {
    val dim = Star.dimSentiment(spark)
    assert(dim.count() === 5)
    val vp = dim.filter(col("sentiment_id") === "very_positive").head()
    assert(vp.getAs[Double]("score_range_min") === 0.5)
  }

  test("sentimentKey CASE priority resolves the overlapping ranges") {
    import spark.implicits._
    val scored = Seq(0.7, 0.5, 0.3, 0.1, 0.0, -0.1, -0.3, -0.5, -0.7).toDF("s")
      .select(col("s"), Star.sentimentKey(col("s")).as("k"))
      .collect().map(r => r.getDouble(0) -> r.getInt(1)).toMap
    assert(scored(0.7) === 1) // very_positive wins over positive
    assert(scored(0.5) === 1) // boundary: >= 0.5 is very_positive
    assert(scored(0.3) === 2)
    assert(scored(0.1) === 2) // boundary: exactly 0.1 IS positive (ref `>=`)
    assert(scored(0.0) === 3)
    assert(scored(-0.1) === 4) // boundary: exactly -0.1 IS negative (ref `<=`)
    assert(scored(-0.3) === 4)
    assert(scored(-0.5) === 5) // boundary: <= -0.5 is very_negative
    assert(scored(-0.7) === 5) // very_negative wins over negative
  }

  test("dim_date spine: 4018 rows, date_key round-trip, PG DOW semantics") {
    val dim = Star.dimDate(spark)
    assert(dim.count() === 4018)
    val jan1 = dim.filter(col("full_date") === lit("2024-01-01").cast("date")).head()
    assert(jan1.getAs[Int]("date_key") === 20240101)
    assert(jan1.getAs[Int]("day_of_week") === 1) // Monday: PG DOW=1
    assert(jan1.getAs[String]("season") === "Winter")
    val sun = dim.filter(col("full_date") === lit("2024-01-07").cast("date")).head()
    assert(sun.getAs[Int]("day_of_week") === 0) // Sunday: PG DOW=0
    assert(sun.getAs[Boolean]("is_weekend"))
  }

  test("dim_date holiday ladder flags exactly the reference's fixed dates") {
    val dim = Star.dimDate(spark)
    val holidays2024 = dim
      .filter(col("is_holiday") && col("year") === 2024)
      .select(date_format(col("full_date"), "MM-dd"))
      .collect().map(_.getString(0)).toSet
    assert(holidays2024 === Set("01-01", "01-11", "05-01", "07-30",
      "08-14", "08-20", "08-21", "11-06", "11-18")) // dim_date.sql:68-81
    val jan1 = dim.filter(col("full_date") === lit("2024-01-01").cast("date")).head()
    assert(jan1.getAs[Int]("fiscal_year") === 2024)
    assert(jan1.getAs[Int]("fiscal_quarter") === 1)
  }

  test("dim_holiday data table agrees with the CASE expression on the whole spine") {
    val flagged = Star.dimDate(spark).filter(col("is_holiday"))
      .select("full_date").collect().map(_.getDate(0)).toSet
    val tabulated = Star.dimHoliday(spark)
      .select("full_date").collect().map(_.getDate(0)).toSet
    assert(tabulated.size === 99) // 9 holidays x 11 years
    assert(flagged === tabulated,
      "is_holiday must be true on exactly the dim_holiday dates of 2020-2030")
  }

  test("dim_holiday religious extension adds lunar rows without touching parity") {
    val full = Star.dimHoliday(spark, includeReligious = true)
    // 99 fixed + 11 years x (2 Fitr + 2 Adha + 1 Muharram + 2 Mawlid),
    // minus the two lunar/fixed coincidences folded into one row each
    // (Fatih Muharram 2020 = Revolution Day, Hijri New Year 2022 = Throne Day)
    assert(full.count() === 99 + 11 * 7 - 2)
    // full_date must stay UNIQUE — the join-key-table contract; joining a
    // duplicated date to the spine would duplicate spine rows.
    assert(full.select("full_date").distinct().count() === full.count())
    // Coinciding holidays fold into one deterministic sorted row.
    val muh20 = full.filter(col("full_date") === lit("2020-08-20").cast("date"))
      .select("holiday_name").collect().map(_.getString(0))
    assert(muh20 === Array("Fatih Muharram / Revolution Day"))
    // Known observed dates (Gregorian), e.g. Eid al-Fitr 2024 = Apr 10.
    val fitr24 = full.filter(col("full_date") === lit("2024-04-10").cast("date"))
      .select("holiday_name").collect().map(_.getString(0))
    assert(fitr24 === Array("Eid al-Fitr"))
    // dim_date's is_holiday must NOT see lunar dates: it stays the
    // reference's fixed-date spec.
    assert(Star.dimDate(spark)
      .filter(col("full_date") === lit("2024-04-10").cast("date"))
      .head().getAs[Boolean]("is_holiday") === false)
  }

  test("bank attribute ladders reproduce the dbt CASE lookups") {
    import spark.implicits._
    val attrs = Star.bankAttributes(
      Seq("Attijariwafa Bank", "Banque Populaire", "Al Barid Bank",
        "Crédit Agricole du Maroc", "Some Unknown Bank").toDF("bank_name"))
      .collect().map(r => r.getAs[String]("bank_name") -> r).toMap
    val awb = attrs("Attijariwafa Bank") // dim_bank.sql:33,42,55,65
    assert(awb.getAs[String]("bank_type") === "Large Commercial")
    assert(awb.getAs[Int]("established_year") === 2004)
    assert(awb.getAs[String]("headquarters_city") === "Casablanca")
    assert(awb.getAs[String]("website_url") === "https://www.attijariwafabank.com")
    val bp = attrs("Banque Populaire") // populaire → Cooperative (dim_bank.sql:26)
    assert(bp.getAs[String]("bank_category") === "Cooperative")
    assert(bp.getAs[String]("headquarters_city") === "Rabat")
    val barid = attrs("Al Barid Bank") // barid → Islamic (dim_bank.sql:24)
    assert(barid.getAs[String]("bank_category") === "Islamic")
    assert(barid.getAs[Int]("established_year") === 2009)
    val cam = attrs("Crédit Agricole du Maroc")
    assert(cam.getAs[String]("bank_category") === "Credit")
    assert(cam.getAs[String]("bank_type") === "Credit Institution")
    val unknown = attrs("Some Unknown Bank") // every ELSE branch
    assert(unknown.getAs[String]("bank_category") === "Commercial")
    assert(unknown.getAs[String]("bank_type") === "Commercial")
    assert(unknown.isNullAt(unknown.fieldIndex("established_year")))
    assert(unknown.getAs[String]("headquarters_city") === "Casablanca")
    assert(unknown.isNullAt(unknown.fieldIndex("website_url")))
  }

  test("dim_bank: one row per bank with branch counts and slug ids") {
    val rows = bank.collect().map(r =>
      r.getAs[String]("bank_name") -> (r.getAs[Long]("total_branches"), r.getAs[String]("bank_id"))).toMap
    assert(rows.keySet === Set("Bank Alpha", "Bank Beta", "Bank Gamma"))
    assert(rows("Bank Alpha")._1 === 2L) // p1, p2
    assert(rows("Bank Alpha")._2 === "Bank_Alpha")
    assertHashKeys(bank, "bank_key", "bank_name")
  }

  test("dim_branch carries its bank_key via broadcast lookup") {
    assert(branch.count() === 4) // p1, p2, p3, p5 survive staging
    assert(branch.filter(col("bank_key").isNull).count() === 0)
    assertHashKeys(branch, "branch_key", "branch_id")
  }

  test("fact: row-for-row from silver, surrogate + sentiment + date keys") {
    assert(fact.count() === silver.count())
    assert(fact.filter(col("bank_key").isNull).count() === 0)
    assert(fact.filter(col("sentiment_key").between(1, 5)).count() === fact.count())
    val r1 = fact.filter(col("review_id") === "r1").head()
    assert(r1.getAs[Int]("date_key") === 20240601)
    assertHashKeys(fact, "review_key", "review_id")
  }

  test("requireDistinctReviewKeys fails on a duplicate review_key") {
    import spark.implicits._
    Star.requireDistinctReviewKeys(silver)
    val dup = silver.select("review_id").union(silver.select("review_id").limit(1))
    val e = intercept[IllegalArgumentException](Star.requireDistinctReviewKeys(dup))
    assert(e.getMessage.contains("8 reviews but 7 distinct review_keys"), e.getMessage)
    Star.requireDistinctReviewKeys(Seq("a", "b").toDF("review_id"))
  }
}
