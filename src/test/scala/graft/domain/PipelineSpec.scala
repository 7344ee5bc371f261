package graft.domain

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The silver composition as it was before the word-stats kernel: Clean's
  * `regexp_replace` whitespace collapse and Nlp's regex counts, `rlike`
  * mention flags, `split` word counts and `lower` calls, written out as
  * the reference [[Pipeline.enrichOnly]] must equal. */
object RegexEnrich {
  def stage(bronze: DataFrame): DataFrame = {
    val cleansed = Clean.imputeNulls(Clean.dedupReviews(bronze))
      .withColumn("bank_name", trim(col("bank_name")))
      .withColumn("branch_name", trim(col("branch_name")))
      .withColumn("text", regexp_replace(trim(col("text")), "\\s+", " "))
      .withColumn("review_time", timestamp_seconds(col("time")))
    Clean.requiredFieldsFilter(Clean.withQualityFlag(cleansed))
      .filter(col("data_quality_flag") === "valid")
  }

  private def hits(c: Column, words: Seq[String]): Column =
    regexp_count(lower(c), lit("\\b(" + words.mkString("|") + ")\\b"))
  private def wordCount(c: Column): Column =
    when(length(trim(c)) === 0, 0).otherwise(size(split(trim(c), "\\s+")))

  def enrich(staged: DataFrame): DataFrame = {
    val t = col("text")
    val language = staged
      .withColumn("__fr", hits(t, Nlp.frenchMarkers))
      .withColumn("__ar", Nlp.arabicMarkers.map(m => when(t.contains(m), 1).otherwise(0)).reduce(_ + _))
      .withColumn("__w", wordCount(t))
      .withColumn("detected_language",
        when(length(coalesce(t, lit(""))) < 3, "unknown")
          .when(col("__fr") >= col("__ar") && col("__fr") > 0, "fr")
          .when(col("__ar") > 0, "ar")
          .otherwise("unknown"))
      .withColumn("language_confidence",
        when(length(coalesce(t, lit(""))) < 3, 0.0)
          .when(col("detected_language") === "unknown", Thresholds.languageUnknownConfidence)
          .otherwise(least(
            greatest(col("__fr"), col("__ar")).cast("double") / col("__w").cast("double"),
            lit(1.0))))
      .drop("__fr", "__ar", "__w")
    val sentiment = language
      .withColumn("__pos", hits(t, Nlp.positiveLexicon))
      .withColumn("__neg", hits(t, Nlp.negativeLexicon))
      .withColumn("sentiment_score", PortableScorer.score(col("__pos"), col("__neg")))
      .withColumn("sentiment_label",
        when(col("sentiment_score") > Thresholds.sentimentPositive, "Positive")
          .when(col("sentiment_score") < Thresholds.sentimentNegative, "Negative")
          .otherwise("Neutral"))
      .withColumn("sentiment_confidence", PortableScorer.confidence(col("__pos"), col("__neg"),
        col("sentiment_score"), None))
      .drop("__pos", "__neg")
    sentiment
      .withColumn("word_count", wordCount(t))
      .withColumn("char_count", length(coalesce(t, lit(""))))
      .withColumn("rating_category",
        when(col("rating") >= Thresholds.ratingHigh, "Positive")
          .when(col("rating") <= Thresholds.ratingLow, "Negative")
          .otherwise("Neutral"))
      .withColumn("review_detail_level",
        when(col("word_count") >= 50, "detailed")
          .when(col("word_count") >= 20, "moderate")
          .otherwise("brief"))
      .withColumn("review_year", year(col("review_time")))
      .withColumn("review_month", date_format(col("review_time"), "yyyy-MM"))
      .withColumn("day_of_week", date_format(col("review_time"), "EEEE"))
      .withColumn("mentions_service",
        coalesce(lower(t).rlike("service|accueil|personnel"), lit(false)))
      .withColumn("mentions_waiting",
        coalesce(lower(t).rlike("attente|attendre|queue|file"), lit(false)))
      .withColumn("mentions_fees",
        coalesce(lower(t).rlike("frais|commission|tarif|prix"), lit(false)))
  }
}

class PipelineSpec extends SparkSpec {

  private val goldTables = Seq("dim_bank", "dim_branch", "dim_sentiment", "dim_date",
    "fact_reviews", "mart_bank_performance", "mart_bank_ranking", "mart_geographic")

  /** A fresh directory holding the fixture bronze. */
  private def bronzeBase(): String = {
    val base = graft.Scratch.fresh("pipe")
    Fixtures.reviews(spark).write.mode("overwrite").parquet(s"$base/bronze")
    base
  }

  /** A gold table's rows as a sorted multiset, without the load timestamp. */
  private def goldRows(gold: String, table: String): Seq[String] =
    spark.read.parquet(s"$gold/$table").drop("loaded_at")
      .collect().map(_.toString).sorted.toSeq

  test("run: bronze parquet → gold star schema + marts with validation counts") {
    val base = bronzeBase()
    val r = Pipeline.run(spark, s"$base/bronze", s"$base/gold")
    assert(r.bronzeCount === 10)
    assert(r.stagedCount === 7) // dup dropped, empty/too-short filtered
    assert(r.factCount === 7)
    assert(r.bankCount === 3)
    assert(r.branchCount === 4)
    // gold is partitioned by review_year → partition pruning applies
    val fact = spark.read.parquet(s"$base/gold/fact_reviews")
    assert(fact.columns.contains("review_year"))
    val pruned = fact.filter(col("review_year") === 2024)
    assert(pruned.count() === 7)
    // pruning must show up as PartitionFilters in the scan, not a post-scan
    // filter — the difference between reading one partition and all of them
    val planStr = pruned.queryExecution.executedPlan.toString
    assert(planStr.contains("PartitionFilters") &&
      planStr.contains("review_year"), planStr)
    // The geographic BI view lands in gold alongside the bank marts.
    val geo = spark.read.parquet(s"$base/gold/mart_geographic")
    assert(geo.columns.toSet ===
      Set("city", "total_reviews", "avg_rating", "avg_sentiment"))
    assert(geo.agg(sum("total_reviews")).head().getLong(0) === r.factCount)
    // S11: the run-stats JSON sink is the returned Result
    val stats = spark.read.json(s"$base/gold/run_stats").collect()
    assert(stats.length === 1)
    val st = stats.head
    assert(Pipeline.Result(st.getAs[Long]("bronzeCount"), st.getAs[Long]("stagedCount"),
      st.getAs[Long]("factCount"), st.getAs[Long]("bankCount"),
      st.getAs[Long]("branchCount")) === r)
    // idempotent rebuild (SaveMode.Overwrite ≡ DROP CASCADE + CTAS): the
    // same Result and the same rows in every gold table
    val first = goldTables.map(t => t -> goldRows(s"$base/gold", t))
    val r2 = Pipeline.run(spark, s"$base/bronze", s"$base/gold")
    assert(r2 === r)
    first.foreach { case (t, rows) =>
      assert(rows.nonEmpty, t)
      assert(goldRows(s"$base/gold", t) === rows, t)
    }
  }

  test("run: every fact key resolves in the gold dims with the matching name") {
    val base = bronzeBase()
    Pipeline.run(spark, s"$base/bronze", s"$base/gold")
    val fact = spark.read.parquet(s"$base/gold/fact_reviews")
    val bank = spark.read.parquet(s"$base/gold/dim_bank")
      .select(col("bank_key"), col("bank_name").as("dim_bank_name"))
    val branch = spark.read.parquet(s"$base/gold/dim_branch")
      .select(col("branch_key"), col("branch_id").as("dim_branch_id"))
    val rows = fact.join(bank, Seq("bank_key"), "left")
      .join(branch, Seq("branch_key"), "left")
      .select("review_id", "bank_name", "dim_bank_name", "place_id", "dim_branch_id")
      .collect()
    assert(rows.length === 7)
    rows.foreach { r =>
      assert(r.getAs[String]("dim_bank_name") === r.getAs[String]("bank_name"), r)
      assert(r.getAs[String]("dim_branch_id") === r.getAs[String]("place_id"), r)
    }
  }

  test("run: the same bronze builds the same gold, keys included, under any partitioning") {
    val conf = spark.conf
    val pinned = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    val saved = pinned.map(k => k -> conf.getOption(k))
    // Builds the fixture bronze, written as `files` parquet files, with
    // `partitions` shuffle partitions; returns every gold table's rows.
    def build(partitions: Int, files: Int): Map[String, Seq[String]] = {
      conf.set("spark.sql.shuffle.partitions", partitions.toLong)
      val base = graft.Scratch.fresh("pipe")
      Fixtures.reviews(spark).repartition(files).write.parquet(s"$base/bronze")
      assert(new java.io.File(s"$base/bronze").list().count(_.endsWith(".parquet")) === files)
      Pipeline.run(spark, s"$base/bronze", s"$base/gold")
      goldTables.map(t => t -> goldRows(s"$base/gold", t)).toMap
    }
    try {
      // AQE would coalesce the fixture's shuffles to one partition either
      // way; keep the partition counts as set.
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", false)
      val one = build(partitions = 1, files = 1)
      val many = build(partitions = 7, files = 4)
      goldTables.foreach(t => assert(many(t) === one(t), t))
    } finally saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
  }

  test("enrichOnly equals the regex composition row for row, schema included") {
    import spark.implicits._
    // The fixture, plus 3,000 reviews whose texts are the word-stats
    // kernel's adversarial corpus.
    val template = Fixtures.reviews(spark).filter(col("review_id") === "r1")
    val texts = graft.functions.WordStatsCorpus.texts(3000, seed = 21).zipWithIndex
      .map { case (t, i) => (s"z$i", t) }.toDF("zid", "ztext")
    val bronze = Fixtures.reviews(spark).unionByName(template.crossJoin(texts)
      .withColumn("review_id", col("zid")).withColumn("text", col("ztext"))
      .drop("zid", "ztext"))
    val base = graft.Scratch.fresh("pipe")
    bronze.write.parquet(s"$base/bronze")
    val read = spark.read.schema(Schemas.review).parquet(s"$base/bronze")
    val got = Pipeline.enrichOnly(read)
    val want = RegexEnrich.enrich(RegexEnrich.stage(read))
    assert(got.schema === want.schema)
    val (g, w) = (got.collect().map(_.toString).sorted, want.collect().map(_.toString).sorted)
    assert(g.length > 1000)
    assert(g.toSeq === w.toSeq)
  }

  test("run: a failed build releases the persisted silver") {
    val base = bronzeBase()
    // Gold under a regular file: silver is built, then every write fails.
    val blocker = new java.io.File(s"$base/blocker")
    assert(blocker.createNewFile())
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache() // other suites share this session
    intercept[Exception](Pipeline.run(spark, s"$base/bronze", s"$base/blocker/gold"))
    assert(cacheManager.isEmpty)
  }
}
