package graft.domain

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MartsSpec extends SparkSpec {
  private lazy val silver = Pipeline.enrichOnly(Fixtures.reviews(spark))

  test("bankPerformance: counts, rounded avgs, conditional counts") {
    val perf = Marts.bankPerformance(silver).collect()
      .map(r => r.getAs[String]("bank_name") -> r).toMap
    val alpha = perf("Bank Alpha")
    assert(alpha.getAs[Long]("total_reviews") === 4) // r1 r2 r3 r6
    // ratings 5,1,4,3 → avg 3.25
    assert(alpha.getAs[Double]("avg_rating") === 3.25)
    assert(alpha.getAs[Long]("positive_reviews") === 2) // r1, r3 (>=4)
    assert(alpha.getAs[Long]("negative_reviews") === 1) // r2 (<=2)
  }

  test("bankComprehensive: star histogram sums to total") {
    Marts.bankComprehensive(silver).collect().foreach { r =>
      val hist = Seq("five_star", "four_star", "three_star", "two_star", "one_star")
        .map(r.getAs[Long]).sum
      assert(hist === r.getAs[Long]("total_reviews"))
      val sent = Seq("positive_sentiment", "neutral_sentiment", "negative_sentiment")
        .map(r.getAs[Long]).sum
      assert(sent === r.getAs[Long]("total_reviews"))
    }
  }

  test("branchPerformance: satisfaction rate bounded 0..100") {
    Marts.branchPerformance(silver).collect().foreach { r =>
      val rate = r.getAs[java.math.BigDecimal]("satisfaction_rate").doubleValue()
      assert(rate >= 0 && rate <= 100)
    }
  }

  test("bankRanking: gapped rank ordered by avg_rating then sentiment") {
    val ranked = Marts.bankRanking(silver)
      .select("bank_name", "bank_rank").collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(ranked.values.min === 1)
    // Gamma: single 5-star review → top rank
    assert(ranked("Bank Gamma") === 1)
  }

  test("rankPerformance over a materialized bankPerformance equals bankRanking") {
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    val perf = Marts.bankPerformance(silver).localCheckpoint()
    val direct = rows(Marts.bankRanking(silver))
    assert(direct.nonEmpty)
    assert(rows(Marts.rankPerformance(perf)) === direct)
  }

  test("quarterlyTrend: lag null on first quarter per bank") {
    val trend = Marts.quarterlyTrend(silver)
    val firsts = trend.filter(col("prev_q_avg_rating").isNull).count()
    assert(firsts >= trend.select("bank_name").distinct().count())
  }

  test("monthlyTrends: one null-lag first month per bank, MoM delta elsewhere") {
    val mt = Marts.monthlyTrends(silver)
    val firsts = mt.filter(col("prev_m_avg_rating").isNull).count()
    assert(firsts === mt.select("bank_name").distinct().count())
    // Bank Alpha spans 2024-05 (r2), 2024-06 (r1,r3), 2024-07 (r6) →
    // null delta on the first month only, non-null on the later two.
    val alpha = mt.filter(col("bank_name") === "Bank Alpha")
      .orderBy("review_month").collect()
    assert(alpha.length === 3)
    assert(alpha.head.getAs[Any]("rating_mom") == null)
    assert(alpha.tail.forall(_.getAs[Any]("rating_mom") != null))
  }

  test("bankDashboard joins fact to dim and counts branches") {
    val bank = Star.dimBank(silver)
    val branch = Star.dimBranch(silver, bank)
    val fact = Star.factReviews(silver, bank, branch)
    val dash = Marts.bankDashboard(fact, bank).collect()
      .map(r => r.getAs[String]("bank_name") -> r.getAs[Long]("branch_count")).toMap
    assert(dash("Bank Alpha") === 2L)
  }

  test("geographicAnalysis aggregates the fact per city with rounded avgs") {
    val bank = Star.dimBank(silver)
    val branch = Star.dimBranch(silver, bank)
    val fact = Star.factReviews(silver, bank, branch)
    val geo = Marts.geographicAnalysis(fact, branch)
    val rows = geo.collect()
    assert(rows.nonEmpty)
    // Totals must partition the joined fact rows (every fact row has a
    // branch in the fixture), and avgs carry the view's rounding.
    val joined = fact.join(branch.select("branch_key"), Seq("branch_key")).count()
    assert(rows.map(_.getAs[Long]("total_reviews")).sum === joined)
    rows.foreach { r =>
      val avg = r.getAs[Double]("avg_rating")
      assert(avg >= 1.0 && avg <= 5.0)
      assert((avg * 100).round / 100.0 === avg) // rounded to 2 decimals
    }
    // Ordered by volume desc (vw_geographic_analysis ORDER BY).
    val counts = rows.map(_.getAs[Long]("total_reviews"))
    assert(counts.sameElements(counts.sortBy(-_)))
  }
}
