package graft.operators

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** GlobalRank: the scale-safe two-pass global rank must equal the naive
  * single-partition window bit-for-bit, while its physical plan contains
  * no unpartitioned window (the 100 TB hazard it exists to remove). */
class GlobalRankSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  // AQE-aware traversal (plain .collect does not descend into
  // AdaptiveSparkPlanExec and silently finds nothing).
  private def unpartitionedWindows(df: org.apache.spark.sql.DataFrame): Int =
    graft.plans.PlanHygiene.unpartitionedWindows(df).size

  test("row numbers equal the naive global window under duplicate keys") {
    val e = Tables(spark, sf, "events")
      .select(col("event_id"), col("value").cast("double").as("v"))
    val naive = e.withColumn("rn",
      row_number().over(Window.orderBy(col("v"), col("event_id"))))
    val ranked = GlobalRank.withRank(e, col("v"), descending = false,
      tieBreakers = Seq(col("event_id")), rnName = "rn")
    assert(ranked.count() === e.count())
    assert(ranked.exceptAll(naive).isEmpty && naive.exceptAll(ranked).isEmpty,
      "bucketed global rank must equal the single-partition window")
    assert(unpartitionedWindows(ranked) === 0,
      "GlobalRank's plan must not contain an unpartitioned window")
  }

  test("descending rank + exact decimal prefix sum equal the naive window") {
    val rev = Tables(spark, sf, "orders")
      .groupBy(col("o_custkey"))
      .agg(sum(col("o_totalprice").cast("decimal(18,2)")).as("rev"))
    val w = Window.orderBy(col("rev").desc, col("o_custkey"))
    val naive = rev
      .withColumn("rn", row_number().over(w).cast("long"))
      .withColumn("cum", sum(col("rev")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select(col("o_custkey"), col("rev"), col("rn"),
        col("cum").cast("decimal(38,2)"))
    val ranked = GlobalRank.withRank(rev, col("rev"), descending = true,
        tieBreakers = Seq(col("o_custkey")), rnName = "rn",
        prefixSum = Some((col("rev"), "cum")))
      .select(col("o_custkey"), col("rev"), col("rn"),
        col("cum").cast("decimal(38,2)"))
    assert(ranked.exceptAll(naive).isEmpty && naive.exceptAll(ranked).isEmpty,
      "prefix sums must be exactly the window running sums")
    assert(unpartitionedWindows(ranked) === 0)
  }

  test("null keys rank exactly where the naive window puts them, both directions") {
    val df = (1 to 60).map(i =>
      (i.toLong, if (i % 5 == 0) null else java.lang.Double.valueOf(i * 7 % 13)))
      .toDF("id", "v")
    for (desc <- Seq(false, true)) {
      val order = if (desc) col("v").desc else col("v").asc // Spark defaults:
      val naive = df.withColumn("rn",                        // FIRST asc, LAST desc
        row_number().over(Window.orderBy(order, col("id"))))
      val ranked = GlobalRank.withRank(df, col("v"), descending = desc,
        tieBreakers = Seq(col("id")), rnName = "rn")
      assert(ranked.exceptAll(naive).isEmpty && naive.exceptAll(ranked).isEmpty,
        s"desc=$desc: null keys misranked")
    }
  }

  test("all-equal keys still rank 1..n (single-bucket degenerate case)") {
    val df = (1 to 100).map(i => (i.toLong, 1.0)).toDF("id", "v")
    val ranked = GlobalRank.withRank(df, col("v"), descending = false,
      tieBreakers = Seq(col("id")), rnName = "rn")
    val rns = ranked.select("rn").as[Long].collect().sorted
    assert(rns === (1L to 100L).toArray)
    // More buckets than rows: empty buckets are harmless.
    val wide = GlobalRank.withRank(df.limit(3), col("v"), descending = false,
      tieBreakers = Seq(col("id")), rnName = "rn", buckets = 200)
    assert(wide.select("rn").as[Long].collect().sorted === Array(1L, 2L, 3L))
    // buckets=1 would silently degenerate to the hazard this exists to
    // remove — rejected loudly.
    assertThrows[IllegalArgumentException] {
      GlobalRank.withRank(df, col("v"), descending = false,
        tieBreakers = Seq(col("id")), rnName = "rn", buckets = 1)
    }
  }

  test("a string key is refused on the driver, before any job runs") {
    val df = Seq((1L, "BMCI"), (2L, "CIH Bank")).toDF("id", "bank_name")
    val group = "global-rank-string-key"
    spark.sparkContext.setJobGroup(group, "string key")
    val e = try intercept[IllegalArgumentException] {
        GlobalRank.withRank(df, col("bank_name"), descending = false,
          tieBreakers = Seq(col("id")), rnName = "rn")
      }
      finally spark.sparkContext.clearJobGroup()
    assert(e.getMessage.contains("STRING"), e.getMessage)
    assert(spark.sparkContext.statusTracker.getJobIdsForGroup(group).isEmpty)
  }

  test("ntileFromRank equals Spark's ntile window function across sizes and buckets") {
    for (n <- Seq(1, 2, 3, 4, 5, 7, 16, 97); b <- Seq(2, 4, 16)) {
      val df = (1 to n).map(i => (i.toLong, i * 3 % 17)).toDF("id", "v")
      val w = Window.orderBy(col("v"), col("id"))
      val viaWindow = df.withColumn("nt", ntile(b).over(w))
        .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
      val viaRank = GlobalRank.withRank(df, col("v"), descending = false,
          tieBreakers = Seq(col("id")), rnName = "rn", totalName = Some("n"))
        .withColumn("nt", GlobalRank.ntileFromRank(b).cast("int"))
        .collect().map(r => r.getLong(r.fieldIndex("id")) -> r.getInt(r.fieldIndex("nt"))).toMap
      assert(viaRank === viaWindow, s"n=$n b=$b")
    }
  }

  test("q13/q46/q65/q80 plans carry no unpartitioned window") {
    for (q <- Seq("q13_stats_median", "q46_distribution_windows",
        "q65_zorder_layout", "q80_pareto")) {
      val df = graft.SparkEntry.queries(q)(spark, sf)
      assert(unpartitionedWindows(df) === 0, s"$q has an unpartitioned window")
    }
  }
}
