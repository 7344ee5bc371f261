package graft.queries

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** SourceOps: round-trip fidelity details the oracle can't see, and SCD2
  * interval invariants. */
class SourceOpsSpec extends SparkSpec {
  private val d = "/root/testdata/sf0.001"

  test("CSV round-trip preserves doubles bit-exactly (shortest-repr write/parse)") {
    import spark.implicits._
    val dir = graft.Scratch.fresh("spec_csv_doubles")
    val vals = Seq(0.1, 1.0 / 3.0, 1.23456789012345e-7, 9.007199254740993e15,
      -2.2250738585072014e-308, math.Pi)
    vals.toDF("v").write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.schema("v DOUBLE").option("header", "true").csv(dir)
      .as[Double].collect().sorted
    assert(back.toSeq == vals.sorted,
      "CSV text round-trip must return identical doubles")
  }

  test("default CSV timestamp pattern truncates micros — why q67 projects to DATE") {
    import spark.implicits._
    val dir = graft.Scratch.fresh("spec_csv_ts")
    val micros = 1700000000123456L // .123456 s fractional part
    Seq(micros).toDF("us").select(timestamp_micros(col("us")).as("t"))
      .write.mode("overwrite").option("header", "true").csv(dir)
    val back = spark.read.schema("t TIMESTAMP").option("header", "true").csv(dir)
      .select(unix_micros(col("t"))).as[Long].head()
    assert(back == 1700000000123000L,
      s"expected millisecond truncation (got $back); if this starts passing " +
        "micros, q67 can round-trip timestamps directly")
  }

  test("JSON round-trip is lossless for the full customer row set") {
    val src = Tables(spark, d, "customer")
    val dir = graft.Scratch.fresh("spec_json_cust")
    src.write.mode("overwrite").json(dir)
    val back = spark.read.schema(src.schema).json(dir)
    assert(back.count() == src.count())
    assert(back.exceptAll(src).isEmpty && src.exceptAll(back).isEmpty,
      "JSON round-trip must reproduce the exact multiset of rows")
  }

  test("SCD2 intervals: contiguous per user, exactly one open current row") {
    val iv = SparkEntry_q69(d)
    val perUser = iv.groupBy("user_id")
      .agg(count(lit(1)).as("n"),
        sum(col("is_current").cast("int")).as("n_current"))
    assert(perUser.filter(col("n_current") =!= 1).isEmpty,
      "each user must have exactly one open (is_current) interval")
    // adjacency: every non-current interval's valid_to equals the next
    // version's valid_from, and versions are 1..n dense
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("version")
    val chk = iv
      .withColumn("next_from", lead(col("valid_from"), 1).over(w))
      .withColumn("rn", row_number().over(w))
    assert(chk.filter(col("version") =!= col("rn")).isEmpty,
      "versions must be dense 1..n per user")
    assert(chk.filter(col("valid_to").isNotNull &&
      col("valid_to") =!= col("next_from")).isEmpty,
      "closed intervals must be contiguous with the next version")
    assert(chk.filter(col("valid_to").isNotNull &&
      col("valid_to") <= col("valid_from")).isEmpty,
      "intervals must be non-empty")
  }

  private def SparkEntry_q69(dir: String) =
    graft.SparkEntry.queries("q69_scd2_intervals")(spark, dir)

  test("q185: lang predicate becomes a PARTITION filter — pruned at listing, not scan") {
    // Write the partitioned layout via the query itself, then inspect the
    // filtered read's executed plan: the lang predicate must appear as a
    // PartitionFilter (directory pruning) and the data ReadSchema must
    // NOT carry lang (it lives in the directory key).
    graft.SparkEntry.queries("q185_partitioned_layout")(spark, d).collect()
    val dir = graft.Scratch.dir("pparq", spark, d)
    val plan = spark.read.parquet(dir).filter(col("lang") === "en")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("lang"),
      s"lang must prune partitions:\n$plan")
    val scanLine = plan.linesIterator.find(_.contains("ReadSchema")).get
    assert(!scanLine.substring(scanLine.indexOf("ReadSchema")).contains("lang"),
      s"lang must not be read from data files:\n$scanLine")
    // and the partition column round-trips as a real column
    val langs = spark.read.parquet(dir).select("lang").distinct()
      .collect().map(_.getString(0)).sorted
    assert(langs.nonEmpty)
  }
}
