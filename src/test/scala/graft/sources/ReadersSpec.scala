package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import java.nio.file.Files

class ReadersSpec extends SparkSpec {
  import spark.implicits._

  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("name", StringType),
    StructField("score", DoubleType)))

  test("csv reader applies the declared schema (no inference drift)") {
    val dir = graft.Scratch.fresh("csv")
    Files.write(java.nio.file.Paths.get(dir, "a.csv"),
      "id,name,score\n1,alpha,0.5\n2,beta,0.75\n".getBytes)
    val df = Readers.csv(spark, dir, schema)
    assert(df.schema === schema)
    assert(df.count() === 2)
    assert(df.filter(col("name") === "beta").head().getDouble(2) === 0.75)
  }

  test("json reader applies the declared schema") {
    val dir = graft.Scratch.fresh("json")
    Files.write(java.nio.file.Paths.get(dir, "a.json"),
      """{"id": 1, "name": "alpha", "score": 0.5}
        |{"id": 2, "name": "beta"}
        |""".stripMargin.getBytes)
    val df = Readers.json(spark, dir, schema)
    assert(df.schema === schema)
    assert(df.filter(col("score").isNull).count() === 1)
  }

  test("latestPartition reads only the newest batch directory") {
    val base = graft.Scratch.fresh("parts")
    Seq((1L, "old")).toDF("id", "tag").write.parquet(s"$base/ds=2024-06-01")
    Seq((2L, "new"), (3L, "new")).toDF("id", "tag").write.parquet(s"$base/ds=2024-06-02")
    val df = Readers.latestPartition(spark, base, "ds")
    assert(df.count() === 2)
    assert(df.select("tag").distinct().head().getString(0) === "new")
  }

  test("orc round-trips with schema and values intact (second columnar format)") {
    val dir = graft.Scratch.fresh("orc")
    val src = Seq((1L, "alpha", 0.5), (2L, "beta", 0.75)).toDF("id", "name", "score")
    src.write.mode("overwrite").orc(dir)
    val back = spark.read.schema(schema).orc(dir)
    assert(back.schema === schema)
    assert(back.orderBy("id").collect().map(_.toSeq).toSeq ===
      src.orderBy("id").collect().map(_.toSeq).toSeq)
    // predicate pushdown reaches the ORC scan just like parquet
    val plan = back.filter(col("id") === 2L).queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("id"), plan)
  }

  test("malformed csv rows null out instead of failing the job (S7 row-skip analog)") {
    // The reference's loader skips bad rows one at a time
    // (phase2_transformation_pipeline.py:261-339); the engine-side analog is
    // PERMISSIVE parsing + a validity filter, which keeps ingestion
    // vectorized and the bad-row policy declarative.
    val dir = graft.Scratch.fresh("badcsv")
    Files.write(java.nio.file.Paths.get(dir, "a.csv"),
      "id,name,score\n1,alpha,0.5\nnot_a_long,beta,oops\n3,gamma,0.25\n".getBytes)
    val df = Readers.csv(spark, dir, schema)
    assert(df.count() === 3) // no rows dropped silently by the parser
    val valid = df.filter(col("id").isNotNull && col("score").isNotNull)
    assert(valid.count() === 2) // the declarative validity filter skips them
  }

  test("backupCsv round-trips through the dated layout") {
    val base = graft.Scratch.fresh("backup")
    Readers.backupCsv(Seq((1L, "x", 0.1)).toDF("id", "name", "score"), base, "2024-06-03")
    val back = Readers.csv(spark, s"$base/2024-06-03", schema)
    assert(back.count() === 1)
  }

  test("S6/S7 executed: real JDBC write + partitioned read round-trip (embedded Derby)") {
    // Derby ships in /opt/spark/jars — a genuine spark.read.jdbc /
    // write.jdbc against a real SQL database, no external service needed.
    val dbDir = graft.Scratch.fresh("derby")
    val url = s"jdbc:derby:$dbDir/graftdb;create=true"
    val src = graft.Tables(spark, "/root/testdata/sf0.001", "nation")
      .select(col("n_nationkey").cast("long").as("n_nationkey"),
        col("n_name"), col("n_regionkey").cast("long").as("n_regionkey"))
    Readers.jdbcWrite(src, url, "nation_rt", batchSize = 10)
    // Partitioned parallel scan: 4 range-predicate reads over the key.
    val back = Readers.jdbc(spark, url, "nation_rt",
      partitionColumn = Some(("n_nationkey", 0L, 24L, 4)))
    assert(back.rdd.getNumPartitions === 4)
    assert(back.orderBy("n_nationkey").collect().map(_.toSeq).toSeq ===
      src.orderBy("n_nationkey").collect().map(_.toSeq).toSeq)
    // Catalyst pushes the filter into the remote SQL (PushedFilters).
    val plan = back.filter(col("n_regionkey") === 2L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("n_regionkey"), plan)
    // Append mode: second write lands alongside the first.
    Readers.jdbcWrite(src.limit(5), url, "nation_rt", mode = "append")
    assert(Readers.jdbc(spark, url, "nation_rt").count() === 30)
  }
}
