package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * `events.ts` is written as parquet INT64 TIMESTAMP(NANOS) which Spark
  * cannot read natively; sessions must set
  * `spark.sql.legacy.parquet.nanosAsLong=true` (done in [[Sessions]]), after
  * which the column arrives as a nanosecond Long that we convert to a
  * microsecond timestamp here. All other tables read as-is.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Resolved-relation cache (round 20, guide §6 file-listing/metadata
    * discipline): every `spark.read.parquet` call pays driver-side file
    * listing plus parquet footer schema inference — measured 65–80 ms
    * per table on the bench box, timing bare `spark.read.parquet` calls,
    * re-paid by every query construction and every bench sample (264
    * queries × 3 timed runs × 1–4 tables each). The cached value is the
    * resolved LAZY plan over an immutable input dir — the SessionCache contract: testdata dirs
    * never change under a running session (scratch/index dirs, which DO
    * get rewritten, never go through Tables). Metadata caching, not
    * result caching: every action still scans the parquet files, and
    * scan partitioning is still decided per query plan, so conf changes
    * (e.g. maxPartitionBytes) keep applying. */
  private val relCache = new SessionCache[DataFrame]

  def apply(spark: SparkSession, dir: String, name: String): DataFrame =
    relCache.getOrBuild(spark, s"$dir/$name") {
      val df = spark.read.parquet(s"$dir/$name.parquet")
      if (name == "events" && df.schema("ts").dataType == org.apache.spark.sql.types.LongType)
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      else df
    }
}

/** Shared SparkSession settings so Verify / Bench / tests agree. */
object Sessions {
  def builder(master: String, shufflePartitions: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .withExtensions(graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      // Generated-class cache (round 20, guide §1.2 step 2 — per-task/
      // per-query work after the algorithm is right): the battery holds
      // 264 distinct query plans; whole-stage codegen, UnsafeProjection
      // and comparator classes are compiled by Janino and memoized in a
      // JVM-wide cache keyed on source text, whose DEFAULT size is 100
      // entries (StaticSQLConf.CODEGEN_CACHE_MAX_ENTRIES). One battery
      // pass generates far more than 100 distinct sources, so every
      // bench run recompiled every query's classes from scratch —
      // measured same-context on a 69-query tail subset: 21.67 s at the
      // 100-entry default vs 20.17 s at 4096 (3-run medians).
      // 4096 entries holds the whole battery (bounded: entries are
      // weak-ref'd per classloader and a few KB–tens of KB of bytecode
      // each). Scale-neutral: compilation cost is driver-side and
      // data-independent — the same win applies on a cluster; the conf
      // is a cache SIZE, not a parallelism constant.
      .config("spark.sql.codegen.cache.maxEntries", "4096")

  /** The session every main runs on: `local[n]` with n shuffle partitions,
    * n from SPARK_GRAFT_CPUS or else the host's core count. */
  def start(logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = builder(s"local[$cpus]", cpus).getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
