package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, DayTimeIntervalType, LongType, NumericType,
  StructField, StructType, TimestampNTZType, TimestampType, YearMonthIntervalType}
import scala.jdk.CollectionConverters._

/** Exact global row numbers / running sums WITHOUT a single-partition
  * window.
  *
  * `row_number() OVER (ORDER BY k)` funnels the whole table through ONE
  * partition — fine at sf0.1, fatal at 100 TB (the executor holding the
  * partition becomes the job). The scale-safe construction here is the
  * classic two-pass global rank:
  *
  *  1. one sampling pass computes B-1 approximate percentile boundaries of
  *     the ranking key (the same move `repartitionByRange` makes internally,
  *     and the only driver-side state is the B-1 boundary values — the
  *     data-independent analog of RangePartitioner's collected sample);
  *  2. each row gets a bucket id row-locally: the count of boundaries
  *     strictly before its key in sort direction — equal keys can never
  *     straddle a bucket, so buckets are contiguous runs of the global
  *     order;
  *  3. per-bucket counts (and optional sums) aggregate in one partial+final
  *     hash agg — B rows — and per-bucket OFFSETS come from a triangular
  *     self-join over those B rows (no window of any kind);
  *  4. the only wide shuffle is the per-bucket window: `row_number()`
  *     partitioned BY BUCKET, plus the broadcast offset → global rank.
  *
  * Exactness does not depend on the percentile sketch: any boundary set
  * yields correct ranks (boundaries only balance the buckets). Skew limit:
  * a single key value repeated n times still lands in one bucket — inherent
  * to ranking (those rows are order-ties); all OTHER keys stay spread.
  *
  * Null keys are total: they take a dedicated edge bucket matching Spark's
  * default null ordering (NULLS FIRST ascending, NULLS LAST descending),
  * so ranks agree with the naive `ORDER BY key` window on nullable keys.
  */
object GlobalRank {

  /** Standard SQL NTILE computed arithmetically from a global rank: with
    * n rows and b buckets, the first n % b buckets take one extra row.
    * Pure integer `div` arithmetic — bit-identical to the window builtin
    * in any engine. `rnCol`/`nCol` name columns produced by [[withRank]]
    * and a count agg. */
  def ntileFromRank(b: Int, rnCol: String = "rn", nCol: String = "n"): Column =
    expr(
      s"""CASE WHEN $rnCol <= ($nCol div $b + 1) * ($nCol % $b)
         |     THEN ($rnCol - 1) div ($nCol div $b + 1) + 1
         |     ELSE $nCol % $b + ($rnCol - ($nCol % $b) * ($nCol div $b + 1) - 1) div ($nCol div $b) + 1
         |END""".stripMargin)

  /** Driver-side exact addition for the collected per-bucket prefix sums
    * (B ≤ buckets+1 values — the same bounded driver state class as the
    * boundary sample). */
  private def add(a: Any, b: Any): Any = (a, b) match {
    case (null, x) => x
    case (x, null) => x
    case (x: Long, y: Long) => x + y
    case (x: Int, y: Int) => x.toLong + y.toLong
    case (x: Double, y: Double) => x + y
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.add(y)
    case _ => throw new IllegalArgumentException(
      s"unsupported prefix-sum type: ${a.getClass}")
  }

  /** Adds a 1-based contiguous global row number `rnName` (BIGINT) ordered
    * by (key ± , tieBreakers...), and optionally the running sum of a
    * column in that order (`prefixSum = Some((col, cumName))`, exact for
    * decimal inputs). `buckets` bounds the boundary count; parallelism of
    * the wide stage is min(buckets, distinct keys); small inputs get their
    * boundary set thinned (≥ ~4k rows per bucket) so tiny tables don't pay
    * a 32-way boundary filter per row.
    *
    * Evaluation contract: `df` is evaluated up to three times (one job for
    * boundaries + total count, one for per-bucket counts, the ranked
    * output). Cheap scan/projection inputs should be passed as-is —
    * re-scanning parquet beats materializing it — but localCheckpoint
    * anything with an expensive upstream (joins, aggregations) first, or
    * that work runs thrice.
    *
    * Driver-side state is bounded and data-independent: B-1 boundary
    * values plus B per-bucket (count, sum) rows — the same two collections
    * a RangePartitioner-based writer makes. Turning the per-bucket stats
    * into literal offsets here (instead of the previous B-row triangular
    * self-join) keeps every join in the plan an equi-join: no
    * CartesianProduct/BroadcastNestedLoopJoin node anywhere
    * (PlanHygieneSpec enforces this fleet-wide). */
  def withRank(df: DataFrame, key: Column, descending: Boolean,
      tieBreakers: Seq[Column], rnName: String,
      prefixSum: Option[(Column, String)] = None,
      buckets: Int = 32,
      totalName: Option[String] = None): DataFrame = {
    require(buckets >= 2,
      s"GlobalRank needs at least 2 buckets (got $buckets) — with 1 the " +
        "construction degenerates to the single-partition window it replaces")
    val keyed = df.withColumn("__grk", key)
    // approx_percentile takes only these key types; it would implicitly
    // cast any other (a string to DOUBLE), which under ANSI throws inside
    // the first task. Refuse it here, on the driver, before any job runs.
    keyed.schema("__grk").dataType match {
      case _: NumericType | DateType | TimestampType | TimestampNTZType |
          _: YearMonthIntervalType | _: DayTimeIntervalType =>
      case t => throw new IllegalArgumentException(
        s"GlobalRank ranks numeric, date, timestamp and interval keys, not ${t.sql}")
    }
    // Pass 1 (ONE job): boundary values + total count. approx_percentile
    // never invents values, so boundaries are real key values; duplicates
    // just leave buckets empty.
    val fracs = (1 until buckets).map(i => s"${i.toDouble / buckets}").mkString(",")
    val bRow = keyed.agg(
      expr(s"approx_percentile(__grk, array($fracs), 10000)").as("bs"),
      count(lit(1)).as("n")).head()
    val n = bRow.getLong(1)
    val allBounds: Seq[Any] =
      if (bRow.isNullAt(0)) Seq.empty else bRow.getSeq[Any](0)
    // Adaptive thinning: any boundary subset is still exact (boundaries
    // only balance buckets), so aim for ≥4k rows per bucket.
    val effB = math.max(2, math.min(buckets, math.ceil(n / 4096.0).toInt))
    val bounds: Seq[Any] =
      if (allBounds.isEmpty || effB >= buckets) allBounds
      else (1 until effB).map(i => allBounds(i * buckets / effB - 1))
    // Null keys: the percentile sketch never sees them; route them to the
    // edge bucket on the side Spark's default null ordering puts them
    // (NULLS FIRST asc → before bucket 0; NULLS LAST desc → after the last).
    val nullBucket = if (descending) buckets else -1
    // Bucket id = count of boundaries strictly before the key in sort
    // direction, unrolled as a sum of literal comparisons: boundaries are
    // plan-time constants, so this stays inside whole-stage codegen — the
    // array/filter HOF form it replaces was interpreted per row and
    // dominated the two extra passes' cost (measured ~25% of q65).
    val bucketCol =
      if (bounds.isEmpty) when(col("__grk").isNull, nullBucket).otherwise(0)
      else {
        val cnt = bounds
          .map(b => when(
            if (descending) lit(b) > col("__grk") else lit(b) < col("__grk"),
            1).otherwise(0))
          .reduce(_ + _)
        when(col("__grk").isNull, nullBucket).otherwise(cnt)
      }
    val withB = keyed.withColumn("__gb", bucketCol)
    // Pass 2 (one job): per-bucket counts/sums — B rows collected to the
    // driver; exclusive prefix offsets computed here and shipped back as a
    // broadcast equi-join on the bucket id.
    val perAggs = count(lit(1)).as("__cnt") +:
      prefixSum.map { case (c, _) => sum(c).as("__ps") }.toSeq
    val per = withB.groupBy("__gb").agg(perAggs.head, perAggs.tail: _*)
    // collect-bound: grouped by bucket id — B rows, B plan-time-fixed
    val perRows = per.collect().sortBy(_.getInt(0))
    var cumCnt = 0L
    var cumPs: Any = null
    val offRows = perRows.map { r =>
      val out =
        if (prefixSum.isDefined) Row(r.getInt(0), cumCnt, cumPs)
        else Row(r.getInt(0), cumCnt)
      cumCnt += r.getLong(1)
      if (prefixSum.isDefined) cumPs = add(cumPs, r.get(2))
      out
    }
    val perSchema = per.schema
    val offSchema = StructType(
      perSchema("__gb").copy(nullable = false) +:
        StructField("__offcnt", LongType, nullable = false) +:
        prefixSum.map(_ => perSchema("__ps").copy(name = "__offps")).toSeq)
    val offs = df.sparkSession.createDataFrame(
      offRows.toSeq.asJava, offSchema)
    // Pass 3: the one wide shuffle — window partitioned by bucket.
    // `totalName` rides along for free from pass 1's count.
    val order = (if (descending) col("__grk").desc else col("__grk").asc) +: tieBreakers
    val w = Window.partitionBy(col("__gb")).orderBy(order: _*)
    val ranked = withB.join(broadcast(offs), "__gb")
      .withColumn(rnName, col("__offcnt") + row_number().over(w))
    val withTotal = totalName.fold(ranked)(tn => ranked.withColumn(tn, lit(n)))
    prefixSum
      .fold(withTotal) { case (c, cumName) =>
        withTotal.withColumn(cumName, coalesce(col("__offps"), lit(0)) +
          sum(c).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      }
      .drop("__gb", "__grk", "__offcnt", "__offps")
  }
}
