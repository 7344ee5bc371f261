package graft

import org.apache.spark.GraftListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.util.control.NonFatal

/** The timing main: per-query wall seconds at SPARK_GRAFT_SF_DIR, three
  * runs each with the median reported, plus a job census.
  *
  *   SPARK_GRAFT_SF_DIR=... tools/run.sh graft.Bench [nameSubstring...]
  *
  * With no arguments it times the whole battery. Arguments narrow the
  * warm-up and the timed loop to the queries whose name contains one of
  * them; calibration always times its fixed sentinels, so `noise_factor`
  * means the same on a subset run. The sentinels' reference times are
  * pinned at sf0.1; at any other scale `noise_factor` is the cpu probe's
  * alone and `calib_spread`/`calib_ok` are null (see [[calibrate]]). A warm-up pass at sf0.001 first loads
  * classes and compiles codegen so the timed pass measures steady-state
  * execution, not JVM startup; queries run in sorted order for run-to-run
  * comparability.
  *
  * Output: one JSON summary line as the last line of stdout,
  * BENCH_LINE.json (per-query medians, short keys) and BENCH_SELF.json
  * (full names, full precision, calibration, and the `census` of each
  * query's third run: jobs, stages and tasks, plus totals). */
object Bench {
  type Query = (SparkSession, String) => DataFrame

  /** Counted at job start: `stages` sums each job's stageInfos (skipped
    * stages included), `tasks` the numTasks of those stages. */
  final case class Census(jobs: Int, stages: Int, tasks: Int)

  /** `seconds`: the median over the successful runs of each query that had
    * one, in run order. `failed`: every query with a failed run. `census`:
    * each query whose third run succeeded. */
  final case class Measured(
      seconds: Seq[(String, Double)], failed: Seq[String],
      census: Seq[(String, Census)]) {
    def total: Double = seconds.map(_._2).sum
  }

  private final class Counter extends SparkListener {
    @volatile private var jobs, stages, tasks = 0
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs += 1; stages += j.stageInfos.size
      tasks += j.stageInfos.map(_.numTasks).sum
    }
    def reset(): Unit = { jobs = 0; stages = 0; tasks = 0 }
    def read: Census = Census(jobs, stages, tasks)
  }

  /** Calibration reference times: seconds on the round-10 box (idle), min
    * of 3. The sentinel queries' times are pinned at [[calibScale]]; the
    * cpu probe reads no data, so its time holds at any scale. */
  val calibRef: Map[String, Double] =
    Map("cpu" -> 0.134, "q10" -> 0.129, "q11" -> 0.123, "q15" -> 0.061)
  private val calibScale = "sf0.1"

  /** `spread` (max/min probe ratio) and `ok` (spread ≤ 1.5) are None when
    * only the cpu probe is compared. */
  final case class Calibration(noiseFactor: Double, spread: Option[Double], ok: Option[Boolean])

  /** noise_factor is the median ratio of the measured probe times `calib`
    * to [[calibRef]]. The sentinels are compared only when `sfDir` is the
    * [[calibScale]] dir their references were pinned at; elsewhere the
    * factor is the cpu probe's ratio alone, and spread and ok are None. */
  def calibrate(calib: Map[String, Double], sfDir: String): Calibration = {
    val atRefScale =
      Option(java.nio.file.Paths.get(sfDir).getFileName).exists(_.toString == calibScale)
    val ratios = calib.collect {
      case (k, v) if calibRef.contains(k) && (atRefScale || k == "cpu") => v / calibRef(k)
    }.toSeq.sorted
    val noiseFactor = if (ratios.isEmpty) 1.0 else ratios(ratios.size / 2)
    if (!atRefScale) Calibration(noiseFactor, None, None)
    else {
      val spread = if (ratios.isEmpty) 1.0 else ratios.last / ratios.head
      Calibration(noiseFactor, Some(spread), Some(spread <= 1.5))
    }
  }

  /** The queries whose name contains one of `filters` (all of them when
    * `filters` is empty), sorted by name. */
  def pick(queries: Map[String, Query], filters: Seq[String]): Seq[(String, Query)] =
    queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => filters.isEmpty || filters.exists(n.contains) }

  /** Untimed pass over `dir` that loads classes and compiles codegen.
    * It runs CONCURRENTLY: nothing it produces is reported, and its work is
    * independent tiny-corpus queries dominated by sequential job latency,
    * so overlapping them halves the prelude without touching the timed
    * methodology (strictly sequential, in [[measure]]). Cross-query index
    * builds are safe to race: every shared builder sits behind a
    * SessionCache whose builds are per-key serialized. Failures are
    * swallowed per arm; [[measure]] reports them. */
  def warmUp(spark: SparkSession, picked: Seq[(String, Query)], dir: String): Unit =
    Par.map(picked, parallelism = 4) { case (_, fn) =>
      try fn(spark, dir).count() catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }

  /** Three timed runs per query, MEDIAN reported: single runs swing
    * ±20-30% from GC/scheduler noise, and the median tracks the value a
    * user sees where a min tracks the lucky tail. A run that throws is
    * left out of the median, so a broken query can never under-read; the
    * query is listed in `failed`, and one with no successful run is left
    * out of `seconds` (and so of the total). Correctness is gated
    * separately (Verify + the DuckDB oracles).
    *
    * The census counts the third run only: by then runs 1-2 have built the
    * session caches and indexes, so it sees the steady-state job count.
    * The listener bus is drained just before and just after that run,
    * outside its timed interval. Queries run one at a time, so jobs issued
    * from a query's `Par.map` arms count under that query. */
  def measure(spark: SparkSession, picked: Seq[(String, Query)], sfDir: String): Measured = {
    val sc = spark.sparkContext
    val counter = new Counter
    sc.addSparkListener(counter)
    try {
      val failed = Seq.newBuilder[String]
      val census = Seq.newBuilder[(String, Census)]
      val seconds = picked.flatMap { case (name, fn) =>
        val runs = (1 to 3).flatMap { run =>
          if (run == 3) { GraftListenerBus.drain(sc); counter.reset() }
          val t0 = System.nanoTime()
          val ok =
            try { fn(spark, sfDir).count(); true }
            catch { case e: Throwable =>
              System.err.println(s"[bench] $name run $run failed: $e"); false }
          val t = (System.nanoTime() - t0) / 1e9
          if (run == 3 && ok) { GraftListenerBus.drain(sc); census += name -> counter.read }
          spark.catalog.clearCache()
          if (ok) Some(t) else None
        }.sorted
        // Untimed GC between queries: localCheckpoint RDDs and broadcasts
        // are reclaimed by the ContextCleaner only after their referents
        // are GC'd; on a large heap collections are rare, so without this
        // nudge blocks accumulate across queries and squeeze execution
        // memory for the late ones (BENCH_r03 showed 2-10x tail-query
        // inflation).
        System.gc()
        if (runs.size < 3) failed += name
        val m = runs.size / 2
        if (runs.isEmpty) None
        else Some(name -> (if (runs.size % 2 == 1) runs(m) else (runs(m - 1) + runs(m)) / 2))
      }
      Measured(seconds, failed.result(), census.result())
    } finally sc.removeSparkListener(counter)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.start()
    val picked = pick(SparkEntry.queries, args.toSeq)
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      warmUp(spark, picked, warmDir)
    // Noise calibration (round-10 verdict ask): rounds 7-9 each burned a
    // session separating host drift from code changes by hand. Before the
    // timed pass, measure (a) a pure-compute probe with no I/O and no
    // code under test — range → xxhash64 → sum, CPU/scheduler-bound —
    // and (b) three sentinel queries whose code has been byte-stable
    // since round 8 (the judge's own r9 noise probes). noise_factor =
    // median ratio against REF values pinned from the round-10 box; a
    // future round reading BENCH_r{N} divides its per-query deltas by
    // this factor before calling anything a regression. The probe query
    // uses its own literal range so a sentinel rename can't break it.
    def timeMin(n: Int)(body: => Unit): Double =
      (1 to n).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }.min
    val sentinels = Seq("q10", "q11", "q15")
    // Five samples per probe (round 19, the r18 verdict's item 4: the
    // committed driver artifact read calib_spread 1.5015 because ONE
    // probe's three samples all landed on a scheduler hiccup — min-of-5
    // keeps the same estimator as the pinned min-of-3 REF values, a min
    // can only tighten toward the true floor with more samples, and two
    // extra sub-second samples per probe cost < 1 s total). The 1.5
    // bound itself is unchanged.
    val calibSamples = 5
    val calib: Map[String, Double] = {
      import org.apache.spark.sql.functions.{col, sum => fsum, xxhash64}
      // double sum: an ANSI long sum of 4e8 full-range hashes overflows
      // collect-bound: groupless aggregate, exactly 1 row
      val cpu = timeMin(calibSamples)(
        spark.range(400000000L)
          .select(fsum(xxhash64(col("id")).cast("double"))).collect())
      val sq = pick(SparkEntry.queries, Nil)
        .filter(q => sentinels.contains(q._1.takeWhile(_ != '_')))
        .map { case (name, fn) =>
          val t = timeMin(calibSamples) {
            fn(spark, sfDir).count(); spark.catalog.clearCache() }
          name.takeWhile(_ != '_') -> t
        }
      (("cpu" -> cpu) +: sq).toMap
    }
    // Per-probe dispersion beside the median (round-16 verdict: same-day
    // factors disagreed 0.70 vs 0.81 — a ±40% swing in a correction
    // applied to a ±20% signal). calib_spread = max/min probe ratio;
    // calib_ok flags an envelope a reader can trust (spread ≤ 1.5).
    // Cross-round normalization should be distrusted when calib_ok is
    // false — the probes themselves disagreed about the machine — and is
    // cpu-only (calib_spread and calib_ok null) away from sf0.1.
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val c = calibrate(calib, sfDir)
    val calibSpread = c.spread.fold("null")(fmt)
    val calibOk = c.ok.fold("null")(_.toString)
    System.gc()
    val m = measure(spark, picked, sfDir)
    val results = m.seconds
    val total = m.total
    // The caller parses the last stdout line as JSON from a bounded tail
    // capture (observed: ~2000 chars). At 209 queries even the short-key
    // qNN map is ~3.4 KB and overflowed it (BENCH_r11 parsed:null), so
    // stdout now carries ONLY the summary — total, calibration, count —
    // and points at BENCH_LINE.json, which keeps the full per-query map
    // (short keys, 0.1 ms precision); BENCH_SELF.json keeps full names,
    // full precision, the calibration block and the census. Both files
    // are committed per round, so the record survives any capture
    // truncation.
    val shortKeys = results.map(_._1.takeWhile(_ != '_'))
    require(shortKeys.distinct.size == shortKeys.size,
      "duplicate short bench keys (qNN prefixes must stay unique): " +
        shortKeys.diff(shortKeys.distinct).distinct.mkString(", "))
    val qsShort = results.map { case (k, v) =>
      "\"" + k.takeWhile(_ != '_') + "\":" + fmt(v)
    }.mkString("{", ",", "}")
    val calibJson = calib.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val stdoutLine =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":3,"agg":"median","noise_factor":${fmt(c.noiseFactor)},"calib_spread":$calibSpread,"calib_ok":$calibOk,"failed_queries":${m.failed.size},"n_queries":${results.size},"sf":"$sfDir","queries_file":"BENCH_LINE.json"}"""
    require(stdoutLine.length <= 1900,
      s"stdout bench line must stay under the driver's tail capture (${stdoutLine.length} chars)")
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","runs":3,"agg":"median","noise_factor":${fmt(c.noiseFactor)},"calib_spread":$calibSpread,"calib_ok":$calibOk,"failed_queries":${m.failed.size},"queries":$qsShort,"sf":"$sfDir"}"""
    val qsFull = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val failedJson = m.failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    def censusJson(c: Census): String =
      s"""{"jobs":${c.jobs},"stages":${c.stages},"tasks":${c.tasks}}"""
    val censusTotal = Census(m.census.map(_._2.jobs).sum,
      m.census.map(_._2.stages).sum, m.census.map(_._2.tasks).sum)
    val censusAll = s"""{"total":${censusJson(censusTotal)},"queries":""" +
      m.census.map { case (k, c) => "\"" + k + "\":" + censusJson(c) }
        .mkString("{", ",", "}}")
    val lineFull =
      s"""{"metric":"total","value":$total,"unit":"sec","runs":3,"agg":"median","noise_factor":${c.noiseFactor},"calib_spread":${c.spread.fold("null")(_.toString)},"calib_ok":$calibOk,"failed_queries":$failedJson,"calib":$calibJson,"queries":$qsFull,"census":$censusAll,"sf":"$sfDir","master":"${spark.sparkContext.master}"}"""
    // Two artifacts (BENCH_r10 parsed:null — log noise overflowed the
    // driver's bounded tail capture of stdout): the exact driver line
    // goes to BENCH_LINE.json so the artifact survives any capture
    // truncation, and BENCH_SELF.json keeps the full record. A file that
    // cannot be written is reported on stderr; the stdout line still
    // comes last.
    def write(file: String, text: String): Unit =
      try java.nio.file.Files.writeString(java.nio.file.Paths.get(file), text + "\n")
      catch { case NonFatal(e) => System.err.println(s"[bench] could not write $file: $e") }
    write("BENCH_LINE.json", line)
    write("BENCH_SELF.json", lineFull)
    // stop() BEFORE the println: Spark's stop/shutdown chatter must not
    // land between the JSON line and EOF, or a last-line parse reads a
    // log line instead (root logger is at WARN, but the order makes the
    // contract hold regardless of logging config).
    spark.stop()
    println(stdoutLine)
  }
}
