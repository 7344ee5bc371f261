package perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.domain.{Clean, Nlp, Pipeline, Schemas}

/** Settings written by run.py, one `key=value` per line. */
final class Conf(m: Map[String, String]) {
  def str(k: String): String = m.getOrElse(k, sys.error(s"missing setting $k"))
  def opt(k: String): Option[String] = m.get(k).filter(_.nonEmpty)
  def int(k: String): Int = str(k).toInt
  def long(k: String): Long = str(k).toLong
}

object Conf {
  def load(path: String): Conf = new Conf(
    Files.readAllLines(Paths.get(path), UTF_8).asScala
      .filter(_.contains("=")).map { l =>
        val i = l.indexOf('='); l.take(i) -> l.drop(i + 1)
      }.toMap)
}

/** One timed operation: a battery query call or one warehouse build.
  * `win0`/`win1` are its wall-clock window in epoch ms, the clock the
  * listener's job times use. */
final case class Op(name: String, ok: Boolean, err: String, ns: Long,
    constructNs: Long, planNs: Long, executeNs: Long, win0: Long, win1: Long,
    rows: Long, digest: Long, events: Option[Events])

/** One setup repetition, in seconds. */
final case class Setup(session: Double, generate: Double, firstPass: Double) {
  def total: Double = session + generate + firstPass
}

/** A workload: how to set it up and what one timed pass runs. */
trait Workload {
  /** True for the battery workloads, whose ops are query calls. */
  def queries: Boolean
  /** Writes this setup repetition's inputs. */
  def generate(rep: Int): Unit
  /** The untimed pass that fills session caches; returns its ops. */
  def firstPass(spark: SparkSession, rep: Int, h: Harness): Seq[Op]
  /** Untimed work after the setup repetitions that only warms the JVM. */
  def warmup(spark: SparkSession, h: Harness): Seq[Op]
  def pass(spark: SparkSession, index: Int, h: Harness): Seq[Op]
  /** Metrics only this workload can give, from its traced passes. */
  def layerMetrics(spark: SparkSession, traced: Seq[Seq[Op]], h: Harness): Map[String, Double]
  def artifactRows(traced: Seq[Seq[Op]], cold: Seq[Op]): Seq[String]
}

/** Runs one operation: sets the phase property the listener reads, times
  * it, and (when tracing) drains the bus after the clock stops. */
final class Harness(val conf: Conf) {
  val seconds: Int = conf.int("seconds")
  var recorder: Option[Recorder] = None

  def phase(spark: SparkSession, p: String): Unit =
    spark.sparkContext.setLocalProperty("perfbench.phase", p)

  /** `body` returns (rows, digest, constructNs, planNs, executeNs) or
    * throws; checks run after the clock stops and turn a wrong output into
    * a failure. */
  def op(spark: SparkSession, name: String)(body: => (Long, Long, Long, Long, Long))(
      check: (Long, Long) => Option[String]): Op = {
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case e: Throwable => Left(e) }
    val ns = System.nanoTime() - t0
    val w1 = System.currentTimeMillis()
    phase(spark, null)
    val ev = recorder.map { r => PerfbenchBus.drain(spark.sparkContext); r.take() }
    spark.catalog.clearCache()
    res match {
      case Right((rows, dig, cNs, pNs, eNs)) =>
        val bad = check(rows, dig)
        Op(name, bad.isEmpty, bad.getOrElse(""), ns, cNs, pNs, eNs, w0, w1, rows, dig, ev)
      case Left(e) =>
        val msg = (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage))
          .replaceAll("\\s+", " ").take(300)
        Op(name, ok = false, msg, ns, 0, 0, 0, w0, w1, -1, 0, ev)
    }
  }

  /** Time charged for an operation: a failed one counts as the whole
    * measuring budget, so failures never make a run look faster. */
  def charged(o: Op): Double = if (o.ok) o.ns / 1e9 else seconds.toDouble
}

object Main {
  def session(conf: Conf): SparkSession = {
    val cpus = conf.int("cpus")
    val work = conf.str("work_dir")
    val spark = graft.Sessions.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/spark-warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(args: Array[String]): Unit = {
    val conf = Conf.load(args(0))
    val h = new Harness(conf)
    val w: Workload = conf.str("workload") match {
      case "warehouse_build" => new Warehouse(conf)
      case _ => new Battery(conf)
    }
    if (conf.opt("mode").contains("record")) {
      Battery.record(conf, session(conf)); return
    }
    val trace = conf.int("trace") == 1
    val reps = conf.int("setup_reps")

    val rec = new Recorder
    def record(spark: SparkSession, on: Boolean): Unit =
      if (on) { spark.sparkContext.addSparkListener(rec); h.recorder = Some(rec) }
      else { spark.sparkContext.removeSparkListener(rec); h.recorder = None }

    var spark: SparkSession = null
    var cold: Seq[Op] = Nil
    val setupOps = mutable.ArrayBuffer.empty[Op]
    val setups = (1 to reps).map { rep =>
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      var t = System.nanoTime()
      spark = session(conf)
      val sSession = secs(t)
      t = System.nanoTime(); w.generate(rep); val sGen = secs(t)
      // A traced run records the last cold pass too: session-cache builds,
      // and the concurrent jobs of graft.Par.map, happen only there. Its
      // time is the ops' own, charged as in the timed passes, so neither a
      // failure nor the listener drain can make set-up read faster.
      val coldTraced = trace && rep == reps
      if (coldTraced) record(spark, on = true)
      cold = w.firstPass(spark, rep, h)
      if (coldTraced) record(spark, on = false)
      setupOps ++= cold
      Setup(sSession, sGen, cold.map(h.charged).sum)
    }
    val tWarm = System.nanoTime()
    setupOps ++= w.warmup(spark, h)
    val warmupS = secs(tWarm)
    System.gc()

    // Timed passes until the budget is spent, and at least three, so the
    // median is never that of two. With tracing, passes alternate
    // untraced/traced so the trace's own cost can be read off.
    val passes = mutable.ArrayBuffer.empty[(Boolean, Seq[Op])]
    val t0 = System.nanoTime()
    var i = 0
    while (secs(t0) < h.seconds || passes.size < 3) {
      val traced = trace && i % 2 == 1
      if (traced) record(spark, on = true)
      passes += traced -> w.pass(spark, i, h)
      if (traced) record(spark, on = false)
      System.gc()
      i += 1
    }
    val allOps = passes.flatMap(_._2)
    val attempted = allOps.size + setupOps.size
    val failed = (allOps ++ setupOps).count(!_.ok)
    def wall(ops: Seq[Op]): Double = ops.map(h.charged).sum
    val untracedWalls = passes.filterNot(_._1).map(p => wall(p._2)).toSeq
    val storage = spark.sparkContext.getRDDStorageInfo.map(r => r.memSize + r.diskSize).sum

    val metrics: Seq[(String, Double, String)] =
      if (!trace) {
        val lat = allOps.map(o => h.charged(o) * 1000)
        Seq(
          ("setup_s", Stats.median(setups.map(_.total)), "s"),
          ("wall_s", Stats.median(untracedWalls), "s"),
          ("op_p50_ms", Stats.median(lat.toSeq), "ms"))
      } else {
        val traced = passes.filter(_._1).map(_._2).toSeq
        layer(h, w.queries, setups, warmupS, traced, cold, untracedWalls, storage, conf) ++
          w.layerMetrics(spark, traced, h).toSeq.sortBy(_._1).map { case (k, v) =>
            (k, v, if (k.endsWith("_s")) "s" else if (k.endsWith("_mb")) "MB" else "count")
          }
      }
    if (trace) {
      val traced = passes.filter(_._1).map(_._2).toSeq
      writeArtifact(conf, setups, passes.toSeq, metrics, w.artifactRows(traced, cold))
    }
    val errors = (setupOps ++ allOps).filterNot(_.ok).map(o => o.name + ": " + o.err).distinct
    errors.take(20).foreach(e => System.err.println("perfbench failure: " + e))
    spark.stop()

    val body = metrics.map { case (k, v, u) =>
      s""""$k":{"value":${num(v)},"unit":"$u"}"""
    }.mkString(",")
    val line = s"""{"correct":${failed == 0},"attempted":$attempted,"failed":$failed,"metrics":{$body}}"""
    Files.write(Paths.get(conf.str("result_file")), (line + "\n").getBytes(UTF_8))
  }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.math.BigDecimal.valueOf(v).toPlainString

  /** Per-layer metrics every workload reports, per timed pass (medians
    * over the traced passes). */
  def layer(h: Harness, queries: Boolean, setups: Seq[Setup], warmupS: Double, traced: Seq[Seq[Op]],
      cold: Seq[Op], untracedWalls: Seq[Double], storageBytes: Long, conf: Conf): Seq[(String, Double, String)] = {
    val cores = conf.int("cpus")
    def perPass(f: Seq[Op] => Double): Double = Stats.median(traced.map(f))
    def ev(ops: Seq[Op]): Seq[Events] = ops.flatMap(_.events)
    def sums(ops: Seq[Op]): TaskSums = ev(ops).map(_.taskSums).foldLeft(TaskSums())(_ + _)
    def jobs(ops: Seq[Op]): Seq[JobRec] = ev(ops).flatMap(_.jobs)
    def winMs(ops: Seq[Op]): Double = ops.map(o => (o.win1 - o.win0).toDouble).sum
    def busyMs(ops: Seq[Op]): Double = ops.map(o =>
      Stats.busy(o.events.toSeq.flatMap(_.jobs.map(j => (j.start, j.end))), o.win0, o.win1).toDouble).sum
    def gapMs(ops: Seq[Op]): Double = ops.map(o =>
      Stats.gaps(o.events.toSeq.flatMap(_.jobs.map(j => (j.start, j.end))), o.win0, o.win1).toDouble).sum
    val tracedWall = Stats.median(traced.map(_.map(h.charged).sum))
    val mb = 1e6
    // Query-layer parts exist only where the ops are query calls.
    def q(f: Seq[Op] => Double): Double = if (queries) perPass(f) else 0.0
    Seq(
      ("spark.jobs", perPass(jobs(_).size.toDouble), "count"),
      ("spark.ms_per_job", perPass(o => winMs(o) / math.max(1, jobs(o).size)), "ms"),
      ("spark.stages", perPass(o => ev(o).map(_.stagesRun).sum.toDouble), "count"),
      ("spark.tasks", perPass(sums(_).tasks.toDouble), "count"),
      ("spark.wall_s", perPass(winMs(_) / 1e3), "s"),
      ("spark.busy_s", perPass(busyMs(_) / 1e3), "s"),
      ("spark.driver_gap_s", perPass(gapMs(_) / 1e3), "s"),
      ("spark.task_run_s", perPass(sums(_).runMs / 1e3), "s"),
      ("spark.task_cpu_s", perPass(sums(_).cpuNs / 1e9), "s"),
      ("spark.gc_s", perPass(sums(_).gcMs / 1e3), "s"),
      ("spark.core_util", perPass(o => sums(o).runMs / math.max(1.0, winMs(o) * cores)), "ratio"),
      ("spark.shuffle_read_mb", perPass(sums(_).shuffleRead / mb), "MB"),
      ("spark.shuffle_write_mb", perPass(sums(_).shuffleWrite / mb), "MB"),
      ("spark.spill_mb", perPass(sums(_).spill / mb), "MB"),
      ("spark.output_mb", perPass(sums(_).output / mb), "MB"),
      ("spark.failed_tasks", perPass(sums(_).failed.toDouble), "count"),
      // Over the traced cold pass as well: Par.map's branches run
      // concurrent jobs only while their session caches are empty.
      ("spark.max_concurrent_jobs", (cold +: traced).flatten.map(o => Stats.maxConcurrent(
        o.events.toSeq.flatMap(_.jobs.map(j => (j.start, j.end))))).maxOption.getOrElse(0).toDouble, "count"),
      ("spark.pinned_mb", storageBytes / mb, "MB"),
      ("queries.construct_s", q(_.map(_.constructNs).sum / 1e9), "s"),
      ("queries.plan_s", q(_.map(_.planNs).sum / 1e9), "s"),
      ("queries.execute_s", q(_.map(_.executeNs).sum / 1e9), "s"),
      ("queries.eager_jobs", q(jobs(_).count(_.phase == "construct").toDouble), "count"),
      ("setup.session_s", Stats.median(setups.map(_.session)), "s"),
      ("setup.generate_s", Stats.median(setups.map(_.generate)), "s"),
      ("setup.warmup_s", warmupS, "s"),
      ("setup.first_pass_s", Stats.median(setups.map(_.firstPass)), "s"),
      ("trace_overhead", tracedWall / Stats.median(untracedWalls), "ratio"))
  }

  def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def writeArtifact(conf: Conf, setups: Seq[Setup], passes: Seq[(Boolean, Seq[Op])],
      metrics: Seq[(String, Double, String)], rows: Seq[String]): Unit = {
    val rt = Runtime.getRuntime
    val env = Seq(
      "workload" -> jstr(conf.str("workload")),
      "seed" -> conf.str("seed"),
      "seconds" -> conf.str("seconds"),
      "nproc" -> rt.availableProcessors.toString,
      "cpus" -> conf.str("cpus"),
      "heap_max_mb" -> (rt.maxMemory / (1 << 20)).toString,
      "spark_version" -> jstr(org.apache.spark.SPARK_VERSION),
      "java_version" -> jstr(System.getProperty("java.version")),
      "git_commit" -> jstr(conf.opt("git_commit").getOrElse("unknown")))
    val setupJson = setups.map(s =>
      s"""{"session_s":${num(s.session)},"generate_s":${num(s.generate)},"first_pass_s":${num(s.firstPass)}}""")
    val passJson = passes.zipWithIndex.map { case ((traced, ops), i) =>
      def jobs(o: Op) = o.events.toSeq.flatMap(_.jobs.map(j => (j.start, j.end)))
      val spans = if (!traced) "" else
        s""","window_ms":${ops.map(o => o.win1 - o.win0).sum},"busy_ms":${ops.map(o => Stats.busy(jobs(o), o.win0, o.win1)).sum},"gap_ms":${ops.map(o => Stats.gaps(jobs(o), o.win0, o.win1)).sum}"""
      s"""{"index":$i,"traced":$traced,"wall_s":${num(ops.map(_.ns).sum / 1e9)},"ops":${ops.size},"failed":${ops.count(!_.ok)}$spans}"""
    }
    val metricJson = metrics.map { case (k, v, u) => s"""${jstr(k)}:{"value":${num(v)},"unit":"$u"}""" }
    val json = "{" + (env.map { case (k, v) => s"${jstr(k)}:$v" } ++ Seq(
      "\"setups\":" + setupJson.mkString("[", ",", "]"),
      "\"passes\":" + passJson.mkString("[", ",", "]"),
      "\"metrics\":" + metricJson.mkString("{", ",", "}"),
      "\"rows\":" + rows.mkString("[\n", ",\n", "\n]"),
      "\"workloads\":" + conf.opt("workloads_json").map(p =>
        new String(Files.readAllBytes(Paths.get(p)), UTF_8)).getOrElse("null")))
      .mkString(",\n") + "}\n"
    Files.write(Paths.get(conf.str("artifact_file")), json.getBytes(UTF_8))
  }
}

/** The three battery workloads: a frozen list of `SparkEntry.queries`, run
  * in a seeded order per pass; each call is constructed, planned and sunk
  * (every output column materialized), and its row count and digest are
  * checked against the values recorded for it. */
final class Battery(conf: Conf) extends Workload {
  private val dir = conf.str("data_dir")
  private val names: Seq[String] =
    Files.readAllLines(Paths.get(conf.str("queries_file")), UTF_8).asScala.map(_.trim).filter(_.nonEmpty).toSeq
  /** name → (rows, digest); digest None where the recorded query's digest
    * differed between two runs at the recording commit (rows-only check). */
  private val expected: Map[String, (Long, Option[Long])] =
    conf.opt("expected_file").toSeq.flatMap(f => Files.readAllLines(Paths.get(f), UTF_8).asScala)
      .map(_.split("\t")).filter(_.length >= 3)
      .map(a => a(0) -> (a(1).toLong, a(2).toLongOption)).toMap
  private val inject = conf.opt("inject_fail").toSet
  private val fns: Map[String, (SparkSession, String) => DataFrame] = {
    val all = graft.SparkEntry.queries
    names.map { n =>
      val f = all.getOrElse(n, sys.error(s"unknown query $n"))
      n -> (if (inject(n)) (_: SparkSession, _: String) => throw new RuntimeException(s"injected failure in $n") else f)
    }.toMap
  }

  private def order(seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(names)

  private def call(spark: SparkSession, h: Harness, n: String): Op =
    h.op(spark, n) {
      h.phase(spark, "construct")
      val t0 = System.nanoTime()
      val df = fns(n)(spark, dir)
      val t1 = System.nanoTime()
      h.phase(spark, "plan")
      val qe = df.queryExecution
      qe.executedPlan
      val t2 = System.nanoTime()
      h.phase(spark, "execute")
      val out = Sink.run(qe)
      (out.rows, out.digest, t1 - t0, t2 - t1, System.nanoTime() - t2)
    } { (rows, dig) =>
      expected.get(n) match {
        case None => Some("no recorded output")
        case Some((r, d)) if r != rows || d.exists(_ != dig) =>
          Some(s"output check: rows $rows digest $dig, recorded rows $r digest ${d.getOrElse("-")}")
        case _ => None
      }
    }

  def queries: Boolean = true
  def generate(rep: Int): Unit = ()
  /** Passes still speed up for tens of seconds after set-up, as the JIT
    * compiles the planner and the query code; a few untimed passes take
    * the timed ones past the steepest part of that curve. */
  def warmup(spark: SparkSession, h: Harness): Seq[Op] =
    (1 to Battery.warmPasses).flatMap(i => pass(spark, -10 - i, h))
  def firstPass(spark: SparkSession, rep: Int, h: Harness): Seq[Op] =
    order(conf.long("seed"), -rep).map(n => call(spark, h, n))
  def pass(spark: SparkSession, index: Int, h: Harness): Seq[Op] =
    order(conf.long("seed"), index).map(n => call(spark, h, n))

  def layerMetrics(spark: SparkSession, traced: Seq[Seq[Op]], h: Harness): Map[String, Double] =
    Warehouse.domainKeys.map(_ -> 0.0).toMap

  def artifactRows(traced: Seq[Seq[Op]], cold: Seq[Op]): Seq[String] = {
    val coldBy = cold.map(o => o.name -> o).toMap
    traced.flatten.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ops) =>
      def med(f: Op => Double) = Stats.median(ops.map(f))
      val ev = ops.flatMap(_.events)
      val sums = ev.map(_.taskSums).foldLeft(TaskSums())(_ + _)
      val k = ops.size.toDouble
      val jobs = ev.flatMap(_.jobs)
      val fields = Seq(
        "query" -> Main.jstr(n),
        "calls" -> ops.size.toString,
        "failed" -> ops.count(!_.ok).toString,
        "cold_ms" -> coldBy.get(n).map(o => Main.num(o.ns / 1e6)).getOrElse("null"),
        "cold_jobs" -> coldBy.get(n).flatMap(_.events).map(_.jobs.size.toString).getOrElse("null"),
        "cold_max_concurrent_jobs" -> coldBy.get(n).flatMap(_.events).map(e =>
          Stats.maxConcurrent(e.jobs.map(j => (j.start, j.end))).toString).getOrElse("null"),
        "warm_ms" -> Main.num(med(_.ns / 1e6)),
        "construct_ms" -> Main.num(med(_.constructNs / 1e6)),
        "plan_ms" -> Main.num(med(_.planNs / 1e6)),
        "execute_ms" -> Main.num(med(_.executeNs / 1e6)),
        "jobs" -> Main.num(jobs.size / k),
        "eager_jobs" -> Main.num(jobs.count(_.phase == "construct") / k),
        "stages" -> Main.num(ev.map(_.stagesRun).sum / k),
        "tasks" -> Main.num(sums.tasks / k),
        "task_run_ms" -> Main.num(sums.runMs / k),
        "shuffle_read_bytes" -> Main.num(sums.shuffleRead / k),
        "shuffle_write_bytes" -> Main.num(sums.shuffleWrite / k),
        "spill_bytes" -> Main.num(sums.spill / k),
        "busy_ms" -> Main.num(ops.map(o => Stats.busy(o.events.toSeq.flatMap(_.jobs.map(j => (j.start, j.end))), o.win0, o.win1)).sum / k),
        "gap_ms" -> Main.num(ops.map(o => Stats.gaps(o.events.toSeq.flatMap(_.jobs.map(j => (j.start, j.end))), o.win0, o.win1)).sum / k),
        "window_ms" -> Main.num(ops.map(o => o.win1 - o.win0).sum / k),
        "wall_total_ms" -> Main.num(ops.map(_.ns).sum / 1e6),
        "parts_total_ms" -> Main.num(ops.map(o => o.constructNs + o.planNs + o.executeNs).sum / 1e6),
        "rows" -> ops.head.rows.toString)
      fields.map { case (a, b) => s"${Main.jstr(a)}:$b" }.mkString("{", ",", "}")
    }
  }
}

object Battery {
  val warmPasses = 2

  /** Records every battery query's row count, digest and second-run ms
    * over the workload's data. Each query runs twice; where the two digests
    * differ, the digest is written as `-` and only the row count is
    * checked. */
  def record(conf: Conf, spark: SparkSession): Unit = {
    val h = new Harness(conf)
    val names = graft.SparkEntry.queries.keys.toSeq.sorted
    val out = names.map { n =>
      var last: Op = null
      val runs = (1 to 2).map { _ =>
        val o = h.op(spark, n) {
          val df = graft.SparkEntry.queries(n)(spark, conf.str("data_dir"))
          val s = Sink.run(df.queryExecution)
          (s.rows, s.digest, 0L, 0L, 0L)
        }((_, _) => None)
        require(o.ok, s"$n failed: ${o.err}")
        last = o
        (o.rows, o.digest)
      }
      require(runs(0)._1 == runs(1)._1, s"$n: row count differs between runs: $runs")
      s"$n\t${runs(0)._1}\t${if (runs(0) == runs(1)) runs(0)._2.toString else "-"}\t${last.ns / 1000000}"
    }
    Files.write(Paths.get(conf.str("result_file")), out.mkString("", "\n", "\n").getBytes(UTF_8))
    spark.stop()
  }
}

/** warehouse_build: `Pipeline.run` over a seeded synthetic bronze parquet,
  * checked against the generator's ground truth. */
final class Warehouse(conf: Conf) extends Workload {
  private val work = conf.str("work_dir")
  private val input = s"$work/input"
  private val gold = s"$work/gold"
  private def truth: Map[String, Long] = {
    val s = new String(Files.readAllBytes(Paths.get(s"$input/truth.json")), UTF_8)
    "\"(\\w+)\":\\s*(\\d+)".r.findAllMatchIn(s).map(m => m.group(1) -> m.group(2).toLong).toMap
  }

  def generate(rep: Int): Unit = {
    val cmd = Seq(conf.str("python"), conf.str("gen_script"), "--seed", conf.str("seed"),
      "--rows", conf.str("bronze_rows"), "--out", input)
    val p = new ProcessBuilder(cmd.asJava).redirectErrorStream(true)
      .redirectOutput(new File(s"$work/generate.log")).start()
    require(p.waitFor() == 0, s"bronze generator failed, see $work/generate.log")
  }

  def queries: Boolean = false
  /** There are no session caches to fill: set-up is the session and the
    * bronze. One untimed build then warms the JVM on the real input. */
  def firstPass(spark: SparkSession, rep: Int, h: Harness): Seq[Op] = Nil
  def warmup(spark: SparkSession, h: Harness): Seq[Op] = pass(spark, -1, h)

  def pass(spark: SparkSession, index: Int, h: Harness): Seq[Op] = {
    val t = truth
    var result: Pipeline.Result = null
    Seq(h.op(spark, "build") {
      h.phase(spark, "execute")
      result = Pipeline.run(spark, s"$input/bronze", gold)
      (result.factCount, 0L, 0L, 0L, 0L)
    } { (_, _) =>
      val got = Map("bronzeCount" -> result.bronzeCount, "stagedCount" -> result.stagedCount,
        "factCount" -> result.factCount, "bankCount" -> result.bankCount,
        "branchCount" -> result.branchCount)
      val geo = spark.read.parquet(s"$gold/mart_geographic")
        .agg(org.apache.spark.sql.functions.sum("total_reviews")).head().getLong(0)
      if (got != t) Some(s"Pipeline.Result $got, expected $t")
      else if (geo != result.factCount) Some(s"mart_geographic total $geo != factCount ${result.factCount}")
      else None
    })
  }

  private def sink(e: ExecRec): String =
    e.writePath.map(p => p.stripSuffix("/").split('/').last).getOrElse("validate")

  /** A build's root SQL executions in order, each with the ms attributed to
    * it: from the end of the previous one (or the build's start) to its own
    * end, so the driver work that prepares a sink counts towards it. */
  private def attributed(o: Op): Seq[(ExecRec, Long)] = {
    val ex = o.events.toSeq.flatMap(_.execs).sortBy(_.start)
    ex.zip(o.win0 +: ex.map(_.end)).map { case (e, prev) => e -> (e.end - math.max(prev, o.win0)) }
  }

  private def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(dirBytes).sum
    else if (f.getName.endsWith(".crc")) 0L else f.length

  def layerMetrics(spark: SparkSession, traced: Seq[Seq[Op]], h: Harness): Map[String, Double] = {
    val builds = traced.flatten
    def med(f: Op => Double) = Stats.median(builds.map(f))
    def part(o: Op, s: String) = attributed(o).filter(x => sink(x._1) == s).map(_._2).sum / 1e3
    val sinks = Warehouse.sinks.map(s => s"domain.sink.${s}_s" -> med(part(_, s)))
    // Clean.stage and Nlp.enrich in isolation, each consumed by the sink.
    val bronze = spark.read.schema(Schemas.review).parquet(s"$input/bronze")
    val stage = (1 to 2).map { _ =>
      val t = System.nanoTime(); Sink.run(Clean.stage(bronze).queryExecution); Main.secs(t)
    }
    val staged = Clean.stage(bronze).localCheckpoint(eager = true)
    val enrich = (1 to 2).map { _ =>
      val t = System.nanoTime(); Sink.run(Nlp.enrich(staged).queryExecution); Main.secs(t)
    }
    (sinks ++ Seq(
      "domain.validate_s" -> med(part(_, "validate")),
      "domain.silver_mb" -> med(_.events.map(_.rddBlockBytes).getOrElse(0L) / 1e6),
      "domain.gold_mb" -> dirBytes(new File(gold)) / 1e6,
      "domain.stage_s" -> Stats.median(stage),
      "domain.enrich_s" -> Stats.median(enrich))).toMap
  }

  def artifactRows(traced: Seq[Seq[Op]], cold: Seq[Op]): Seq[String] =
    traced.flatten.zipWithIndex.flatMap { case (o, i) =>
      val ev = o.events.get
      val jobOfStage = ev.jobOfStage
      val byExec = ev.jobs.groupBy(_.execId)
      attributed(o).map { case (e, ms) =>
        val jobs = byExec.getOrElse(e.id, Nil)
        val ids = jobs.map(_.id).toSet
        val sums = ev.stageSums.filter(s => jobOfStage.get(s._1).exists(ids)).values
          .foldLeft(TaskSums())(_ + _)
        Seq("build" -> i.toString, "sink" -> Main.jstr(sink(e)), "call_site" -> Main.jstr(e.callSite),
          "attributed_ms" -> ms.toString, "execution_ms" -> (e.end - e.start).toString,
          "build_ms" -> Main.num(o.ns / 1e6), "jobs" -> jobs.size.toString,
          "stages" -> jobs.map(_.stages.size).sum.toString, "tasks" -> sums.tasks.toString,
          "task_run_ms" -> sums.runMs.toString, "shuffle_read_bytes" -> sums.shuffleRead.toString,
          "shuffle_write_bytes" -> sums.shuffleWrite.toString, "spill_bytes" -> sums.spill.toString,
          "output_bytes" -> sums.output.toString)
          .map { case (a, b) => s"${Main.jstr(a)}:$b" }.mkString("{", ",", "}")
      }
    }
}

object Warehouse {
  val sinks: Seq[String] = Seq("dim_bank", "dim_branch", "dim_sentiment", "dim_date",
    "fact_reviews", "mart_bank_performance", "mart_bank_ranking", "mart_geographic", "run_stats")
  val domainKeys: Seq[String] = sinks.map(s => s"domain.sink.${s}_s") ++
    Seq("domain.validate_s", "domain.silver_mb", "domain.gold_mb", "domain.stage_s", "domain.enrich_s")
}
