package graft

import java.util.concurrent.ConcurrentLinkedQueue
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** [[Bench.measure]] on the shared test session with stub queries. Every
  * stub returns `emptyDataFrame`, whose `count()` is the same small job
  * each time, so a stub's census row is that count's plus the jobs the
  * stub itself runs. */
class BenchSpec extends SparkSpec {
  private val sfDir = "sf"

  private def stub(body: (SparkSession, String) => Unit): Bench.Query =
    (s, dir) => { body(s, dir); s.emptyDataFrame }

  /** One job of one stage with two tasks. */
  private def rddJob(s: SparkSession): Unit =
    s.sparkContext.parallelize(1 to 4, 2).count(): Unit

  private lazy val countOnly: Bench.Census =
    Bench.measure(spark, Seq("base" -> stub((_, _) => ())), sfDir).census.head._2

  test("the filter picks the matching queries and they run in sorted order") {
    val ran = new ConcurrentLinkedQueue[String]
    val qs = Seq("q3_c", "q1_a", "q2_b", "q10_d").map { n =>
      n -> stub((_, _) => ran.add(n): Unit)
    }.toMap
    val picked = Bench.pick(qs, Seq("q3", "q1"))
    assert(picked.map(_._1) === Seq("q10_d", "q1_a", "q3_c"))
    val m = Bench.measure(spark, picked, sfDir)
    assert(ran.asScala.toSeq ===
      Seq("q10_d", "q10_d", "q10_d", "q1_a", "q1_a", "q1_a", "q3_c", "q3_c", "q3_c"))
    assert(m.seconds.map(_._1) === Seq("q10_d", "q1_a", "q3_c"))
    assert(m.failed.isEmpty)
    assert(Bench.pick(qs, Nil).map(_._1) === Seq("q10_d", "q1_a", "q2_b", "q3_c"))
  }

  test("a run that throws is left out of the median and the query is listed as failed") {
    var run = 0
    // Run 1 fails at once; runs 2 and 3 take at least 0.1 s and 0.9 s.
    val flaky = stub { (_, _) =>
      run += 1
      if (run == 1) throw new IllegalStateException("run 1")
      Thread.sleep(if (run == 2) 100 else 900)
    }
    var lateRun = 0
    val lateFail = stub { (_, _) =>
      lateRun += 1
      if (lateRun == 3) throw new IllegalStateException("run 3")
    }
    val m = Bench.measure(spark, Seq("flaky" -> flaky, "late" -> lateFail), sfDir)
    val secs = m.seconds.toMap
    // The mean of the two successful runs, ≥ 0.5 s; with the failed run's
    // near-zero time counted, the median would be the 0.1 s run.
    assert(secs("flaky") >= 0.5 && secs("flaky") < 0.9, secs("flaky"))
    assert(m.failed === Seq("flaky", "late"))
    assert(m.census.map(_._1) === Seq("flaky"), "a failed third run has no census row")
  }

  test("a query that always throws adds nothing to the total") {
    val ok = stub((_, _) => ())
    val broken = stub((_, _) => throw new IllegalStateException("always"))
    val m = Bench.measure(spark, Seq("broken" -> broken, "ok" -> ok), sfDir)
    assert(m.seconds.map(_._1) === Seq("ok"))
    assert(m.total === m.seconds.head._2)
    assert(m.failed === Seq("broken"))
    assert(m.census.map(_._1) === Seq("ok"))
  }

  test("jobs run in a query's Par.map arms count under that query") {
    val q = stub((s, _) => Par.map(Seq(1, 2), parallelism = 2)(_ => rddJob(s)): Unit)
    val m = Bench.measure(spark, Seq("par" -> q), sfDir)
    val base = countOnly
    assert(m.census === Seq("par" ->
      Bench.Census(base.jobs + 2, base.stages + 2, base.tasks + 4)))
  }

  test("the census waits for events still queued on the listener bus") {
    val base = countOnly
    // A slow listener on the same queue holds back every later event, so
    // counters read without draining the bus miss the third run's jobs.
    val slow = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        Thread.sleep(100)
    }
    spark.sparkContext.addSparkListener(slow)
    try {
      val m = Bench.measure(spark, Seq("two" -> stub((s, _) => { rddJob(s); rddJob(s) })), sfDir)
      assert(m.census === Seq("two" ->
        Bench.Census(base.jobs + 2, base.stages + 2, base.tasks + 4)))
    } finally spark.sparkContext.removeSparkListener(slow)
  }

  test("warm-up jobs do not appear in any query's census row") {
    val warmDir = "warm"
    val qs = Seq("a", "b", "c").map { n =>
      n -> stub((s, dir) => if (dir == warmDir) (1 to 5).foreach(_ => rddJob(s)))
    }
    Bench.warmUp(spark, qs, warmDir)
    val m = Bench.measure(spark, qs, sfDir)
    assert(m.census === qs.map(_._1 -> countOnly))
  }

  test("calibration compares the sentinels only at the scale their references are pinned at") {
    // Every probe at twice its reference time, q11 at three times.
    val calib = Bench.calibRef.map { case (k, v) => k -> v * (if (k == "q11") 3 else 2) }
    val atRef = Bench.calibrate(calib, "/data/sf0.1/")
    assert(math.abs(atRef.noiseFactor - 2.0) < 1e-9, atRef)
    assert(math.abs(atRef.spread.get - 1.5) < 1e-9, atRef)
    assert(atRef.ok === Some(true))
    // Sentinels 12x slower, as at a larger scale: away from sf0.1 only the
    // cpu probe counts; at sf0.1 the probes disagree about the machine.
    val slowSentinels = calib.map { case (k, v) => k -> (if (k == "cpu") v else v * 12) }
    assert(Bench.calibrate(slowSentinels, "/data/sf0.01") === Bench.Calibration(2.0, None, None))
    assert(Bench.calibrate(slowSentinels, "/data/sf0.1").ok === Some(false))
  }
}
