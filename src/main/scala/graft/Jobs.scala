package graft

/** Dev-only job/stage/task census per query (optimization round 2): the
  * Prof decomposition put the per-job floor at ~16 ms (RDD), ~33 ms
  * (SQL, 1 slice) plus ~2-3 ms per task and ~15-45 ms per AQE stage
  * round — so a tail query's wall clock is mostly `jobs × floor`. This
  * tool attributes it: one pass over the battery, one line per query
  * with (jobs, stages, tasks, wall ms) from a SparkListener, sorted by
  * job count. Queries whose job count exceeds their plan's need (eager
  * checkpoints/collects a consumer could fold) are the audit list.
  *
  *   SPARK_GRAFT_SF_DIR=... tools/run.sh graft.Jobs [nameSubstring...]
  */
object Jobs {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Sessions.builder(s"local[$cpus]", cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val picked = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => args.isEmpty || args.exists(n.contains) }
    val warmDir = "/root/testdata/sf0.001"
    if (new java.io.File(warmDir).isDirectory && warmDir != sfDir)
      Par.map(picked, parallelism = 4) { case (_, fn) =>
        try fn(spark, warmDir).count() catch { case _: Throwable => () }
        spark.catalog.clearCache()
      }
    System.gc()
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs += 1; stages += j.stageInfos.size
        tasks += j.stageInfos.map(_.numTasks).sum
      }
    }
    spark.sparkContext.addSparkListener(listener)
    // One untimed pass at sfDir first so session caches are warm and the
    // counted pass sees the steady-state job count (what bench runs 2-3
    // pay), not one-time index builds.
    picked.foreach { case (_, fn) =>
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      spark.catalog.clearCache()
    }
    val rows = picked.map { case (name, fn) =>
      Thread.sleep(120) // let the async listener bus drain (census tool)
      jobs = 0; stages = 0; tasks = 0
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
        catch { case _: Throwable => false }
      val ms = (System.nanoTime() - t0) / 1e6
      Thread.sleep(120) // let the async listener bus drain (census tool)
      spark.catalog.clearCache()
      (name, if (ok) jobs else -1, stages, tasks, ms)
    }
    spark.stop()
    println(f"${"query"}%-42s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s ${"ms"}%8s")
    rows.sortBy(-_._2).foreach { case (n, j, s, t, ms) =>
      println(f"$n%-42s $j%5d $s%6d $t%6d $ms%8.0f")
    }
    println(f"TOTAL jobs=${rows.map(_._2).sum} stages=${rows.map(_._3).sum} " +
      f"tasks=${rows.map(_._4).sum} ms=${rows.map(_._5).sum}%.0f")
  }
}
