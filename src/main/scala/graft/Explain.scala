package graft

/** Dump formatted physical plans for queries (plan hygiene review):
  *   tools/run.sh graft.Explain [sfDir] [nameSubstring...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = Sessions.start("ERROR")
    Bench.pick(SparkEntry.queries, args.drop(1).toSeq)
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try fn(spark, sfDir).explain("formatted")
        catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
