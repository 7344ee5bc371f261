package graft.streaming

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** Streaming token-budget accountant ≡ its batch twin on the same
  * arrival order, with the budget boundary crossing a MICRO-BATCH
  * boundary (the property that needs persisted state at all). */
class BudgetStreamSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def timedDocs = DocStream.withEventTime(
    Tables(spark, sf, "documents"))

  /** Per-source budgets at 40% of the source's total tokens — boundaries
    * land mid-corpus, so with chronological waves every source crosses
    * its budget while the stream is still running. */
  private def budgets40: Map[String, Long] =
    BudgetStream.tokenProjection(timedDocs)
      .groupBy(col("source")).agg(sum(col("n_tokens")).as("t"))
      .collect().map(r => r.getString(0) -> (r.getLong(1) * 2L / 5L)).toMap

  test("multi-wave stream admissions equal the batch twin; state crosses waves") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    val root = graft.Scratch.fresh("budget")
    val docs = timedDocs
    val budgets = budgets40

    // Three chronological waves (ts = epoch + doc_id, so doc_id ranges
    // are time ranges); the accountant runs after each write, so each
    // wave is its own micro-batch generation and the running totals MUST
    // come from persisted state.
    val cuts = Seq(0L -> 170L, 170L -> 340L, 340L -> Long.MaxValue)
    cuts.foreach { case (lo, hi) =>
      docs.filter(col("doc_id") >= lo && col("doc_id") < hi)
        .coalesce(1).write.mode("append").parquet(s"$root/in")
      BudgetStream.runAccountant(spark, s"$root/in", s"$root/out",
        s"$root/ckpt", budgets, defaultBudget = Long.MaxValue)
    }

    val streamed = spark.read.parquet(s"$root/out")
      .select("doc_id", "source", "n_tokens", "cum_tokens", "budget", "admitted")
      .collect().map(_.toSeq).toSet
    val twin = BudgetStream.batchTwin(docs, budgets, Long.MaxValue)
      .collect().map(_.toSeq).toSet
    assert(streamed.size === docs.count())
    assert(streamed === twin,
      "streamed admissions must equal the batch twin row-for-row")

    // The boundary rule is q110's greedy fill: the crossing doc is
    // admitted, the next doc of that source is not — and for at least
    // one source those two docs live in DIFFERENT waves.
    val bySource = spark.read.parquet(s"$root/out")
      .collect().map(r => (r.getAs[String]("source"), r.getAs[Long]("doc_id"),
        r.getAs[Long]("cum_tokens"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("budget"), r.getAs[Boolean]("admitted")))
      .groupBy(_._1)
    var crossWaveRejection = false
    bySource.foreach { case (_, rows) =>
      val ordered = rows.sortBy(_._2)
      ordered.foreach { case (_, _, cum, nt, b, admitted) =>
        assert(admitted === (cum - nt < b), "greedy-fill predicate")
      }
      val firstRej = ordered.indexWhere(!_._6)
      assert(firstRej > 0, "every source admits a prefix then rejects")
      assert(ordered.drop(firstRej).forall(!_._6),
        "admissions are a PREFIX in arrival order")
      if (ordered(firstRej)._2 >= 170L && ordered.head._2 < 170L)
        crossWaveRejection = true
    }
    assert(crossWaveRejection,
      "some source must cross its budget in a later wave than it started")

    // Idempotence: re-running with no new files changes nothing.
    BudgetStream.runAccountant(spark, s"$root/in", s"$root/out",
      s"$root/ckpt", budgets, defaultBudget = Long.MaxValue)
    val again = spark.read.parquet(s"$root/out")
      .select("doc_id", "source", "n_tokens", "cum_tokens", "budget", "admitted")
      .collect().map(_.toSeq).toSet
    assert(again === twin)
  }

  test("unknown source falls back to the default budget") {
    implicit val s: org.apache.spark.sql.SparkSession = spark
    import spark.implicits._
    val root = graft.Scratch.fresh("budget_d")
    Seq((1L, "a b c", "en", "mystery", 5L), (2L, "d e f g", "en", "mystery", 7L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .withColumn("ts", timestamp_seconds(lit(1700000000L) + col("doc_id")))
      .coalesce(1).write.parquet(s"$root/in")
    BudgetStream.runAccountant(spark, s"$root/in", s"$root/out",
      s"$root/ckpt", budgets = Map.empty, defaultBudget = 3L)
    val got = spark.read.parquet(s"$root/out")
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("admitted"), r.getAs[Long]("budget")))).toMap
    assert(got(1L) === ((true, 3L)))  // cum before = 0 < 3: admitted (fills exactly)
    assert(got(2L) === ((false, 3L))) // cum before = 3, !(3 < 3): rejected
  }
}
