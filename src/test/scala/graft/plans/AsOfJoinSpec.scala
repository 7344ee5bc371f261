package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.functions._

class AsOfJoinSpec extends SparkSpec
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  import spark.implicits._

  test("edge cases: no earlier match -> nulls; strict order; same-key streams merge") {
    val quotes = Seq(
      // (sym, t, px)
      ("A", 10L, 1.0), ("A", 20L, 2.0), ("A", 30L, 3.0),
      ("B", 15L, 9.0))
      .toDF("q_sym", "q_t", "px")
    val trades = Seq(
      ("A", 5L),  // before any quote -> null
      ("A", 20L), // strict: equal-time quote does NOT match -> t=10 quote
      ("A", 25L), // -> t=20 quote
      ("A", 99L), // -> t=30 quote
      ("B", 16L), // -> t=15 quote
      ("C", 50L)) // key with no quotes at all -> null
      .toDF("sym", "t")
    val out = AsOf.join(trades, quotes,
        keys = Seq("sym" -> "q_sym"), order = Seq("t" -> "q_t"))
      .select("sym", "t", "q_t", "px")
      .collect().map(r => (r.getString(0), r.getLong(1),
        if (r.isNullAt(2)) null else r.getLong(2))).toSet
    assert(out === Set(
      ("A", 5L, null), ("A", 20L, 10L), ("A", 25L, 20L), ("A", 99L, 30L),
      ("B", 16L, 15L), ("C", 50L, null)))
  }

  test("matches the union+window as-of formulation row-for-row on sf0.01") {
    val d = "/root/testdata/sf0.01"
    def rows(q: String) = graft.queries.RelationalExt.queries(q)(spark, d)
      .collect().map(_.toSeq).toSet
    assert(rows("q49_asof_native") === rows("q39_asof_join"))
  }

  test("matches the window formulation at sf0.1 (multi-partition shuffles under AQE)") {
    // The co-partitioning contract (both exchanges aligned, zipPartitions
    // merge) is exactly what AQE partition coalescing could break — exercise
    // it at a scale where the shuffles have real multi-partition maps.
    val d = "/root/testdata/sf0.1"
    def rows(q: String) = graft.queries.RelationalExt.queries(q)(spark, d)
      .collect().map(_.toSeq).toSet
    assert(rows("q49_asof_native") === rows("q39_asof_join"))
  }

  test("physical plan: AsOfJoinExec with one exchange per side, no union") {
    val d = "/root/testdata/sf0.001"
    val df = graft.queries.RelationalExt.queries("q49_asof_native")(spark, d)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AsOfJoin"), plan)
    assert(!plan.contains("Union"), "native as-of must not union the inputs")
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 2, s"expected 2 hash exchanges, got $exchanges:\n$plan")
  }

  test("composite join keys and composite order tuples resolve correctly") {
    val quotes = Seq(
      ("A", 1, 10L, 1.0), ("A", 1, 20L, 2.0), // (sym, venue) = (A,1)
      ("A", 2, 15L, 9.0),                     // same sym, different venue
      ("B", 1, 12L, 5.0))
      .toDF("q_sym", "q_venue", "q_t", "px")
    val trades = Seq(
      ("A", 1, 25L), // matches (A,1) t=20, NOT (A,2) t=15
      ("A", 2, 25L), // matches (A,2) t=15
      ("B", 1, 11L), // before (B,1)'s only quote -> null
      ("B", 2, 99L)) // venue with no quotes -> null
      .toDF("sym", "venue", "t")
    val out = AsOf.join(trades, quotes,
        keys = Seq("sym" -> "q_sym", "venue" -> "q_venue"),
        order = Seq("t" -> "q_t"))
      .select("sym", "venue", "t", "px")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getDouble(3))).toSet
    assert(out === Set(
      ("A", 1, 25L, 2.0), ("A", 2, 25L, 9.0),
      ("B", 1, 11L, null), ("B", 2, 99L, null)))
  }

  test("differential property: native as-of equals the window emulation on random data") {
    // Deterministic seed; heavy key collisions + duplicate timestamps so
    // boundary/tie paths are exercised, not just the happy path.
    val rnd = new scala.util.Random(42)
    (1 to 5).foreach { round =>
      val trades = (1 to 200).map(i =>
        (rnd.nextInt(8).toLong, rnd.nextInt(50).toLong, i.toLong))
        .toDF("k", "t", "trade_id")
      val quotes = (1 to 150).map(i =>
        (rnd.nextInt(8).toLong, rnd.nextInt(50).toLong, (1000 + i).toLong))
        .toDF("qk", "qt", "quote_id")
      val native = AsOf.join(trades, quotes,
          keys = Seq("k" -> "qk"), order = Seq("t" -> "qt", "trade_id" -> "quote_id"))
        .select("k", "t", "trade_id", "quote_id")
        .collect().map(_.toSeq).toSet
      // window emulation: union both sides, last quote_id strictly before
      // in (time, id) order within the key
      val u = trades.select(col("k"), col("t"), col("trade_id").as("id"),
          lit(null).cast("long").as("qid"))
        .unionByName(quotes.select(col("qk").as("k"), col("qt").as("t"),
          col("quote_id").as("id"), col("quote_id").as("qid")))
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("k"))
        .orderBy(col("t"), col("id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
      val emulated = u
        .withColumn("last_q", last(col("qid"), ignoreNulls = true).over(w))
        .filter(col("qid").isNull)
        .select(col("k"), col("t"), col("id").as("trade_id"), col("last_q").as("quote_id"))
        .collect().map(_.toSeq).toSet
      assert(native === emulated, s"divergence in round $round")
    }
  }

  test("left-side filters push through the as-of join to the parquet scan") {
    val d = "/root/testdata/sf0.001"
    val e = graft.Tables(spark, d, "events")
      .select(col("user_id"), col("event_id"), col("event_type"))
    val left = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"))
    val right = e.filter(col("event_type") === "click")
      .select(col("user_id").as("c_user"), col("event_id").as("click_id"))
    val filtered = AsOf.join(left, right,
        keys = Seq("user_id" -> "c_user"), order = Seq("event_id" -> "click_id"))
      .filter(col("user_id") < 100)
    val plan = filtered.queryExecution.executedPlan.toString
    // pushed below the AsOfJoin AND into the left scan's parquet filters
    assert(plan.contains("LessThan(user_id,100)"),
      s"filter did not reach the scan:\n$plan")
    // semantics unchanged vs filtering before the join
    val direct = AsOf.join(left.filter(col("user_id") < 100), right,
        keys = Seq("user_id" -> "c_user"), order = Seq("event_id" -> "click_id"))
    assert(filtered.collect().map(_.toSeq).toSet === direct.collect().map(_.toSeq).toSet)
    // right-side predicates must NOT be pushed (they see the matched row)
    val rightFiltered = AsOf.join(left, right,
        keys = Seq("user_id" -> "c_user"), order = Seq("event_id" -> "click_id"))
      .filter(col("click_id") > 0)
    val analyzed = rightFiltered.queryExecution.optimizedPlan.toString
    assert(analyzed.trim.startsWith("Filter") || analyzed.contains("Filter (click_id"),
      s"right-side filter should stay above the join:\n$analyzed")
  }

  test("mismatched key or order types are rejected loudly, not silently wrong") {
    // int vs long keys hash differently under HashPartitioning (breaking
    // co-partitioning) and the left-typed RowOrdering would misread right
    // rows — the API must refuse instead of returning wrong rows.
    val left = Seq((1, 10L)).toDF("k", "t")                 // k: int
    val rightLongKey = Seq((1L, 5L, 1.0)).toDF("qk", "qt", "px") // qk: long
    val e1 = intercept[IllegalArgumentException] {
      AsOf.join(left, rightLongKey, keys = Seq("k" -> "qk"), order = Seq("t" -> "qt"))
    }
    assert(e1.getMessage.contains("key type mismatch"), e1.getMessage)
    val rightIntOrder = Seq((1, 5, 1.0)).toDF("qk", "qt", "px") // qt: int
    val e2 = intercept[IllegalArgumentException] {
      AsOf.join(left, rightIntOrder, keys = Seq("k" -> "qk"), order = Seq("t" -> "qt"))
    }
    assert(e2.getMessage.contains("order type mismatch"), e2.getMessage)
  }

  test("left ordering and partitioning are preserved for downstream reuse") {
    // A groupBy on the join key after the as-of join must not re-shuffle:
    // outputPartitioning passes the left child's hash partitioning through.
    val quotes = Seq(("A", 1L, 1.0)).toDF("q_sym", "q_t", "px")
    val trades = Seq(("A", 2L), ("A", 3L)).toDF("sym", "t")
    val agg = AsOf.join(trades.repartition(col("sym")), quotes,
        keys = Seq("sym" -> "q_sym"), order = Seq("t" -> "q_t"))
      .groupBy("sym").agg(count(lit(1)).as("n"))
    val exchanges = "Exchange hashpartitioning".r
      .findAllIn(agg.queryExecution.executedPlan.toString).length
    // one for each join side at most — none added for the aggregate
    assert(exchanges <= 2,
      s"aggregate after as-of join added an exchange:\n${agg.queryExecution.executedPlan}")
    assert(agg.collect().map(r => (r.getString(0), r.getLong(1))).toSet === Set(("A", 2L)))
  }

  test("AsOfJoinExec reports its output and matched rows as SQL metrics") {
    val quotes = Seq(("A", 10L, 1.0), ("A", 20L, 2.0), ("B", 15L, 9.0))
      .toDF("q_sym", "q_t", "px")
    val trades = Seq(("A", 5L), ("A", 25L), ("B", 16L), ("C", 50L))
      .toDF("sym", "t")
    val df = AsOf.join(trades, quotes,
      keys = Seq("sym" -> "q_sym"), order = Seq("t" -> "q_t"))
    assert(df.collect().length === 4)
    val exec = collect(df.queryExecution.executedPlan) {
      case j: AsOfJoinExec => j
    }
    assert(exec.size === 1, df.queryExecution.executedPlan)
    assert(exec.head.metrics("numOutputRows").value === 4L)
    assert(exec.head.metrics("numMatchedRows").value === 2L)
  }
}
