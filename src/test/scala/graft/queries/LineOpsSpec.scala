package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.Row

/** Edge semantics of the line-level hygiene passes (q97/q98) that the
  * corpus-wide oracle can't isolate: per-rule drops, keep-first identity,
  * tail-line handling, the empty-document degenerate.
  */
class LineOpsSpec extends SparkSpec {
  import spark.implicits._

  private def writeDocs(rows: Seq[(Long, String)]): String = {
    val dir = graft.Scratch.fresh("lineops")
    rows.map { case (id, tx) => (id, tx, "en", "src", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  // 12 tokens whose joined length (34) is EVEN → gets terminal '.': kept.
  private val evenToks = Seq.fill(11)("aa") :+ "a"
  private val evenLine = evenToks.mkString(" ")
  // same parity (38, even → '.') but carries the blocklisted token.
  private val badToks = evenToks.updated(4, "stream")

  test("q97: per-rule line drops and the doc-level gates") {
    val dir = writeDocs(Seq(
      10L -> (evenToks ++ evenToks ++ evenToks).mkString(" "), // 3 kept → pass
      11L -> (evenToks ++ badToks ++ evenToks).mkString(" "),  // token block
      12L -> ((evenToks ++ evenToks ++ evenToks).mkString(" ") + " slow merge"),
      13L -> "aa aa aa aa"))                                   // 1 short line
    val got = LineOps.queries("q97_c4_line_filter")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3), r.getBoolean(5))).toMap

    val keptLine = evenLine + "."
    assert(got(10L) === ((3L, 3L, Seq(keptLine, keptLine, keptLine)
      .mkString("\n"), true)))
    // blocklisted-token line dropped even though punctuated; < 3 kept → fail
    val (n11, k11, t11, p11) = got(11L)
    assert((n11, k11, p11) === ((3L, 2L, false)))
    assert(!t11.contains("stream"))
    // 3 kept lines but the phrase blocklist fails the doc; the 2-word tail
    // line ("slow merge") dies on min-words
    val (n12, k12, _, p12) = got(12L)
    assert((n12, k12, p12) === ((4L, 3L, false)))
    // single 4-word tail line: min-words AND parity both drop it; empty text
    assert(got(13L) === ((1L, 0L, "", false)))
  }

  test("q98: keep-first across docs, within-doc dups, uniques untouched") {
    val A = (1 to 8).map(i => s"a$i")
    val B = (1 to 8).map(i => s"b$i")
    val C = (1 to 8).map(i => s"c$i")
    val D = (1 to 8).map(i => s"d$i")
    val dir = writeDocs(Seq(
      10L -> (A ++ B).mkString(" "),      // owns A's first occurrence
      11L -> (A ++ C).mkString(" "),      // cross-doc dup of A
      12L -> (D ++ A ++ D).mkString(" "))) // cross-doc dup + within-doc dup
    val got = LineOps.queries("q98_line_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap

    assert(got(10L) === ((2L, 0L, Seq(A, B).map(_.mkString(" ")).mkString("\n"))))
    assert(got(11L) === ((2L, 1L, C.mkString(" "))))
    // D@idx0 is D's global first (doc order), A@idx1 loses to doc 10,
    // D@idx2 loses to idx0 of the SAME doc
    assert(got(12L) === ((3L, 2L, D.mkString(" "))))
  }

  test("q98: clean_text preserves original line order, not hash order") {
    val ls = (1 to 5).map(j => (1 to 8).map(i => s"t${j}x$i").mkString(" "))
    val dir = writeDocs(Seq(20L -> ls.mkString(" ")))
    val Row(_, _, _, clean, _) =
      LineOps.queries("q98_line_dedup")(spark, dir).collect().head
    assert(clean === ls.mkString("\n"))
  }

  test("q124: within-doc keep-first removal; cross-doc dups untouched") {
    val A = (1 to 8).map(i => s"a$i")
    val B = (1 to 8).map(i => s"b$i")
    val C = (1 to 8).map(i => s"c$i")
    val dir = writeDocs(Seq(
      30L -> (A ++ B ++ A ++ A ++ C).mkString(" "), // A repeats twice in-doc
      31L -> (A ++ C).mkString(" "),                // cross-doc dup: kept
      32L -> B.mkString(" ")))
    val got = LineOps.queries("q124_para_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getString(3))).toMap
    assert(got(30L) === ((5L, 2L,
      Seq(A, B, C).map(_.mkString(" ")).mkString("\n"))))
    // unlike q98, doc 31's copy of A survives — dedup scope is the doc
    assert(got(31L) === ((2L, 0L, Seq(A, C).map(_.mkString(" ")).mkString("\n"))))
    assert(got(32L) === ((1L, 0L, B.mkString(" "))))
  }

  test("q127: window starts, overlap, and short tail") {
    val toks = (1 to 100).map(i => s"w$i")
    val dir = writeDocs(Seq(50L -> toks.mkString(" "), 51L -> "solo"))
    val got = LineOps.queries("q127_chunk_windows")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    val d50 = got.filter(_._1 == 50L)
    // starts at 0, 48, 96 — every start strictly inside the 100-token doc
    assert(d50.map(c => (c._3, c._4)).toSeq === Seq((0L, 64L), (48L, 52L), (96L, 4L)))
    // overlap: chunk 1 begins 16 tokens before chunk 0 ends
    assert(d50(0)._5.split(" ").drop(48).toSeq === d50(1)._5.split(" ").take(16).toSeq)
    assert(d50(1)._5.split(" ").head === "w49")
    // a sub-window doc yields exactly one short chunk
    assert(got.filter(_._1 == 51L).toSeq === Seq((51L, 0L, 0L, 1L, "solo")))
  }

  test("q124 is row-local: no hash-partition exchange in the executed plan") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val dir = writeDocs(Seq(40L -> (1 to 24).map(i => s"w$i").mkString(" ")))
    val df = LineOps.queries("q124_para_dedup")(spark, dir)
    df.collect()
    val hashEx = df.queryExecution.executedPlan.collect {
      case e: ShuffleExchangeExec if e.outputPartitioning.isInstanceOf[HashPartitioning] => e
    }
    // the sole exchange allowed is the output ORDER BY's range partition
    assert(hashEx.isEmpty, s"unexpected hash exchange:\n${df.queryExecution.executedPlan}")
  }
}
