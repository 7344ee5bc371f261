package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The round-9 verdict's done-criteria for the iterative BPE trainer:
  * merge-list determinism across partitionings, agreement of the first
  * two merges with the oracled q101/q102 censuses, plus the edges the
  * corpus-wide oracle can't isolate (early stop on an exhausted
  * vocabulary, the PUA-alphabet guard, hand-computed encode lengths). */
class BpeTrainSpec extends SparkSpec {
  import spark.implicits._

  private def wf(words: (String, Long)*) =
    words.toSeq.toDF("word", "freq")

  private def writeDocs(text: String): String = {
    val dir = graft.Scratch.fresh("bpetrain")
    Seq((1L, text, "en", "s", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("merge list is identical under any partitioning") {
    val base = wf(("low", 7L), ("lower", 2L), ("newest", 6L), ("widest", 3L))
    val a = BpeOps.trainBpe(base.repartition(1), 5)
    val b = BpeOps.trainBpe(base.repartition(7, col("word")), 5)
    val c = BpeOps.trainBpe(base.orderBy(col("freq")).repartition(3), 5)
    assert(a.nonEmpty && a === b && b === c)
  }

  test("first two merges agree with the oracled q101/q102 censuses") {
    // Untied at both steps so the placeholder alphabet ('@' in q102,
    // U+E000 here) cannot flip a tie-break: words ab(2) abc(2) aab(1)
    // -> step0 pair 'ab' count 5; then (E000)c count 2 beats a(E000) 1.
    val dir = writeDocs("ab ab abc abc aab")
    val ms = BpeOps.trainBpe(TextOps.bpeWordFreq(spark, dir), 2)
    val q101Top = TextOps.queries("q101_bpe_pair_stats")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).head
    assert((ms(0).pair, ms(0).count) === q101Top)
    assert(ms(0).merged === "ab" && ms(0).count === 5L)
    val q102Top = TextOps.queries("q102_bpe_second_merge")(spark, dir)
      .collect().map(r => (r.getString(1), r.getLong(2))).head
    assert(ms(1).pair.replace('\uE000', '@') === q102Top._1)
    assert(ms(1).count === q102Top._2)
    assert(ms(1).merged === "abc", "expansion resolves the step-0 placeholder")
  }

  test("training stops when the vocabulary is fully merged") {
    val ms = BpeOps.trainBpe(wf(("aa", 3L)), 6)
    assert(ms.map(m => (m.step, m.pair, m.merged, m.count)) ===
      Seq((0, "aa", "aa", 3L)))
  }

  test("corpus words in the private-use area are rejected, clean ones pass") {
    val ex = intercept[IllegalArgumentException] {
      BpeOps.trainBpe(wf(("ok", 1L), ("bad\uE005x", 1L)), 2)
    }
    assert(ex.getMessage.contains("U+E000"), s"wrong IAE: ${ex.getMessage}")
    assert(BpeOps.trainBpe(wf(("ok", 1L), ("bad", 1L)), 2).nonEmpty)
  }

  test("encode applies merges in training order with hand-computed lengths") {
    val dir = writeDocs("ab ab abc abc aab")
    val ms = BpeOps.trainBpe(TextOps.bpeWordFreq(spark, dir), 2)
    // ab->(E000) len 1; abc->(E000)c->(E001) len 1; aab->a(E000) len 2;
    // xy untouched len 2.
    val got = Seq("ab", "abc", "aab", "xy").toDF("tok")
      .select(length(BpeOps.bpeEncodeExpr(col("tok"), ms)).as("n"))
      .collect().map(_.getInt(0)).toSeq
    assert(got === Seq(1, 1, 2, 2))
  }

  test("decode is encode's exact inverse on PUA-free input") {
    // Real corpus: every whitespace token of the sf0.001 documents table
    // must round-trip through the trained merge table (including merges
    // whose pair contains an earlier placeholder). Also the adversarial
    // vocabulary: tokens that LOOK like merge inputs but aren't, quotes,
    // backslashes, unicode.
    val ms = BpeOps.trainedMerges(spark, "/root/testdata/sf0.001")
    assert(ms.nonEmpty)
    val bad = graft.Tables(spark, "/root/testdata/sf0.001", "documents")
      .select(explode(split(trim(coalesce(col("text"), lit(""))), "\\s+")).as("tok"))
      .union(Seq("ab", "a'b\"c\\d", "café", "東京", "", "aabbab").toDF("tok"))
      .select(col("tok"),
        BpeOps.bpeDecodeExpr(BpeOps.bpeEncodeExpr(col("tok"), ms), ms).as("rt"))
      .filter(col("rt") =!= col("tok"))
      .count()
    assert(bad === 0L, "decode(encode(tok)) must equal tok for every corpus token")
    // And batched-trainer tables round-trip the same way.
    val msB = BpeOps.trainBpeBatched(
      TextOps.bpeWordFreq(spark, "/root/testdata/sf0.001"), 8, 4)
    val badB = Seq("ab", "abc", "aab", "xy", "aabbab").toDF("tok")
      .select(col("tok"),
        BpeOps.bpeDecodeExpr(BpeOps.bpeEncodeExpr(col("tok"), msB), msB).as("rt"))
      .filter(col("rt") =!= col("tok")).count()
    assert(badB === 0L)
  }
}
