package graft.queries

import graft.SparkSpec

/** Deterministic fixtures for the BPE family (q101/q102) and the corpus
  * card (q103) — pinning edges the corpus-wide oracle can't isolate:
  * the fully-merged 2-char word in iteration 2 (where an unguarded
  * Spark `sequence(1, 0)` is DESCENDING, not empty, and would fabricate
  * pairs) and exact hand-computable card numbers.
  */
class BpeCardSpec extends SparkSpec {
  import spark.implicits._

  private def writeDocs(rows: Seq[(Long, String, String)]): String = {
    val dir = graft.Scratch.fresh("bpecard")
    rows.map { case (id, tx, src) => (id, tx, "en", src, tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q101: pair counts are word-frequency weighted with deterministic ties") {
    // words: ab(×2), abc(×1) → pairs: ab = 2+1 = 3, bc = 1
    val dir = writeDocs(Seq((1L, "ab ab abc", "s")))
    val got = TextOps.queries("q101_bpe_pair_stats")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).toList
    assert(got === List(("ab", 3L), ("bc", 1L)))
  }

  test("q102: the winning merge applies greedily and fully-merged words vanish") {
    // winner is "ab" (count 4: 2 from "ab"×2, 1 from "abc", 1 from "aab").
    // Merged vocabulary: "ab"→"@" (LENGTH 1 — must contribute NO pairs),
    // "abc"→"@c", "aab"→"a@" (greedy leftmost merge consumes a[ab],
    // not [aa]b... replace finds "ab" at pos 2).
    val dir = writeDocs(Seq((1L, "ab ab abc aab", "s")))
    val top = TextOps.queries("q101_bpe_pair_stats")(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1))).head
    assert(top === ("ab", 4L), "q101 winner on this fixture is ab with count 4")
    val got = TextOps.queries("q102_bpe_second_merge")(spark, dir)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2))).toList
    assert(got.forall(_._1 == "ab"), s"merged_pair must be the q101 winner: $got")
    assert(got.map(t => (t._2, t._3)).sorted ===
      List(("@c", 1L), ("a@", 1L)),
      "fully-merged '@' must contribute zero pairs; merged symbols pair as 1 char")
  }

  test("q103: card numbers are exact on a hand-computed corpus") {
    // docs: "x y x" (3 tokens, 5 chars, srcA), "y z" (2 tokens, 3 chars, srcA),
    //       "w" (1 token, 1 char, srcB)
    val dir = writeDocs(Seq(
      (1L, "x y x", "srcA"), (2L, "y z", "srcA"), (3L, "w", "srcB")))
    val r = TextOps.queries("q103_corpus_card")(spark, dir).collect().head
    val m = r.schema.fieldNames.zip(r.toSeq).toMap
    assert(m("n_docs") === 3L)
    assert(m("n_sources") === 2L)
    assert(m("total_tokens") === 6L)
    assert(m("total_chars") === 9L)
    assert(m("vocab_size") === 4L) // x y z w
    assert(m("type_token_ratio") === 4.0 / 6.0)
    assert(m("mean_doc_tokens") === 2.0)
    assert(m("p50_doc_tokens") === 2.0) // sorted lengths 1,2,3
    assert(m("top_source_share") === 2.0 / 3.0)
  }
}
