package graft.queries

import graft.SparkSpec

/** q112 semantics the corpus-wide oracle can't isolate (the synthetic
  * corpus has no cross-split exact duplicates): verdict precedence on a
  * hand-built fixture — an exact dup under whitespace/case normalization,
  * a verified near dup with a known Jaccard, a novel doc, and a
  * too-short-to-shingle doc that can only travel the exact path. */
class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  /** doc_id % 5 = 0 is the "new batch"; the rest the indexed corpus.
    *  - 5 normalizes (lower, \s+ → ' ') to exactly doc 1's text → exact;
    *  - 10 is doc 2 plus one trailing token: 10 shared 3-shingles of an
    *    11-shingle union → J = 10/11 → near;
    *  - 15 shares nothing → novel;
    *  - 20 has two tokens: no shingles, no minhash — exact path only. */
  private def writeDocs(): String = {
    val d2 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, d2),
      (3L, "some other base document text with several tokens present"),
      (5L, "  The  QUICK brown fox jumps over the lazy dog  "),
      (10L, d2 + " nu"),
      (15L, "entirely different words regarding catalyst planner and tungsten codegen layers"),
      (20L, "just two"))
      .map { case (id, tx) => (id, tx, "en", "a", tx.length.toLong) }
    val dir = graft.Scratch.fresh("incdedup")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q112: exact beats near, near verifies at the exact Jaccard, short docs stay exact-only") {
    val dir = writeDocs()
    val out = DedupOps.queries("q112_incremental_dedup")(spark, dir).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(5L, 10L, 15L, 20L),
      "output is exactly the batch, ordered")
    val byDoc = out.map(r => r.getLong(0) ->
      (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2),
        if (r.isNullAt(3)) -1.0 else r.getDouble(3))).toMap
    assert(byDoc(5L)._1 === "exact" && byDoc(5L)._2 === 1L,
      "normalized-identical doc matches its base original")
    assert(byDoc(10L)._1 === "near" && byDoc(10L)._2 === 2L)
    assert(byDoc(10L)._3 === 10.0 / 11.0, "verified exact shingle Jaccard")
    assert(byDoc(15L) === (("novel", -1L, -1.0)))
    assert(byDoc(20L) === (("novel", -1L, -1.0)),
      "sub-shingle-length doc can only match exactly")
  }
}
