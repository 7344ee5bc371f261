package graft.queries

import graft.SparkSpec

/** The q113 properties its corpus oracle can't isolate: that the argmax
  * actually tracks class-distinctive vocabulary on a fixture with a known
  * answer, that the all-unseen-token path scores by prior + smoothing
  * mass alone (the `Σ ln(c+1) − n·ln(N_c+V)` split — an all-unseen doc
  * must land on the class with the SMALLER smoothed denominator when
  * priors tie), and that scores are partitioning-invariant. */
class NbClassifierSpec extends SparkSpec {
  import spark.implicits._

  /** doc_id % 5 == 0 rows are the held-out test fifth. Class "a" speaks
    * fruit (12 train tokens), class "b" speaks Spark (21 train tokens) —
    * equal doc priors (3 each), unequal token mass. */
  private def writeDocs(): String = {
    val docs = Seq(
      (1L, "apple banana fruit apple", "a"),
      (2L, "banana fruit apple banana", "a"),
      (3L, "fruit apple banana fruit", "a"),
      (4L, "spark shuffle join spark wide plan", "b"),
      (6L, "shuffle join spark plan wide shuffle", "b"),
      (7L, "join plan wide spark shuffle join extra words here", "b"),
      (5L, "apple banana fruit", "a"),
      (10L, "spark shuffle join plan", "b"),
      (15L, "zz qq ww", "a"))
      .map { case (id, tx, src) => (id, tx, "en", src, tx.length.toLong) }
    val dir = graft.Scratch.fresh("nbspec")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q113: distinctive vocabulary wins; all-unseen doc falls to the smaller smoothed mass") {
    val dir = writeDocs()
    val out = LmOps.queries("q113_nb_classifier")(spark, dir).collect()
    assert(out.map(_.getLong(0)).toSeq === Seq(5L, 10L, 15L), "exactly the held-out fifth, once each")
    val byDoc = out.map(r => r.getLong(0) ->
      ((r.getString(1), r.getString(2), r.getBoolean(4)))).toMap
    assert(byDoc(5L) === (("a", "a", true)), "fruit doc -> class a")
    assert(byDoc(10L) === (("b", "b", true)), "spark doc -> class b")
    // All three tokens of doc 15 are unseen in training: every per-token
    // match contributes ln(0+1)=0, so the score is prior − n·ln(N_c+V).
    // Priors tie (3 docs each); N_a+V = 12+11 < N_b+V = 21+11 -> "a".
    assert(byDoc(15L) === (("a", "a", true)), "unseen-vocab doc -> smaller smoothed denominator")
  }

  test("q113: scores identical under a different shuffle partition count") {
    val dir = writeDocs()
    val run1 = LmOps.queries("q113_nb_classifier")(spark, dir).collect().toSeq
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val run2 = LmOps.queries("q113_nb_classifier")(spark, dir).collect().toSeq
      assert(run1.map(_.toSeq) === run2.map(_.toSeq))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
