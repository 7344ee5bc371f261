package graft.queries

import graft.SparkSpec

/** q122 checks beyond the corpus oracle (which shares the staged formula):
  * an independent brute-force reference that ENUMERATES every segmentation
  * of every word and maximizes (score, −pieces) with plain Math.log — the
  * DP must agree on the argmax path exactly and on the score to ~ulp
  * (PortableLn vs libm) — plus partitioning invariance. */
class UnigramSpec extends SparkSpec {
  import spark.implicits._

  private def writeDocs(texts: Seq[String]): String = {
    val docs = texts.zipWithIndex.map { case (tx, i) =>
      (i.toLong, tx, "en", "s", tx.length.toLong)
    }
    val dir = graft.Scratch.fresh("unigram")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** All segmentations into pieces of length ≤ 4. */
  private def segmentations(w: String): Seq[Seq[String]] =
    if (w.isEmpty) Seq(Seq.empty)
    else (1 to math.min(4, w.length)).flatMap { l =>
      segmentations(w.drop(l)).map(w.take(l) +: _)
    }

  private def brute(texts: Seq[String]): Map[String, (Double, Int)] = {
    val wf = texts.flatMap(_.trim.split("\\s+")).filter(w => w.length >= 2 && w.length <= 12)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val counts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    wf.foreach { case (w, f) =>
      for (j <- 0 until w.length; l <- 1 to math.min(4, w.length - j))
        counts(w.substring(j, j + l)) += f
    }
    val tot = counts.values.sum
    def lnp(p: String) = math.log(counts(p).toDouble) - math.log(tot.toDouble)
    wf.keys.map { w =>
      val best = segmentations(w)
        .map(seg => (seg.map(lnp).sum, -seg.size))
        .max // lexicographic: best score, then fewest pieces
      w -> ((best._1, -best._2))
    }.toMap
  }

  test("q122 agrees with exhaustive segmentation search on a mixed corpus") {
    val texts = Seq(
      "abab abab abab cd cd efg",
      "ababab xyzw xyzw ab ab ab",
      "abcd dcba abcd longwordhere")
    val dir = writeDocs(texts)
    val got = BpeOps.queries("q122_unigram_viterbi")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getDouble(2), r.getInt(3)))).toMap
    val want = brute(texts)
    assert(got.keySet === want.keySet)
    got.foreach { case (w, (score, np)) =>
      val (ws, wnp) = want(w)
      assert(np === wnp, s"piece count for '$w' (got $np, brute $wnp)")
      assert(math.abs(score - ws) < 1e-10, s"score for '$w' (got $score, brute $ws)")
    }
  }

  /** Brute-force M-step reference: best segmentation by
    * (score, −pieces, path) — the path tie-break q129 pins — then
    * frequency-weighted piece recount. */
  private def bruteEm(texts: Seq[String]): Map[String, Long] = {
    val wf = texts.flatMap(_.trim.split("\\s+")).filter(w => w.length >= 2 && w.length <= 12)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val counts = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    wf.foreach { case (w, f) =>
      for (j <- 0 until w.length; l <- 1 to math.min(4, w.length - j))
        counts(w.substring(j, j + l)) += f
    }
    val tot = counts.values.sum
    def lnp(p: String) = math.log(counts(p).toDouble) - math.log(tot.toDouble)
    implicit val seqOrd: Ordering[Seq[String]] = Ordering.Implicits.seqOrdering
    val em = scala.collection.mutable.Map.empty[String, Long].withDefaultValue(0L)
    wf.foreach { case (w, f) =>
      val best = segmentations(w)
        .map(seg => (seg.map(lnp).sum, -seg.size, seg))
        .max(Ordering.Tuple3(Ordering.Double.TotalOrdering, Ordering.Int, seqOrd))
      best._3.foreach(p => em(p) += f)
    }
    em.toMap
  }

  test("q129 EM recount matches brute force; totals reconcile with q122; pruning exact") {
    val texts = Seq(
      "abab abab abab cd cd efg",
      "ababab xyzw xyzw ab ab ab",
      "abcd dcba abcd longwordhere")
    val dir = writeDocs(texts)
    val got = BpeOps.queries("q129_unigram_em")(spark, dir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.isNullAt(4), r.getBoolean(5))).toMap
    val em = bruteEm(texts)
    // every seed piece appears exactly once; EM counts match brute force
    got.foreach { case (p, (_, cntEm, lnpNewNull, pruned)) =>
      assert(cntEm === em.getOrElse(p, 0L), s"EM count for '$p'")
      assert(pruned === !em.contains(p), s"pruned flag for '$p'")
      assert(lnpNewNull === pruned, s"lnp_new NULL iff pruned for '$p'")
    }
    assert(em.keySet.subsetOf(got.keySet))
    // Σ_p cnt_em = Σ_w freq·n_pieces(q122): the piece mass balances the
    // E-step's chosen segmentation lengths.
    val viterbi = BpeOps.queries("q122_unigram_viterbi")(spark, dir).collect()
      .map(r => r.getLong(1) * r.getInt(3)).sum
    assert(got.values.map(_._2).sum === viterbi)
  }

  test("q122 identical under a different shuffle partition count") {
    val dir = writeDocs(Seq("spark shuffle join spark", "join plan wide spark"))
    val run1 = BpeOps.queries("q122_unigram_viterbi")(spark, dir).collect().toSeq
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val run2 = BpeOps.queries("q122_unigram_viterbi")(spark, dir).collect().toSeq
      assert(run1.map(_.toSeq) === run2.map(_.toSeq))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
