package graft.queries

import graft.SparkSpec

/** The q119 property its corpus oracle can't state: winnowing's DETECTION
  * GUARANTEE — any two docs sharing a token run of length ≥ k + w − 1
  * (= 7 here) must share at least one selected fingerprint — plus the
  * density bound (selected ≤ grams) and a negative control. */
class WinnowingSpec extends SparkSpec {
  import spark.implicits._

  private def writeDocs(): String = {
    val shared = "charlie delta echo foxtrot golf hotel india juliett" // 8 tokens
    val docs = Seq(
      (1L, s"alpha bravo $shared kilo lima", "a"),
      (2L, s"zulu yankee xray whiskey $shared", "b"),
      (3L, "one two three four five six seven eight nine ten", "c"))
      .map { case (id, tx, src) => (id, tx, "en", src, tx.length.toLong) }
    val dir = graft.Scratch.fresh("winnow")
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q119: shared >=7-token run guarantees a shared fingerprint; disjoint doc has none") {
    val dir = writeDocs()
    val out = DedupOps.queries("q119_winnowing")(spark, dir).collect()
    val byId = out.map(r => r.getLong(0) ->
      ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // Density: selection is non-empty and never exceeds the gram count.
    byId.values.foreach { case (ng, nf, _) =>
      assert(nf >= 1 && nf <= ng)
    }
    // The guarantee: docs 1 and 2 share an 8-token run (≥ k+w−1 = 7), so
    // each must count the other as a partner.
    assert(byId(1L)._3 >= 1L, "doc 1 links to doc 2")
    assert(byId(2L)._3 >= 1L, "doc 2 links to doc 1")
    // Negative control: doc 3 shares no 4-gram with anything.
    assert(byId(3L)._3 === 0L)
  }

  /** Independent brute-force reference: the DuckDB oracle restates the
    * SAME staged formula, so a symmetric off-by-one would pass the hash
    * gate — this reimplementation works from the algorithm definition
    * (k-gram token hashes, w-window rightmost-minimum, distinct selected
    * positions, partners by shared hash) in plain Scala collections. */
  private def bruteWinnow(texts: Map[Long, String]): Map[Long, (Long, Long, Long)] = {
    val P = 2147483647L
    def tokHash(t: String): Long = t.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % P)
    val fps: Map[Long, Set[(Int, Long)]] = texts.map { case (id, tx) =>
      val toks = tx.trim.split("\\s+").toSeq
      val th = toks.map(tokHash)
      val grams = (0 to toks.size - 4).map(i =>
        (i + 1, (((th(i) * 31 + th(i + 1)) * 31 + th(i + 2)) * 31 + th(i + 3)) % P))
      val sel =
        if (grams.isEmpty) Set.empty[(Int, Long)]
        else (0 until math.max(grams.size - 3, 1)).map { j =>
          grams.slice(j, j + 4).reduce { (a, x) =>
            if (x._2 < a._2 || (x._2 == a._2 && x._1 > a._1)) x else a
          }
        }.toSet
      id -> sel
    }
    texts.map { case (id, tx) =>
      val nGrams = math.max(tx.trim.split("\\s+").length - 3, 0).toLong
      val myHs = fps(id).map(_._2)
      val partners = fps.count { case (o, s) =>
        o != id && s.exists(f => myHs.contains(f._2))
      }.toLong
      id -> ((nGrams, fps(id).size.toLong, partners))
    }
  }

  test("q119 agrees with an independent brute-force reference on random corpora") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox",
      "golf", "hotel", "india", "jazz")
    val texts: Map[Long, String] = (1L to 30L).map { id =>
      val n = 1 + rnd.nextInt(30)
      id -> Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }.toMap
    val dir = graft.Scratch.fresh("winbrute")
    texts.toSeq.map { case (id, tx) => (id, tx, "en", "s", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = DedupOps.queries("q119_winnowing")(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    val want = bruteWinnow(texts)
    assert(got === want)
  }
}
