package graft.queries

import graft.SparkSpec

/** Hand-computed fixtures for the curation planners (q171-q174): the
  * corpus-wide oracle proves engine parity; these pin the ALGORITHMS to
  * known-by-hand answers — the waterfill's floor redistribution, the
  * truncation ledger, the sweep's threshold boundary, and the per-line
  * language profile's tie/adjacency rules.
  */
class CurationOpsSpec extends SparkSpec {
  import spark.implicits._

  private def writeDocs(rows: Seq[(Long, String, String)]): String = {
    val dir = graft.Scratch.fresh("curation")
    rows.map { case (id, tx, src) => (id, tx, "en", src, tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }
  private def toks(n: Int): String = (1 to n).map(i => s"t$i").mkString(" ")

  test("q171: waterfill caps small sources and splits the rest with integer floors") {
    // caps a=10, b=100, c=40 → supplies (E=4): a=40, b=400, c=160;
    // B = 2·150 = 300. Ascending fold: a gets min(40, 300/3)=40 (full 4
    // epochs); c gets min(160, 260/2)=130; b gets min(400, 130/1)=130.
    val dir = writeDocs(Seq(
      (1L, toks(10), "a"), (2L, toks(60), "b"), (3L, toks(40), "b"), (4L, toks(40), "c")))
    val got = CurationOps.queries("q171_unimax_alloc")(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    assert(got("a") === ((10L, 40L, 40L)))
    assert(got("b") === ((100L, 400L, 130L)))
    assert(got("c") === ((40L, 160L, 130L)))
    val epochsA = CurationOps.queries("q171_unimax_alloc")(spark, dir)
      .filter("source = 'a'").select("epochs_used").as[Double].head()
    assert(epochsA === 4.0)
  }

  test("q171: leftover-budget floors redistribute to later sources") {
    // caps 5/5/5 → supplies 20 each, B=30: share 10 < 20 for all three —
    // alloc 10, then (30-10)/2 = 10, then 10 — exact division here, so
    // also check a non-divisible budget via caps 4/4/4: B=24, supplies 16;
    // 24/3=8, 16/2=8, 8/1=8.
    val dir = writeDocs(Seq(
      (1L, toks(4), "x"), (2L, toks(4), "y"), (3L, toks(4), "z")))
    val got = CurationOps.queries("q171_unimax_alloc")(spark, dir)
      .collect().map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(got === Map("x" -> 8L, "y" -> 8L, "z" -> 8L))
  }

  test("q172: truncation ledger at each context length") {
    val dir = writeDocs(Seq((1L, toks(100), "s"), (2L, toks(600), "s")))
    val got = CurationOps.queries("q172_truncation_waste")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(got(128L) === ((2L, 1L, 700L, 472L)))
    assert(got(512L) === ((2L, 1L, 700L, 88L)))
    assert(got(2048L) === ((2L, 0L, 700L, 0L)))
  }

  test("q173: a J=0.6 pair fires thresholds 0.5/0.6 and not 0.7+") {
    // 3-shingle sets: A={abc,bcd,cde,def}, B={abc,bcd,cde,dex} →
    // inter 3, union 5, J = 0.6. Victim is doc_b = 2.
    val dir = writeDocs(Seq(
      (1L, "a b c d e f", "s"), (2L, "a b c d e x", "s")))
    val got = CurationOps.queries("q173_dedup_sweep")(spark, dir)
      .collect().map(r => r.getDouble(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(0.5) === ((1L, 1L, 6L)))
    assert(got(0.6) === ((1L, 1L, 6L)))
    assert(got(0.7) === ((0L, 0L, 0L)))
    assert(got(0.9) === ((0L, 0L, 0L)))
  }

  test("q174: per-line language profile, switches, and the en-first tie") {
    val en8 = "the cat is on a mat and of"
    val fr8 = "le chat est une chose et la les"
    val dir = writeDocs(Seq(
      (1L, s"$en8 $fr8", "s"),       // [en, fr]: tie → dom en, 1 switch, mixed
      (2L, "x y z", "s"),            // [unknown]: no switch, not mixed
      (3L, s"$en8 $en8 $fr8", "s"))) // [en, en, fr]: dom en 2/3, 1 switch
    val got = CurationOps.queries("q174_code_switch")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getString(6), r.getDouble(7), r.getLong(8), r.getBoolean(9))))
      .toMap
    assert(got(1L) === ((2L, "en", 0.5, 1L, true)))
    assert(got(2L) === ((1L, "unknown", 1.0, 0L, false)))
    assert(got(3L) === ((3L, "en", 2.0 / 3.0, 1L, true)))
  }

  test("q175: NFC folds decomposed and precomposed text into one dup group") {
    val dir = writeDocs(Seq(
      (1L, "café terrace", "s"),  // decomposed e + U+0301
      (2L, "café terrace", "s"),   // precomposed é
      (3L, "plain ascii", "s")))
    val got = CurationOps.queries("q175_nfc_dedup")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getBoolean(3), r.getBoolean(4)))).toMap
    assert(got(1L) === ((1L, 2L, false, true)))  // canonical, renormalized
    assert(got(2L) === ((1L, 2L, true, false)))  // dup of 1, already NFC
    assert(got(3L) === ((3L, 1L, false, false)))
  }

  test("graft_nfc: idempotent, null-safe, ascii identity") {
    val df = Seq(("a", "café"), ("b", "café"), ("c", "ascii"), ("d", null))
      .toDF("k", "v")
      .selectExpr("k", "graft_nfc(v) AS n")
    val got = df.collect().map(r => r.getString(0) -> Option(r.getString(1))).toMap
    assert(got("a") === Some("café"))
    assert(got("b") === Some("café"))
    assert(got("c") === Some("ascii"))
    assert(got("d") === None)
  }

  test("q176: source-frequent lines are struck from every doc") {
    // One 8-token boilerplate line shared by 3 of 5 docs in source s
    // (df=3 >= 3 and 3*20 >= 5): struck everywhere. A line shared by
    // only 2 docs stays.
    val boiler = "c1 c2 c3 c4 c5 c6 c7 c8"
    val pair = "p1 p2 p3 p4 p5 p6 p7 p8"
    val dir = writeDocs(Seq(
      (1L, s"$boiler u1 u2 u3 u4 u5 u6 u7 u8", "s"),
      (2L, s"$boiler v1 v2 v3 v4 v5 v6 v7 v8", "s"),
      (3L, s"$boiler $pair", "s"),
      (4L, pair, "s"),
      (5L, "w1 w2 w3 w4 w5 w6 w7 w8", "s")))
    val got = CurationOps.queries("q176_boilerplate_lines")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(4)))).toMap
    assert(got(1L)._1 === 2L); assert(got(1L)._2 === 1L)
    assert(!got(1L)._3.contains("c1") && got(1L)._3.contains("u1"))
    assert(got(3L) === ((2L, 1L, pair)))   // boiler struck, pair line kept
    assert(got(4L) === ((1L, 0L, pair)))
    assert(got(5L)._2 === 0L)
  }

  test("q177: round-robin shards are per-source balanced within one doc") {
    // 20 docs, 2 sources × 10 → S = shardsFor(20) = 4; every source's
    // per-shard counts must differ by at most 1 and sum to 10.
    val dir = writeDocs((1L to 20L).map(i =>
      (i, s"doc $i tokens here", if (i <= 10) "a" else "b")))
    assert(CurationOps.shardsFor(20) === 4)
    val rows = CurationOps.queries("q177_interleaved_shards")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    for (src <- Seq("a", "b")) {
      val counts = rows.filter(_._2 == src).map(_._3)
      assert(counts.sum === 10L)
      assert(counts.max - counts.min <= 1L)
    }
  }

  test("q178: seed cells are tight around their own centroid") {
    val dim = 4
    // 16 seed directions (unit-ish axes + mixtures) + 8 followers near
    // seed (id % 4): followers must land in a cell with positive margin.
    val vecs = (0 until 24).map { i =>
      val base = Array.fill(dim)(0.05f * ((i * 7 + 3) % 5))
      base(i % dim) = 1.0f + 0.01f * i
      (i.toLong, base.toSeq, i % 3)
    }
    val dir = graft.Scratch.fresh("clusterq")
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val rows = CurationOps.queries("q178_cluster_quality")(spark, dir).collect()
    assert(rows.map(_.getLong(1)).sum === 24L)
    rows.foreach { r =>
      val (meanCos, minCos, meanMargin) = (r.getDouble(2), r.getDouble(3), r.getDouble(4))
      assert(meanCos >= minCos - 1e-12)
      assert(meanMargin >= 0.0)
      assert(meanCos <= 1.0 + 1e-12)
    }
  }

  test("q179: importance is the score delta and selection is the top quartile") {
    val df = CurationOps.queries("q179_importance_ratio")(spark, "/root/testdata/sf0.001")
      .collect()
    assert(df.nonEmpty)
    df.foreach { r =>
      val (raw, tgt, imp, p75, sel) =
        (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getBoolean(6))
      assert(imp === tgt - raw)
      assert(sel === (imp >= p75))
    }
    // exact interpolated p75 → at least a quarter selected (ties only add)
    val selN = df.count(_.getBoolean(6))
    assert(selN * 4 >= df.length)
  }

  test("q180: every cell respects the fair-share quota and ranks are dense") {
    val rows = CurationOps.queries("q180_cell_quota_sample")(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))
    val n = rows.length.toLong
    val quota = rows.head._4
    assert(rows.count(_._5).toLong <= quota * rows.map(_._2).distinct.length)
    rows.groupBy(_._2).foreach { case (_, cell) =>
      val rnks = cell.map(_._3).sorted
      assert(rnks === (1L to cell.length.toLong))       // dense per-cell ranks
      assert(cell.count(_._5).toLong === math.min(quota, cell.length.toLong))
    }
    assert(rows.map(_._3).max <= n)
  }

  test("q181: first-match priority classification and per-source shares") {
    // doc_id % 7 ∈ {0..6} → apache, mit, gpl, cc-by, unknown ×3
    val dir = writeDocs((0L to 6L).map(i => (i, "plain body text", "s")))
    val got = CurationOps.queries("q181_license_mix")(spark, dir)
      .collect().map(r => r.getString(1) -> ((r.getLong(2), r.getDouble(3), r.getBoolean(4))))
      .toMap
    assert(got("apache-2.0") === ((1L, 1.0 / 7.0, true)))
    assert(got("mit") === ((1L, 1.0 / 7.0, true)))
    assert(got("gpl") === ((1L, 1.0 / 7.0, false)))
    assert(got("cc-by") === ((1L, 1.0 / 7.0, true)))
    assert(got("unknown") === ((3L, 3.0 / 7.0, false)))
  }

  test("q182: tokens under the count floor are OOV; vocab sizes attach") {
    // "a" appears 6x (kept, MinCount=5), "b" 4x (pruned), "c" 1x (pruned)
    val dir = writeDocs(Seq(
      (1L, "a a a b b c", "s"),
      (2L, "a a a b b", "s")))
    val got = CurationOps.queries("q182_vocab_prune")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(4), r.getLong(5)))).toMap
    assert(got(1L) === ((6L, 3L, 3L, 1L)))  // b,b,c OOV; vocab 3, kept 1
    assert(got(2L) === ((5L, 2L, 3L, 1L)))
  }

  test("q183: histogram over q42 clusters counts singletons and pairs") {
    val dir = writeDocs(Seq(
      (1L, "a b c d e f", "s"), (2L, "a b c d e x", "s"),  // J=0.6 cluster
      (3L, "totally different words here now", "s")))
    val got = CurationOps.queries("q183_cluster_size_hist")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(2L) === ((1L, 2L, 1L)))   // one 2-cluster, removes 1 doc
    assert(got(1L)._1 === 1L)            // doc 3 is a singleton cluster
    assert(got(1L)._3 === 0L)
  }

  test("q184: engine Otsu threshold matches a plain-Scala recomputation") {
    val sf = "/root/testdata/sf0.001"
    val row = CurationOps.queries("q184_otsu_threshold")(spark, sf).collect().head
    val (n, lo, hi, bestK, threshold, betweenVar) =
      (row.getLong(0), row.getDouble(1), row.getDouble(2), row.getInt(3),
        row.getDouble(4), row.getDouble(5))
    val scores = LmOps.lmScores(spark, sf).select("avg_logprob")
      .collect().map(_.getDouble(0))
    assert(n === scores.length.toLong)
    assert(lo === scores.min); assert(hi === scores.max)
    val cnts = Array.fill(32)(0L)
    scores.foreach { x =>
      val b = if (hi > lo) math.min(31, math.floor((x - lo) / (hi - lo) * 32.0).toInt) else 0
      cnts(b) += 1
    }
    val mids = Array.tabulate(32)(i => lo + (hi - lo) * ((i + 0.5) / 32.0))
    val wtotal = (0 until 32).map(i => cnts(i).toDouble * mids(i)).sum
    val cands = (1 to 31).map { k =>
      val w0 = (0 until k).map(cnts).sum
      val s0 = (0 until k).map(i => cnts(i).toDouble * mids(i)).sum
      val v = if (w0 > 0 && w0 < n) {
        val d = s0 / w0 - (wtotal - s0) / (n - w0)
        (w0.toDouble / n) * ((n - w0).toDouble / n) * d * d
      } else -1.0
      (v, k)
    }
    val (bv, bk) = cands.maxBy { case (v, k) => (v, -k) }
    assert(bestK === bk)
    assert(math.abs(betweenVar - bv) < 1e-12)
    assert(threshold === lo + (hi - lo) * (bk.toDouble / 32.0))
    assert(threshold >= lo && threshold <= hi)
  }

  private def h60Mod16IsZero(tok: String): Boolean = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(tok.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    java.lang.Long.parseLong(h.substring(0, 15), 16) % 16 == 0
  }

  test("q186: chunk count matches a Scala CDC reference; prefix insertion preserves later chunks") {
    val toks = (1 to 64).map(i => s"w$i")
    val dirA = writeDocs(Seq(
      (1L, toks.mkString(" "), "s"),
      (2L, ("zzz" +: toks).mkString(" "), "s")))   // one-token prefix shift
    val got = CurationOps.queries("q186_cdc_chunking")(spark, dirA)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // reference: chunk count = boundaries-before-last + 1
    def nChunks(ts: Seq[String]): Long =
      1L + ts.dropRight(1).count(h60Mod16IsZero)
    assert(got(1L)._1 === nChunks(toks))
    assert(got(2L)._1 === nChunks("zzz" +: toks))
    // content-defined property: if any boundary exists in the shared
    // suffix, the chunks after it are identical across the two docs
    if (toks.exists(h60Mod16IsZero)) {
      assert(got(1L)._2 > 0L)
      assert(got(2L)._2 > 0L)
    }
  }

  test("q186: intra-document chunk repeats are NOT counted as shared") {
    // find a token that closes a chunk, build a doc repeating the same
    // chunk twice: both chunks identical, but only ONE doc holds them
    val b = (1 to 500).map(i => s"w$i").find(h60Mod16IsZero).get
    val filler = (1 to 7).map(i => s"f$i")
    val doc = (filler :+ b) ++ (filler :+ b)
    val dir = writeDocs(Seq((1L, doc.mkString(" "), "s")))
    val r = CurationOps.queries("q186_cdc_chunking")(spark, dir).collect().head
    assert(r.getLong(1) >= 2L)      // the repeated chunk appears twice
    assert(r.getLong(2) === 0L)     // but nothing is cross-document shared
  }

  test("q187: degree histogram includes the degree-0 corpus mass") {
    val dir = writeDocs(Seq(
      (1L, "a b c d e f", "s"), (2L, "a b c d e x", "s"),  // one J=0.6 edge
      (3L, "totally different words here now", "s")))
    val got = CurationOps.queries("q187_dup_graph_degree")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === Map(0L -> 1L, 1L -> 2L))
  }

  test("q188: entropy is 0 for degenerate text, ln 2 for a two-char alternation") {
    val dir = writeDocs(Seq(
      (1L, "aaaaaaaa", "s"),
      (2L, "abababab", "s"),
      (3L, "", "s")))
    val got = CurationOps.queries("q188_char_entropy")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(got(1L)._1 === 8L)
    assert(math.abs(got(1L)._3) < 1e-12); assert(got(1L)._4)
    assert(got(2L)._2 === 2L)
    assert(math.abs(got(2L)._3 - math.log(2.0)) < 1e-9)
    assert(got(3L) === ((0L, 0L, 0.0, true)))   // empty doc surfaces, H = 0
  }

  test("q189: engine span corruption matches a Scala sequential reference") {
    val dir = writeDocs((1L to 8L).map(i =>
      (i, (1 to 40).map(j => s"t${i}_$j").mkString(" "), "s")))
    def h(doc: Long, p: Int): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$doc|$p".getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    def ref(doc: Long, toks: Seq[String]): (Long, Long, String, String) = {
      var (rem, k, masked) = (0L, 0L, 0L)
      val out = new StringBuilder; val tgt = new StringBuilder
      toks.zipWithIndex.foreach { case (t, p) =>
        val hv = h(doc, p)
        if (rem > 0) { tgt.append(" ").append(t); rem -= 1; masked += 1 }
        else if (hv % 20 == 0) {
          out.append(s" <extra_id_$k>"); tgt.append(s" <extra_id_$k> ").append(t)
          rem = hv % 3 + 1; k += 1; masked += 1
        } else out.append(" ").append(t)
      }
      (masked, k, out.toString.trim, tgt.toString.trim)
    }
    val got = CurationOps.queries("q189_span_corruption")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))).toMap
    (1L to 8L).foreach { i =>
      val toks = (1 to 40).map(j => s"t${i}_$j")
      assert(got(i) === ref(i, toks), s"doc $i")
    }
  }

  test("q190: bucket stats conserve the distinct-gram census") {
    val dir = writeDocs(Seq(
      (1L, "a b c a b", "s"), (2L, "c d", "s")))
    // distinct grams: unigrams {a,b,c,d} + bigrams {"a b","b c","c a","c d"} = 8
    val rows = CurationOps.queries("q190_bucket_collisions")(spark, dir).collect()
    assert(rows.map(_.getLong(1)).sum === 8L)
    // occurrences: 7 unigram tokens + 4+1 bigrams = 12
    assert(rows.map(_.getLong(2)).sum === 12L)
    rows.foreach(r => assert(r.getLong(0) >= 0L && r.getLong(0) < 1024L))
  }

  test("q191: per-source quantiles on a hand-computed distribution") {
    val dir = writeDocs(Seq(
      (1L, toks(10), "s"), (2L, toks(20), "s"), (3L, toks(30), "s"),
      (4L, toks(40), "s"), (5L, toks(50), "s")))
    val r = CurationOps.queries("q191_source_length_quantiles")(spark, dir)
      .collect().head
    assert(r.getLong(1) === 5L)          // n_docs
    assert(r.getLong(2) === 150L)        // total tokens
    assert(r.getDouble(3) === 30.0)      // mean
    assert(r.getDouble(5) === 30.0)      // p50 exact middle
    // p10 of [10,20,30,40,50]: interpolated at rank 0.4 → 14.0
    assert(r.getDouble(4) === 14.0)
    assert(r.getDouble(6) === 46.0)      // p90 → 46.0
  }

  test("q192: BPE merge-table agreement across language subsets") {
    val dir = graft.Scratch.fresh("bpexfer")
    Seq((1L, "ab ab ab", "en", "s"), (2L, "ab cd", "fr", "s"))
      .map { case (id, tx, lg, src) => (id, tx, lg, src, tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // en learns [ab]; fr learns [ab, cd] → common 1, union 2, same-rank 1
    val r = BpeOps.queries("q192_tokenizer_transfer")(spark, dir).collect().head
    assert(r.getLong(1) === 1L)          // n_merges_a
    assert(r.getLong(2) === 2L)          // n_merges_b
    assert(r.getLong(3) === 1L)          // n_common
    assert(r.getDouble(4) === 0.5)       // jaccard
    assert(r.getLong(5) === 1L)          // same merge at same rank
  }

  test("q193: cost model restates the corpus stats exactly") {
    val dir = writeDocs(Seq((1L, toks(10), "s"), (2L, toks(20), "s")))
    val got = CurationOps.queries("q193_dedup_cost_model")(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(4))))
      .toMap
    assert(got("exact_doc_md5") === ((2L, 32L, 1L)))
    assert(got("line_dedup_md5") === ((5L, 32L, 1L)))      // ceil(10/8)+ceil(20/8)
    assert(got("minhash_lsh_bands") === ((8L, 40L, 1L)))   // 2 docs × 4 bands
    assert(got("substring_gram_xxh64") === ((16L, 8L, 2L))) // 3 + 13 grams
  }

  test("q194: damped weights follow count^0.75 and probabilities normalize") {
    val dir = writeDocs(Seq((1L, "a a a a a a a a b b b c", "s")))
    val rows = CurationOps.queries("q194_negative_sampling")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getDouble(3), r.getDouble(4)))
    assert(rows.map(_._2).toSeq === Seq("a", "b", "c"))    // rank by cnt desc
    rows.foreach { case (_, _, cnt, w, _) =>
      assert(math.abs(w - math.pow(cnt.toDouble, 0.75)) < 1e-9) }
    assert(math.abs(rows.map(_._5).sum - 1.0) < 1e-12)
  }

  test("q195: periods, runs, and the single-token degenerate") {
    val dir = writeDocs(Seq(
      (1L, "a b a b a b a b", "s"),             // period 2, run 1
      (2L, "x x x x x x x x x", "s"),           // period 1, run 9
      (3L, "a b c d e f g h i", "s"),           // aperiodic, run 1
      (4L, "solo", "s"),                        // n=1: no period
      (5L, "a a a b a a a b", "s")))            // period 4, run 3
    val got = CurationOps.queries("q195_repetition_loops")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getBoolean(4)))).toMap
    assert(got(1L) === ((8L, 2L, 1L, true)))
    assert(got(2L) === ((9L, 1L, 9L, true)))
    assert(got(3L) === ((9L, 0L, 1L, false)))
    assert(got(4L) === ((1L, 0L, 1L, false)))
    assert(got(5L) === ((8L, 4L, 3L, true)))
  }

  test("q196: near-dup cluster members share a fold; zero cross-fold edges") {
    val dir = writeDocs(Seq(
      (1L, "a b c d e f", "s"), (2L, "a b c d e x", "s"),  // one J=0.6 edge
      (3L, "totally different words here now", "s"),
      (4L, "another unrelated document text body", "s")))
    val rows = CurationOps.queries("q196_dedup_aware_folds")(spark, dir).collect()
    assert(rows.map(_.getLong(1)).sum === 4L)              // all docs assigned
    rows.foreach(r => assert(r.getLong(3) === 0L))         // proof column
    // docs 1 and 2 share cluster → same fold: clusters counted once
    assert(rows.map(_.getLong(2)).sum === 3L)              // 3 distinct clusters
  }

  test("q197: z-score matches hand arithmetic; short docs are null-safe") {
    val dir = writeDocs(Seq((1L, "a b c d e", "s"), (2L, "solo", "s")))
    def green(a: String, b: String): Boolean = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$a|$b".getBytes("UTF-8")).map(x => f"$x%02x").mkString
      java.lang.Long.parseLong(h.substring(0, 15), 16) % 2 == 0
    }
    val toks = Seq("a", "b", "c", "d", "e")
    val g = toks.sliding(2).count(p => green(p(0), p(1))).toLong
    val got = CurationOps.queries("q197_watermark_detect")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(4)))).toMap
    assert(got(1L)._1 === 4L)
    assert(got(1L)._2 === g)
    assert(got(1L)._3 === (2 * g - 4).toDouble / math.sqrt(4.0))
    assert(got(2L) === ((0L, 0L, 0.0)))
  }

  test("q198: min/max trick recovers the exact common prefix") {
    val dir = writeDocs(Seq(
      (1L, "HEADER v1 alpha content", "s"),
      (2L, "HEADER v1 beta content", "s"),
      (3L, "HEADER v1 alpha again", "s"),
      (4L, "no shared prefix here", "t"),
      (5L, "zero overlap with that", "t")))
    val got = CurationOps.queries("q198_source_prefix")(spark, dir)
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getString(3)))).toMap
    assert(got("s") === ((10L, "HEADER v1 ")))
    assert(got("t")._1 === 0L)
  }

  test("q199: manifest conserves totals and entropy is bounded by ln(sources)") {
    val sf = "/root/testdata/sf0.001"
    val rows = CurationOps.queries("q199_shard_manifest")(spark, sf).collect()
    val totalDocs = rows.map(_.getLong(1)).sum
    assert(totalDocs === 500L)
    rows.foreach { r =>
      val (nSrc, h) = (r.getLong(3), r.getDouble(4))
      assert(h >= -1e-12)
      assert(h <= math.log(nSrc.toDouble) + 1e-9)
    }
    // interleaving guarantee: every shard sees every source (500 docs,
    // 20 sources, 16 shards → 25 docs/source round-robin covers all)
    assert(rows.map(_.getLong(3)).distinct.toSeq === Seq(20L))
  }

  test("q200: datasheet sections agree with the siblings they reshape") {
    val sf = "/root/testdata/sf0.001"
    val rows = CurationOps.queries("q200_release_datasheet")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(rows(("corpus", "n_docs")) === 500.0)
    // funnel monotone: each stage survives at most the previous
    val f = (0 to 5).map(i => rows.find { case ((s2, m), _) =>
      s2 == "quality_funnel" && m.startsWith(s"s${i}_") }.get._2)
    assert(f === f.sortBy(-_))
    assert(f.head === 500.0)
    // contamination rates in [0, 1]; three modalities present
    val cr = rows.filter(_._1._1 == "contamination").values
    assert(cr.size === 3)
    cr.foreach(v => assert(v >= 0.0 && v <= 1.0))
    assert(rows(("license", "permissive_share")) >= 0.0)
    assert(rows.contains(("watermark", "flagged_docs")))
    assert(rows(("dedup", "total_lines")) > 0.0)
  }

  test("q201: PSI terms match a plain-Scala reference; identical snapshots give ~0") {
    val sf = "/root/testdata/sf0.001"
    val rows = CurationOps.queries("q201_psi_drift")(spark, sf)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2),
        r.getDouble(5), r.getDouble(6)))
    assert(rows.map(_._1).toSeq === (0 to 7))
    val psi = rows.head._5
    assert(math.abs(rows.map(_._4).sum - psi) < 1e-12)   // fold = sum of terms
    // v2 removes ~1/16 roughly uniformly → tiny PSI, far under the 0.2 alarm
    assert(psi >= 0.0 && psi < 0.05)
    // per-bin reference: term sign agrees with (p1 - p2) · ln(p1/p2) ≥ 0
    rows.foreach { case (_, c1, c2, term, _) =>
      assert(term >= -1e-15, s"PSI terms are nonnegative by construction ($c1, $c2)")
    }
  }

  test("q202: Gini is 0 for equal sources and matches hand arithmetic when skewed") {
    val even = writeDocs(Seq((1L, toks(10), "a"), (2L, toks(10), "b")))
    val r1 = CurationOps.queries("q202_source_gini")(spark, even).collect().head
    assert(r1.getDouble(2) === 0.0)
    // masses 10 and 30 sorted: G = (2·1−2−1)·10 + (2·2−2−1)·30 = −10+30 = 20
    // over n·Σ = 2·40 → 0.25
    val skew = writeDocs(Seq((1L, toks(10), "a"), (2L, toks(30), "b")))
    val r2 = CurationOps.queries("q202_source_gini")(spark, skew).collect().head
    assert(r2.getDouble(2) === 0.25)
  }

  test("q203: BM25 ranking matches a plain-Scala reference on a hand corpus") {
    // query 1 = {fast, scan}: doc 1 has both terms, doc 2 one, doc 3 none
    val dir = writeDocs(Seq(
      (1L, "fast scan fast table", "s"),
      (2L, "scan merge table base", "s"),
      (3L, "hash join merge sort", "s")))
    val got = CurationOps.queries("q203_bm25_retrieval")(spark, dir)
      .filter("query_id = 1").collect()
      .map(r => (r.getLong(1), r.getLong(2), r.getDouble(4)))
    assert(got.map(_._2).toSeq === Seq(1L, 2L))   // doc 3 never retrieved
    val (n, avgdl) = (3.0, 12.0 / 3.0)
    def idf(df: Long): Double = math.log((n + 1.0) / (df + 0.5))
    def tfTerm(tf: Long, dl: Long): Double =
      tf * 2.2 / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl))
    val d1 = idf(2) * tfTerm(1, 4) + idf(1) * tfTerm(2, 4)  // scan + fast
    val d2 = idf(2) * tfTerm(1, 4)
    assert(math.abs(got(0)._3 - d1) < 1e-9)
    assert(math.abs(got(1)._3 - d2) < 1e-9)
    assert(got(0)._3 > got(1)._3)
  }

  test("q204: NDCG matches a Scala recomputation from the q203 ranking") {
    val sf = "/root/testdata/sf0.001"
    val ranking = CurationOps.queries("q203_bm25_retrieval")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def rel(q: Long, doc: Long): Long = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$q|$doc".getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(h.substring(0, 15), 16) % 4
    }
    val expect = ranking.groupBy(_._1).map { case (q, rows) =>
      val gains = rows.sortBy(r => (r._2, r._3)).map(r => (math.pow(2, rel(q, r._3)) - 1))
      val ideal = gains.sorted.reverse
      def dcg(gs: Seq[Double]) = gs.zipWithIndex
        .map { case (g, i) => g / (math.log(i + 2.0) / math.log(2.0)) }.sum
      q -> (dcg(gains.toSeq), dcg(ideal.toSeq))
    }
    val got = CurationOps.queries("q204_ndcg_eval")(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(2), r.getDouble(3), r.getDouble(4))))
      .toMap
    expect.foreach { case (q, (dcg, idcg)) =>
      val (gd, gi, gn) = got(q)
      assert(math.abs(gd - dcg) < 1e-9, s"dcg q$q")
      assert(math.abs(gi - idcg) < 1e-9, s"idcg q$q")
      assert(gn >= 0.0 && gn <= 1.0 + 1e-12)
      assert(gi >= gd - 1e-12)
    }
  }
}
