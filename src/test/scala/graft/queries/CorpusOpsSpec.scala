package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Corpus-analysis operators (q143–q150): brute-force references for the
  * numeric fits, decomposition proofs for the scale-safe rank paths, and
  * conservation invariants for the rollups. */
class CorpusOpsSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def writeDocs(dir: String, texts: Seq[(Long, String)]): Unit =
    texts.map { case (id, tx) => (id, tx, "en", s"src${id % 3}", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

  test("q143 matches a brute-force Math.log OLS fit") {
    val rows = CorpusOps.queries("q143_zipf_fit")(spark, sf).collect()
    assert(rows.length === 1)
    val (np, slope, intercept, r2) =
      (rows(0).getLong(0), rows(0).getDouble(1), rows(0).getDouble(2), rows(0).getDouble(3))
    // brute-force: word frequencies via plain Scala, OLS via Math.log
    // (the synthetic corpus has a ~31-type vocabulary, so n_points is the
    // vocabulary size, not the 100 cap)
    val freqs = spark.read.parquet(s"$sf/documents.parquet")
      .select(coalesce(col("text"), lit("")).as("t")).as[String].collect()
      .flatMap(_.trim.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).view.mapValues(_.size.toLong).toSeq
      .sortBy { case (w, f) => (-f, w) }.take(100)
    assert(np === freqs.size)
    val pts = freqs.zipWithIndex.map { case ((_, f), i) =>
      (math.log((i + 1).toDouble), math.log(f.toDouble))
    }
    val n = pts.size.toDouble
    val (sx, sy) = (pts.map(_._1).sum, pts.map(_._2).sum)
    val sxy = pts.map(p => p._1 * p._2).sum
    val sx2 = pts.map(p => p._1 * p._1).sum
    val sy2 = pts.map(p => p._2 * p._2).sum
    val refSlope = (n * sxy - sx * sy) / (n * sx2 - sx * sx)
    val refIntercept = (sy - refSlope * sx) / n
    val refR2 = math.pow(n * sxy - sx * sy, 2) / ((n * sx2 - sx * sx) * (n * sy2 - sy * sy))
    assert(math.abs(slope - refSlope) < 1e-10, s"slope $slope vs $refSlope")
    assert(math.abs(intercept - refIntercept) < 1e-10)
    assert(math.abs(r2 - refR2) < 1e-10)
    // frequencies are non-increasing in rank, so the fitted slope is ≤ 0
    // (the synthetic corpus's near-uniform vocabulary gives a weak fit —
    // the spec validates the ARITHMETIC, the statistic needs real text)
    assert(slope < 0)
  }

  test("q144 two-level per-language rank equals the naive one-level window") {
    val got = CorpusOps.queries("q144_ccnet_buckets")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(3), r.getInt(5)))
      .toMap
    // naive reference: collect the scored table and rank per lang in Scala
    val scored = LmOps.lmScores(spark, sf)
      .join(spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "lang"), "doc_id")
      .select(col("doc_id"), col("lang"), col("avg_logprob"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    assert(got.size === scored.length)
    scored.groupBy(_._2).foreach { case (lang, docs) =>
      val ordered = docs.sortBy { case (id, _, lp) => (-lp, id) }
      ordered.zipWithIndex.foreach { case ((id, _, _), i) =>
        val (gl, grnk, gterc) = got(id)
        assert(gl === lang)
        assert(grnk === i + 1, s"doc $id in $lang: rank $grnk vs ${i + 1}")
        // exact tercile sizes: first n%3 terciles get the extra row
        val n = ordered.length
        val expTerc = {
          val rnk = i + 1L
          if (rnk <= (n / 3 + 1) * (n % 3)) (rnk - 1) / (n / 3 + 1) + 1
          else n % 3 + (rnk - (n % 3) * (n / 3 + 1) - 1) / (n / 3) + 1
        }
        assert(gterc === expTerc.toInt)
      }
    }
  }

  test("q145 signal invariants: fractions bounded, counts consistent") {
    val rows = CorpusOps.queries("q145_quality_signals")(spark, sf).collect()
    assert(rows.length === 500)
    rows.foreach { r =>
      val m = r.getValuesMap[Any](r.schema.fieldNames)
      def l(k: String) = m(k).asInstanceOf[Long]
      def dd(k: String) = m(k).asInstanceOf[Double]
      assert(l("n_unique_words") <= l("n_words"))
      assert(l("n_stop_words") <= l("n_words"))
      assert(l("word_chars") <= l("n_chars_text"))
      assert(l("max_word_len") <= l("n_chars_text") || l("n_chars_text") == 0)
      Seq("frac_unique_words", "frac_stop_words", "frac_digit_chars",
        "frac_punct_chars").foreach { k =>
        assert(dd(k) >= 0.0 && dd(k) <= 1.0, s"$k out of range: ${dd(k)}")
      }
      assert(dd("mean_word_len") >= 0.0)
    }
  }

  test("q146 matches brute-force TF-IDF top-3 on a fixture") {
    val dir = graft.Scratch.fresh("tfidf")
    val texts = Seq[(Long, String)](
      (1L, "apple banana apple cherry"),
      (2L, "banana cherry cherry date"),
      (3L, "apple date egg egg egg"),
      (4L, "fig fig fig fig"))
    writeDocs(dir, texts)
    val got = CorpusOps.queries("q146_tfidf_keywords")(spark, dir).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(4), r.getInt(5)))
    val n = texts.size.toDouble
    val docToks = texts.map { case (id, tx) => id -> tx.split("\\s+").toSeq }.toMap
    val dfm = docToks.values.flatMap(_.distinct).groupBy(identity).view.mapValues(_.size).toMap
    val expected = docToks.flatMap { case (id, toks) =>
      toks.groupBy(identity).view.mapValues(_.size).toSeq
        .map { case (w, tf) => (id, w, tf.toLong, tf * (math.log(n) - math.log(dfm(w).toDouble))) }
        .sortBy { case (_, w, _, sc) => (-sc, w) }.take(3).zipWithIndex
        .map { case ((i, w, tf, sc), rk) => (i, w, tf, sc, rk + 1) }
    }.toSeq.sortBy(x => (x._1, x._5))
    assert(got.length === expected.length)
    got.zip(expected).foreach { case ((gi, gw, gtf, gsc, grk), (ei, ew, etf, esc, erk)) =>
      assert((gi, gw, gtf, grk) === ((ei, ew, etf, erk)))
      assert(math.abs(gsc - esc) < 1e-12, s"doc $gi '$gw': $gsc vs $esc")
    }
  }

  test("q147 overlap matrix matches a brute-force set intersection") {
    val dir = graft.Scratch.fresh("ovl")
    // 8-token lines; docs 1/2 share their first line, 3 is disjoint
    val l1 = "a b c d e f g h"
    val l2 = "i j k l m n o p"
    val l3 = "q r s t u v w x"
    // sources: doc_id % 3 → 1→src1, 2→src2, 3→src0, 4→src1
    val texts = Seq[(Long, String)](
      (1L, s"$l1 $l2"), (2L, s"$l1 $l3"), (3L, l3), (4L, l2))
    writeDocs(dir, texts)
    val got = CorpusOps.queries("q147_source_overlap")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    val bySrc = texts.groupBy { case (id, _) => s"src${id % 3}" }
      .view.mapValues(_.flatMap { case (_, tx) =>
        tx.split(" ").grouped(8).map(_.mkString(" ")) }.toSet).toMap
    val expPairs = for {
      a <- bySrc.keys; b <- bySrc.keys if a < b
      shared = (bySrc(a) & bySrc(b)).size if shared > 0
    } yield (a, b) -> ((shared.toLong, bySrc(a).size.toLong, bySrc(b).size.toLong))
    assert(got.keySet === expPairs.toMap.keySet)
    expPairs.foreach { case (k, (sh, na, nb)) =>
      val (gsh, gna, gnb, gj) = got(k)
      assert((gsh, gna, gnb) === ((sh, na, nb)), s"$k")
      assert(math.abs(gj - sh.toDouble / (na + nb - sh)) < 1e-15)
    }
  }

  test("q148 growth curve: monotone, conserves totals, matches naive order") {
    val rows = CorpusOps.queries("q148_vocab_growth")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    assert(rows.map(_._1).toSeq === (1L to 10L))
    // cumulative columns strictly increasing in docs/tokens, non-decreasing vocab
    rows.sliding(2).foreach { case Array((_, d1, t1, v1, _), (_, d2, t2, v2, _)) =>
      assert(d2 > d1 && t2 > t1 && v2 >= v1)
    }
    // conservation: final row equals corpus totals
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(coalesce(col("text"), lit("")).as("t")).as[String].collect()
    val allToks = docs.map(_.trim.split("\\s+").toSeq)
    val (_, dLast, tLast, vLast, _) = rows.last
    assert(dLast === docs.length)
    assert(tLast === allToks.map(_.size.toLong).sum)
    assert(vLast === allToks.flatten.filter(_.nonEmpty).distinct.size)
    // decile sizes balanced: ceil split over ticket order
    val sizes = rows.map(_._2).zip(0L +: rows.map(_._2).init).map { case (a, b) => a - b }
    assert(sizes.max - sizes.min <= 1)
  }

  test("q149 calibration: deciles balanced, counts conserve, rates bounded") {
    val rows = CorpusOps.queries("q149_gate_calibration")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(5)))
    assert(rows.map(_._1).toSeq === (1 to 10))
    val scoredCount = LmOps.lmScores(spark, sf).count()
    assert(rows.map(_._2).sum === scoredCount)
    assert(rows.map(_._2).max - rows.map(_._2).min <= 1)
    rows.foreach { case (_, nd, np, rate) =>
      assert(np <= nd)
      assert(math.abs(rate - np.toDouble / nd) < 1e-15)
    }
  }

  test("q151 PII scan finds planted entities and redacts in order") {
    val dir = graft.Scratch.fresh("pii")
    writeDocs(dir, Seq(
      (1L, "contact bob@example.com or admin@test.org today"),
      (2L, "server at 192.168.1.1 and 10.0.0.255 up"),
      (3L, "call +1 555 123 4567 now"),
      (4L, "account 123456789012 flagged"),
      (5L, "plain text with no pii at all")))
    val got = CorpusOps.queries("q151_pii_scan")(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
          r.getString(5), r.getLong(6)))).toMap
    assert(got(1L)._1 === 2 && got(1L)._5 === "contact <EMAIL> or <EMAIL> today")
    assert(got(2L)._2 === 2 && got(2L)._5 === "server at <IP> and <IP> up")
    assert(got(3L)._3 === 1 && got(3L)._5 === "call <PHONE> now")
    // the 12-digit account number matches BOTH the phone family (digit
    // run) and the long-id family; replacement order makes phone win
    assert(got(4L)._4 === 1 && got(4L)._5 === "account <PHONE> flagged")
    assert(got(5L) === ((0L, 0L, 0L, 0L, "plain text with no pii at all", 0L)))
    got.foreach { case (_, (e, i, p, l, _, tot)) => assert(tot === e + i + p + l) }
  }

  test("q152 encoding health flags planted corruption") {
    val dir = graft.Scratch.fresh("enc")
    writeDocs(dir, Seq(
      (1L, "clean ascii text"),
      (2L, "bad � char � twice"),
      (3L, "ctrlandbells"),
      (4L, "﻿bom prefixed"),
      (5L, "café naïve")))
    val got = CorpusOps.queries("q152_encoding_health")(spark, dir).collect()
      .map(r => r.getLong(0) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getBoolean(6),
          r.getBoolean(8)))).toMap
    assert(got(1L) === ((0L, 0L, 0L, false, true)))
    assert(got(2L)._1 === 2 && !got(2L)._5)
    assert(got(3L)._2 === 2 && !got(3L)._5)
    assert(got(4L)._4 === true && !got(4L)._5)
    assert(got(5L) === ((0L, 0L, 2L, false, true))) // accents: non-ascii but clean
  }

  test("q153 KL matches a brute-force Math.log computation and is non-negative-ish") {
    val got = CorpusOps.queries("q153_source_kl")(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), coalesce(col("text"), lit("")).as("t"))
      .as[(String, String)].collect()
    val bySrc = docs.groupBy(_._1).view.mapValues(
      _.flatMap(_._2.trim.split("\\s+")).filter(_.nonEmpty)
        .groupBy(identity).view.mapValues(_.size.toLong).toMap).toMap
    val corpus = bySrc.values.flatten.groupBy(_._1).view
      .mapValues(_.map(_._2).sum).toMap
    val ct = corpus.values.sum.toDouble
    assert(got.keySet === bySrc.keySet)
    bySrc.foreach { case (src, wc) =>
      val st = wc.values.sum.toDouble
      val ref = wc.map { case (w, c) =>
        (c / st) * math.log((c / st) / (corpus(w) / ct))
      }.sum
      val (gn, gv, gkl) = got(src)
      assert(gn === st.toLong && gv === wc.size)
      assert(math.abs(gkl - ref) < 1e-10, s"$src: $gkl vs $ref")
      // KL ≥ 0 up to float round-off (Gibbs)
      assert(gkl > -1e-12)
    }
  }

  test("q154 Pearson matrix matches a brute-force reference") {
    val got = CorpusOps.queries("q154_signal_corr")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got.size === 6)
    val sig = spark.read.parquet(s"$sf/documents.parquet")
      .select(coalesce(col("text"), lit("")).as("t")).as[String].collect()
      .map { t =>
        val toks = t.trim.split("\\s+").toSeq
        Map("n_chars" -> t.length.toLong, "n_words" -> toks.size.toLong,
          "n_unique" -> toks.distinct.size.toLong,
          "n_stop" -> toks.count(Set("the", "a", "is", "and", "of", "to", "in")).toLong)
      }
    def corr(x: String, y: String): Double = {
      val n = sig.length.toDouble
      val xs = sig.map(_(x).toDouble); val ys = sig.map(_(y).toDouble)
      val (sx, sy) = (xs.sum, ys.sum)
      val sxy = xs.zip(ys).map { case (a, b) => a * b }.sum
      val sx2 = xs.map(a => a * a).sum; val sy2 = ys.map(a => a * a).sum
      (n * sxy - sx * sy) / (math.sqrt(n * sx2 - sx * sx) * math.sqrt(n * sy2 - sy * sy))
    }
    got.foreach { case ((a, b), (nd, r)) =>
      assert(nd === sig.length)
      assert(math.abs(r - corr(a, b)) < 1e-10, s"($a,$b): $r vs ${corr(a, b)}")
      assert(r >= -1.0 - 1e-12 && r <= 1.0 + 1e-12)
    }
  }

  test("q155 contrastive views: crops in bounds, verbatim slices, overlap exact") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("t"))
      .as[(Long, String)].collect()
      .map { case (id, t) => id -> t.trim.split("\\s+").toSeq }.toMap
    val rows = CorpusOps.queries("q155_contrastive_views")(spark, sf).collect()
    assert(rows.length === docs.count(_._2.size >= 2))
    rows.foreach { r =>
      val (id, n, lc, sa, sb, va, vb, ov) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getString(5), r.getString(6), r.getLong(7))
      val toks = docs(id)
      assert(n === toks.size && lc === (n + 1) / 2)
      assert(sa >= 0 && sa + lc <= n && sb >= 0 && sb + lc <= n)
      assert(va === toks.slice(sa.toInt, (sa + lc).toInt).mkString(" "))
      assert(vb === toks.slice(sb.toInt, (sb + lc).toInt).mkString(" "))
      val expOv = math.max(0L, (math.min(sa, sb) + lc) - math.max(sa, sb))
      assert(ov === expOv)
      // for odd n, 2·⌈n/2⌉ > n forces overlap; even n can tile exactly
      if (n % 2 == 1) assert(ov >= 1)
    }
  }

  test("q156 extraction probes reassemble to the exact duplicated span") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, t) => id -> t.trim.split("\\s+").toSeq }.toMap
    val spans = DedupOps.queries("q94_substring_dedup_spans")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
    val rows = CorpusOps.queries("q156_extraction_probes")(spark, sf).collect()
    assert(rows.nonEmpty)
    // exactly the ≥16-token spans become probes
    assert(rows.length === spans.count(_._2 >= 16))
    rows.foreach { r =>
      val (id, st, len, mid, p, c) = (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4), r.getString(5))
      assert(spans((id, st)) === len && len >= 16 && mid === len / 2)
      val span = docs(id).slice(st.toInt - 1, (st + len - 1).toInt) // 1-based starts
      assert(s"$p $c" === span.mkString(" "), s"doc $id span $st")
      assert(p.split(" ").length === mid.toInt)
    }
  }

  test("q157 S-curve matches Math.pow and brackets the (1/b)^(1/r) threshold") {
    val rows = CorpusOps.queries("q157_lsh_s_curve")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.length === 19)
    rows.foreach { case (i, s, p) =>
      assert(math.abs(s - i * 0.05) < 1e-15)
      assert(math.abs(p - (1 - math.pow(1 - math.pow(s, 4), 4))) < 1e-12)
    }
    val ps = rows.map(_._3)
    assert(ps.zip(ps.tail).forall { case (a, b) => b >= a }, "monotone")
    // the half-detection point sits near (1/4)^(1/4) ≈ 0.707
    val cross = rows.find(_._3 >= 0.5).get._2
    assert(cross >= 0.65 && cross <= 0.75)
  }

  test("q158 blocklist stats match brute-force substring counting") {
    val dir = graft.Scratch.fresh("bl")
    writeDocs(dir, Seq(
      (1L, "this is slow and slow and big"),
      (2L, "lorem ipsum lorem ipsum text"),
      (3L, "click here to subscribe now"),
      (4L, "nothing objectionable"),
      (5L, "drop drop drop")))
    val got = CorpusOps.queries("q158_blocklist_stats")(spark, dir).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.size === 8)
    def occ(txt: String, p: String): Long =
      ((txt.length - txt.replace(p, "").length) / p.length).toLong
    val texts = Seq("this is slow and slow and big", "lorem ipsum lorem ipsum text",
      "click here to subscribe now", "nothing objectionable", "drop drop drop")
    got.foreach { case (p, (dh, th, nd)) =>
      assert(nd === 5)
      assert(dh === texts.count(occ(_, p) > 0), s"docs_hit($p)")
      assert(th === texts.map(occ(_, p)).sum, s"total_hits($p)")
    }
    assert(got("slow")._2 === 2 && got("lorem ipsum")._2 === 2 && got("drop")._2 === 3)
  }

  test("q159 loss-mask spans tile the q128 transcript exactly") {
    val spans = CorpusOps.queries("q159_sft_loss_mask")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(3),
        r.getLong(4), r.getBoolean(5)))
      .groupBy(_._1)
    val transcripts = AssemblyOps.queries("q128_sft_conversations")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getString(4)).toMap
    assert(spans.keySet === transcripts.keySet)
    spans.foreach { case (uid, turns) =>
      val ordered = turns.sortBy(_._2)
      assert(ordered.head._4 === 1L, "first span starts at offset 1")
      ordered.sliding(2).foreach { pair =>
        if (pair.length == 2) {
          val (_, _, _, s1, l1, _) = pair(0)
          val (_, _, _, s2, _, _) = pair(1)
          assert(s2 === s1 + l1, s"$uid: spans must tile")
        }
      }
      val last = ordered.last
      assert(last._4 + last._5 - 1 === transcripts(uid).length.toLong,
        s"$uid: spans must cover the transcript")
      ordered.foreach { case (_, idx, role, _, _, loss) =>
        assert(role === (if (idx % 2 == 1) "user" else "assistant"))
        assert(loss === (role == "assistant"))
      }
    }
  }

  test("q160 packing stats conserve q92 token totals per source") {
    val got = CorpusOps.queries("q160_packing_stats")(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(6)))).toMap
    val bins = PipelineOps.queries("q92_sequence_packing")(spark, sf)
      .groupBy(col("source"))
      .agg(sum(col("n_tokens")).as("tt"),
        countDistinct(col("pack_bin")).as("nb"))
      .collect().map(r => r.getString(0) -> ((r.getLong(2), r.getLong(1)))).toMap
    assert(got.keySet === bins.keySet)
    got.foreach { case (src, (nb, tt, fill)) =>
      assert((nb, tt) === bins(src), s"$src")
      assert(math.abs(fill - tt.toDouble / (nb * 2048.0)) < 1e-15)
    }
  }

  test("q161 directional copies sum to q98's removed-line count") {
    val rows = CorpusOps.queries("q161_copy_direction")(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val removed = LineOps.queries("q98_line_dedup")(spark, sf)
      .agg(sum(col("n_removed"))).collect()(0).getLong(0)
    assert(rows.map(_._3).sum === removed,
      "every non-first duplicate occurrence is attributed to exactly one origin")
    rows.foreach { case (_, _, copied, distinct) =>
      assert(distinct <= copied, "each distinct line copied at least once")
      assert(distinct >= 1)
    }
  }

  test("q162 data-value accounting matches the closed-form Math reference") {
    val got = CorpusOps.queries("q162_data_value")(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(5), r.getDouble(6)))).toMap
    val stats = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("source"), coalesce(col("text"), lit("")).as("t"))
      .as[(String, String)].collect()
      .groupBy(_._1).view.mapValues { ds =>
        (ds.length.toLong, ds.map(_._2.trim.split("\\s+").length.toLong).sum)
      }.toMap
    val mDocs = stats.values.map(_._1).max.toDouble
    assert(got.keySet === stats.keySet)
    val rstar = 15.39
    stats.foreach { case (src, (nd, ut)) =>
      val (gnd, gut, gr, geff, geffic) = got(src)
      assert((gnd, gut) === ((nd, ut)))
      val r = math.min(4.0, math.sqrt(mDocs / nd))
      assert(math.abs(gr - r) < 1e-12)
      val eff = ut * (1 + rstar * (1 - math.exp(-(r - 1) / rstar)))
      assert(math.abs(geff - eff) < math.abs(eff) * 1e-9, s"$src: $geff vs $eff")
      assert(geffic <= 1.0 + 1e-12, "repetition never beats unique data")
      if (nd.toDouble == mDocs) assert(math.abs(geffic - 1.0) < 1e-12,
        "the largest source is not repeated, efficiency 1")
    }
  }

  test("q163 edit distances match a Scala Wagner-Fischer reference") {
    def lev(a: String, b: String): Int = {
      val dp = Array.tabulate(b.length + 1)(identity)
      for (i <- 1 to a.length) {
        var prev = dp(0); dp(0) = i
        for (j <- 1 to b.length) {
          val t = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prev + (if (a(i - 1) == b(j - 1)) 0 else 1))
          prev = t
        }
      }
      dp(b.length)
    }
    val texts = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), expr(
        "regexp_replace(coalesce(text, ''), '[^\\x00-\\x7F]', '_')").as("t"))
      .as[(Long, String)].collect().toMap
    val rows = CorpusOps.queries("q163_edit_distance_verify")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b, lv, ml, sim, flag) = (r.getLong(0), r.getLong(1), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getBoolean(6))
      assert(lv === lev(texts(a), texts(b)).toLong, s"($a,$b)")
      assert(ml === math.max(texts(a).length, texts(b).length).toLong)
      assert(math.abs(sim - (1.0 - lv.toDouble / ml)) < 1e-15)
      assert(flag === (sim >= 0.8))
    }
  }

  test("q164 canonical URLs satisfy every normalization rule") {
    val rows = CorpusOps.queries("q164_url_canonicalize")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getBoolean(3),
        r.getLong(4), r.getLong(5), r.getBoolean(6)))
    assert(rows.length === 500)
    rows.foreach { case (id, raw, canon, changed, cid, _, dup) =>
      assert(!canon.contains("WWW."), s"$id: host not lowercased")
      assert(!canon.contains(":443"), s"$id: default port kept")
      assert(!canon.contains("utm_") && !canon.contains("fbclid"), s"$id: tracking kept")
      assert(!canon.endsWith("/") && !canon.endsWith("?") && !canon.endsWith("&"))
      assert(changed === (raw != canon))
      assert(dup === (id != cid))
      assert(cid <= id, "keep-first canonical id")
    }
    // groups are consistent: same canonical ⇔ same canonical_id
    rows.groupBy(_._3).foreach { case (_, g) =>
      assert(g.map(_._5).distinct.length === 1)
      assert(g.map(_._5).head === g.map(_._1).min)
      assert(g.forall(_._6 === g.length.toLong))
    }
    assert(rows.exists(_._7), "the %100 path collisions must produce dup groups")
  }

  test("q165 centroids match a brute-force per-(label,pos) mean") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("label"), col("embedding"))
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).map(_.toDouble)))
    val got = CorpusOps.queries("q165_embedding_pool")(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> ((r.getLong(2), r.getDouble(3)))).toMap
    assert(got.size === vecs.map(_._2).distinct.length * 64)
    vecs.groupBy(_._2).foreach { case (label, vs) =>
      (0 until 64).foreach { pos =>
        val (n, mean) = got((label, pos.toLong))
        assert(n === vs.length.toLong)
        val ref = vs.sortBy(_._1).map(_._3(pos)).sum / vs.length
        assert(math.abs(mean - ref) < 1e-12, s"label $label pos $pos")
      }
    }
  }

  test("q166 flags exactly the |z| > 2 docs of a brute-force reference") {
    val scored = LmOps.lmScores(spark, sf)
      .join(spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "source"), "doc_id")
      .select(col("doc_id"), col("source"), col("avg_logprob"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val expected = scored.groupBy(_._2).flatMap { case (src, ds) =>
      val n = ds.length.toDouble
      val sorted = ds.sortBy(_._1)
      val mean = sorted.map(_._3).sum / n
      val std = math.sqrt(sorted.map(x => x._3 * x._3).sum / n - mean * mean)
      ds.filter(x => math.abs((x._3 - mean) / std) > 2.0).map(x => x._1 -> src).toSeq
    }.toMap
    val got = CorpusOps.queries("q166_ppl_outliers")(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === expected)
  }

  test("q167 chi-square drift matches a brute-force reference") {
    val ev = spark.read.parquet(s"$sf/events.parquet")
      .select(expr("unix_micros(cast(ts as timestamp)) div 86400000000").as("day"),
        coalesce(col("event_type"), lit("")).as("t"))
      .as[(Long, String)].collect()
    val types = ev.map(_._2).distinct.sorted
    val total = ev.length.toDouble
    val typeTot = ev.groupBy(_._2).view.mapValues(_.length.toDouble).toMap
    val got = CorpusOps.queries("q167_event_drift")(spark, sf).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    val byDay = ev.groupBy(_._1)
    assert(got.keySet === byDay.keySet)
    byDay.foreach { case (day, des) =>
      val dayTotal = des.length.toDouble
      val obs = des.groupBy(_._2).view.mapValues(_.length.toDouble).toMap
      val ref = types.map { t =>
        val e = dayTotal * typeTot(t) / total
        val o = obs.getOrElse(t, 0.0)
        (o - e) * (o - e) / e
      }.sum
      val (n, chi2, flag) = got(day)
      assert(n === des.length.toLong)
      assert(math.abs(chi2 - ref) < 1e-9, s"day $day: $chi2 vs $ref")
      assert(flag === (chi2 > 9.488))
    }
  }

  test("q168 lambda search matches a brute-force Jelinek-Mercer reference") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("t"))
      .as[(Long, String)].collect()
      .map { case (id, t) => id -> t.trim.split("\\s+").toSeq }
      .filter(_._2.size >= 2)
    val train = docs.filter(_._1 % 5 != 0)
    val held = docs.filter(_._1 % 5 == 0)
    def trans(ds: Array[(Long, Seq[String])]) =
      ds.flatMap { case (id, ts) => ts.sliding(2).map(p => (id, p(0), p(1))) }
    val bc = trans(train).groupBy(x => (x._2, x._3)).view.mapValues(_.length.toLong).toMap
    val cprev = bc.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val cu = train.flatMap(_._2).groupBy(identity).view.mapValues(_.length.toLong).toMap
    val n = cu.values.sum.toDouble
    val scored = trans(held).filter { case (_, p, c) =>
      bc.contains((p, c)) && cprev.contains(p) && cu.contains(c)
    }
    val got = CorpusOps.queries("q168_jm_interpolation")(spark, sf).collect()
      .map(r => (r.getDouble(0), r.getLong(1), r.getDouble(2), r.getBoolean(3)))
    assert(got.length === 9)
    val refs = (1 to 9).map { l =>
      val lam = l / 10.0
      l -> scored.map { case (_, p, c) =>
        math.log(lam * bc((p, c)) / cprev(p) + (1 - lam) * cu(c) / n)
      }.sum
    }.toMap
    got.foreach { case (lam, ns, lp, _) =>
      assert(ns === scored.length.toLong)
      val ref = refs(math.round(lam * 10).toInt)
      assert(math.abs(lp - ref) < math.abs(ref) * 1e-9, s"λ=$lam: $lp vs $ref")
    }
    val bestLam = got.maxBy(_._3)._1
    got.foreach { case (lam, _, _, best) => assert(best === (lam == bestLam)) }
  }

  test("q169 card counts equal the siblings' own flag counts") {
    val got = CorpusOps.queries("q169_contamination_card")(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got.keySet === Set("lexical_ngram", "semantic_cosine", "split_leakage"))
    val lex = DedupOps.queries("q89_contamination")(spark, sf)
    assert(got("lexical_ngram") ===
      ((lex.count(), lex.filter(col("contaminated")).count())))
    val sem = VectorOps.queries("q138_semantic_decontam")(spark, sf)
    assert(got("semantic_cosine") ===
      ((sem.count(), sem.filter(col("contaminated")).count())))
    val spl = DedupOps.queries("q134_split_decontam")(spark, sf)
    assert(got("split_leakage") ===
      ((spl.count(), spl.filter(col("leaked")).count())))
  }

  test("q170 containment matches brute-force sets and dominates Jaccard") {
    val sets = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"), col("text")).as[(Long, String)].collect()
      .map { case (id, t) =>
        id -> t.split(" ").sliding(3).map(_.mkString(" ")).toSet
      }.toMap
    val rows = CorpusOps.queries("q170_containment")(spark, sf).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (a, b, j, inter, na, nb, ca, cb, sub) = (r.getLong(0), r.getLong(1),
        r.getDouble(2), r.getLong(3), r.getLong(4), r.getLong(5),
        r.getDouble(6), r.getDouble(7), r.getBoolean(8))
      val (sa, sb) = (sets(a), sets(b))
      assert(inter === (sa & sb).size.toLong)
      assert(na === sa.size.toLong && nb === sb.size.toLong)
      assert(math.abs(ca - inter.toDouble / na) < 1e-15)
      assert(math.abs(cb - inter.toDouble / nb) < 1e-15)
      assert(ca >= j - 1e-12 && cb >= j - 1e-12, "containment dominates Jaccard")
      assert(sub === (math.max(ca, cb) >= 0.9))
    }
  }

  test("q150 audit card conserves q26/q98 totals per source") {
    val rows = CorpusOps.queries("q150_dedup_audit")(spark, sf).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .groupBy("source").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.keySet === docs.keySet)
    rows.foreach { case (src, (n, _, _, _)) => assert(n === docs(src)) }
    // global totals line up with the siblings' own outputs
    val exactDups = DedupOps.queries("q26_dedup_exact")(spark, sf)
      .filter(col("is_dup")).count()
    assert(rows.values.map(_._2).sum === exactDups)
    val removed = LineOps.queries("q98_line_dedup")(spark, sf)
      .agg(sum(col("n_removed"))).collect()(0).getLong(0)
    assert(rows.values.map(_._4).sum === removed)
  }
}
