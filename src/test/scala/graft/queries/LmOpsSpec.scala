package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The q106 edges its corpus oracle can't isolate: the portable ln's
  * accuracy against the JVM libm (it is a deliberate REPLACEMENT for
  * Math.log, so closeness is an assertion, not a given) and the
  * partitioning-invariance of the ordered per-doc fold. */
class LmOpsSpec extends SparkSpec {
  import spark.implicits._

  test("portable ln tracks Math.log within 4 ulps across count magnitudes") {
    val xs = (Seq(1L, 2L, 3L, 7L, 10L, 63L, 64L, 65L, 999L, 50021L) ++
      (1 to 50).map(i => i * 104729L + 17L)).toDF("x")
    val steps = LmOps.PortableLn.steps("x", "p", spark = true)
    val got = steps.foldLeft(xs)((df, s) => df.withColumn(s._1, expr(s._2)))
      .select(col("x"), col("lnp")).collect()
    got.foreach { r =>
      val x = r.getLong(0); val approx = r.getDouble(1)
      val exact = math.log(x.toDouble)
      val ulp = math.ulp(exact).max(java.lang.Double.MIN_VALUE)
      assert(math.abs(approx - exact) <= 4 * ulp,
        s"ln($x): portable=$approx jvm=$exact diff=${approx - exact}")
    }
  }

  test("portable exp tracks Math.exp within 4 ulps on [0, 40]") {
    val xs = (Seq(0.0, 1e-300, 1e-9, 0.1, 0.5, 0.6931471805599453, 0.7, 1.0,
      2.5, 6.93, 10.0, 20.0, 39.9) ++
      (1 to 50).map(i => i * 0.7919 % 40.0)).toDF("x")
    val steps = LmOps.PortableExp.steps("x", "p", spark = true)
    val got = steps.foldLeft(xs)((df, s) => df.withColumn(s._1, expr(s._2)))
      .select(col("x"), col("expp")).collect()
    got.foreach { r =>
      val x = r.getDouble(0); val approx = r.getDouble(1)
      val exact = math.exp(x)
      val ulp = math.ulp(exact)
      assert(math.abs(approx - exact) <= 4 * ulp,
        s"exp($x): portable=$approx jvm=$exact diff=${approx - exact}")
    }
  }

  test("q106 scores are identical under different shuffle partition counts") {
    val dir = graft.Scratch.fresh("lmops")
    val docs = Seq(
      (1L, "the cat sat on the mat", "s"),
      (2L, "the cat sat on the hat", "s"),
      (3L, "zq xv qj wk zz yy", "s"),
      (4L, "the the the the", "s"))
      .map { case (id, tx, src) => (id, tx, "en", src, tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val run1 = LmOps.queries("q106_lm_perplexity")(spark, dir).collect().toSeq
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val run2 = LmOps.queries("q106_lm_perplexity")(spark, dir).collect().toSeq
      assert(run1.map(_.toSeq) === run2.map(_.toSeq))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    // the gibberish doc is the flagged tail on this fixture
    val flagged = run1.filter(_.getBoolean(4)).map(_.getLong(0))
    assert(flagged === Seq(3L))
  }

  /** Brute-force interpolated-KN reference: counts in plain Scala maps,
    * probabilities in plain doubles (Math.log, not the portable ln). */
  private def knReference(texts: Seq[(Long, String)]): Map[Long, Double] = {
    val toks = texts.map { case (id, tx) => id -> tx.trim.split("\\s+").toSeq }
      .filter(_._2.size >= 2)
    val bigrams = toks.flatMap { case (id, ts) =>
      ts.sliding(2).map(p => (id, p(0), p(1))).toSeq
    }
    val bc = bigrams.groupBy(b => (b._2, b._3)).view.mapValues(_.size.toLong).toMap
    val cp = bc.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val n1p = bc.groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
    val n1c = bc.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val nbt = bc.size.toLong
    def lnp(prev: String, cur: String): Double = {
      val c = bc((prev, cur)); val d = 0.75
      math.log((c - d) / cp(prev) +
        d * n1p(prev) / cp(prev) * (n1c(cur).toDouble / nbt))
    }
    toks.map { case (id, ts) =>
      val lps = ts.sliding(2).map(p => lnp(p(0), p(1))).toSeq
      id -> lps.sum / lps.size
    }.toMap
  }

  test("q123 Kneser-Ney matches a brute-force double reference and flags the tail") {
    val dir = graft.Scratch.fresh("lmkn")
    val texts = Seq(
      (1L, "the cat sat on the mat"),
      (2L, "the cat sat on the hat"),
      (3L, "zq xv qj wk zz yy"),
      (4L, "the the the the"),
      (5L, "a cat on a mat sat still"),
      (6L, "on the mat the cat sat"))
    texts.map { case (id, tx) => (id, tx, "en", "s", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = LmOps.queries("q123_kneser_ney")(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val ref = knReference(texts)
    assert(got.keySet === ref.keySet)
    // Rationalized-integer + portable-ln path vs naive double arithmetic:
    // same value up to double rounding of the two formulations.
    got.foreach { case (id, v) =>
      assert(math.abs(v - ref(id)) < 1e-12, s"doc $id: $v vs ${ref(id)}")
    }
  }

  test("q123 KN distribution sums to 1 over the vocabulary for every prefix") {
    // The defining property of interpolated KN: the discounted mass D·N1p/cp
    // exactly funds the continuation term summed over the whole vocabulary.
    val texts = Seq((1L, "a b a c a b d e b c"), (2L, "b a a c d d e a b"))
    val toks = texts.map(_._2.split(" ").toSeq)
    val bc = toks.flatMap(_.sliding(2).map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val cp = bc.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val n1p = bc.groupBy(_._1._1).view.mapValues(_.size.toLong).toMap
    val n1c = bc.groupBy(_._1._2).view.mapValues(_.size.toLong).toMap
    val nbt = bc.size.toLong
    val vocab = toks.flatten.distinct
    val d = 0.75
    cp.keys.foreach { prev =>
      val total = vocab.map { cur =>
        val disc = bc.get((prev, cur)).map(c => (c - d) / cp(prev)).getOrElse(0.0)
        disc + d * n1p(prev) / cp(prev) *
          (n1c.getOrElse(cur, 0L).toDouble / nbt)
      }.sum
      // continuation distribution is over words seen as continuations; on
      // this fixture every vocab word is one, so the sum is exactly 1.
      assert(math.abs(total - 1.0) < 1e-12, s"prefix $prev sums to $total")
    }
  }

  /** Brute-force DSIR reference: hashed-bucket counts in Scala maps,
    * direct `ln p_t(b) − ln p_r(b)` in Math.log doubles — the naive
    * formulation of the identity q135's decomposed portable-ln path
    * computes. */
  private def dsirReference(docs: Seq[(Long, String, String)]): Map[Long, Double] = {
    val B = 1024
    def bucket(g: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(g.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(md.substring(0, 8), 16) % B
    }
    def feats(tx: String): Seq[Long] = {
      val ts = tx.trim.split("\\s+").toSeq
      (ts ++ ts.sliding(2).filter(_.size == 2).map(_.mkString(" "))).map(bucket)
    }
    val perDoc = docs.filter(_._2.trim.nonEmpty)
      .map { case (id, tx, lang) => (id, feats(tx), lang == "en") }
    val cr = perDoc.flatMap(_._2).groupBy(identity).view.mapValues(_.size.toLong).toMap
    val ct = perDoc.filter(_._3).flatMap(_._2)
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val r = cr.values.sum; val t = ct.values.sum
    val scored = perDoc.map { case (id, fs, _) =>
      id -> fs.map { b =>
        math.log((ct.getOrElse(b, 0L) + 1).toDouble / (t + B)) -
          math.log((cr(b) + 1).toDouble / (r + B))
      }.sum
    }.toMap
    docs.map { case (id, _, _) => id -> scored.getOrElse(id, 0.0) }.toMap
  }

  test("q135 DSIR matches a brute-force double reference; target-style docs rank higher") {
    val dir = graft.Scratch.fresh("lmdsir")
    val docs = Seq(
      (1L, "alpha beta gamma alpha beta", "en"),
      (2L, "alpha beta delta gamma beta", "en"),
      (3L, "zorg blip zorg kwux blip", "zh"),
      (4L, "alpha beta gamma delta beta", "zh"), // target-style text, off-target lang
      (5L, "", "en"), // empty: n_feats = 0, log_weight = 0
      (6L, "kwux zorg blip kwux", "zh"))
    docs.map { case (id, tx, lang) => (id, tx, lang, "s", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = LmOps.queries("q135_dsir_weights")(spark, dir).collect()
    val got = rows.map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val ref = dsirReference(docs)
    assert(got.keySet === ref.keySet)
    got.foreach { case (id, v) =>
      assert(math.abs(v - ref(id)) < 1e-12, s"doc $id: $v vs ${ref(id)}")
    }
    // the empty doc carries no evidence: weight exactly 0, 0 features
    val empty = rows.find(_.getLong(0) == 5L).get
    assert(empty.getLong(2) === 0L && empty.getDouble(3) === 0.0)
    // importance weights pull toward the target DISTRIBUTION, not the
    // label: doc 4 shares the en vocabulary and must outrank the
    // zorg/blip docs despite lang = zh
    assert(got(4L) > got(3L) && got(4L) > got(6L))
    assert(Seq(1L, 2L).map(got).min > Seq(3L, 6L).map(got).max)
  }

  test("q135 is identical under different shuffle partition counts") {
    val dir = graft.Scratch.fresh("lmdsir2")
    (1 to 40).map(i => (i.toLong, s"w${i % 7} w${i % 3} w${i % 5} w${i % 11}",
        if (i % 3 == 0) "en" else "fr", "s", 20L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val run1 = LmOps.queries("q135_dsir_weights")(spark, dir).collect().toSeq
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "7")
      val run2 = LmOps.queries("q135_dsir_weights")(spark, dir).collect().toSeq
      assert(run1.map(_.toSeq) === run2.map(_.toSeq))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
