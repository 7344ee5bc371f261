package graft.functions

import graft.SparkSpec
import graft.domain.{FullLexiconScorer, Nlp}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** A seeded adversarial text corpus for the word-stats kernel: list words
  * (case-mangled, glued to each other and to word and non-word
  * characters), accented letters in both NFC and NFD form, NBSP, U+200B,
  * `ﬁ`, `İ` (which lowers to two chars), `ß`, Arabic, digits, `_`, `'`,
  * `-`, every `\s` character, upper case, a supplementary character, and
  * null, empty and blank strings. "bien" sits in two lists, and
  * "tarifile" overlaps two mention literals. */
object WordStatsCorpus {

  val fullPositive: Seq[String] = FullLexiconScorer.positive
  val fullNegative: Seq[String] = FullLexiconScorer.negative

  private val listWords: IndexedSeq[String] = (Nlp.frenchMarkers ++ Nlp.positiveLexicon ++
    Nlp.negativeLexicon ++ fullPositive ++ fullNegative ++ Nlp.arabicMarkers ++
    Nlp.mentionLiterals.flatMap(_._2) ++ Seq("the", "a", "is", "and", "of", "fast", "slow"))
    .distinct.toIndexedSeq
  private val pieces: IndexedSeq[String] = IndexedSeq(
    "\u00e9", "\u00c9", "e\u0301", "E\u0301", "\u00a0", "\u200b", "\ufb01", "\u0130",
    "\u00df", "\u1e9e", "\u0628", "\u0629", "\u0661\u0662", "123", "7", "_", "'", "-",
    "\u00fc", "\u00d6", "tr\u00e9s", "TR\u00c9S", "\u00e9lev\u00e9", "\u00c9LEV\u00c9",
    "e\u0301leve\u0301", "x", "Q", "tarifile", "profile", "bienbien", "lebon", "bien_",
    "\ud83d\ude00", "\u01c5", "\u03a9")
  private val seps: IndexedSeq[String] = IndexedSeq(
    " ", " ", " ", "  ", "\t", "\n", "\u000b", "\f", "\r", " \t ", "", "", "\u00a0",
    "-", "'", "_", ",", ".", "\u200b", "\u0301")

  def texts(n: Int, seed: Long): Seq[String] = {
    val rnd = new scala.util.Random(seed)
    def mangle(w: String): String = rnd.nextInt(6) match {
      case 0 => w.toUpperCase
      case 1 => w.capitalize
      case _ => w
    }
    def token(): String =
      if (rnd.nextInt(3) == 0) pieces(rnd.nextInt(pieces.size))
      else mangle(listWords(rnd.nextInt(listWords.size)))
    Seq.fill(n) {
      rnd.nextInt(100) match {
        case 0 => null
        case 1 => ""
        case 2 => seps(rnd.nextInt(seps.size)) * (1 + rnd.nextInt(3))
        case _ =>
          val lead = if (rnd.nextInt(4) == 0) seps(rnd.nextInt(seps.size)) else ""
          lead + Seq.fill(1 + rnd.nextInt(12))(token() + seps(rnd.nextInt(seps.size))).mkString
      }
    }
  }

  /** The corpus on an RDD-backed frame (id, t), so projections over it run
    * in whole-stage codegen, not folded on the driver. */
  def frame(spark: SparkSession, n: Int, seed: Long): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(texts(n, seed).zipWithIndex.map(_.swap), 4).toDF("id", "t")
  }
}

class WordStatsSpec extends SparkSpec {

  private val t = col("t")

  // The formulas the kernel replaced (Nlp, Sentiment and Clean before it),
  // kept here as the reference.
  private def regexCount(words: Seq[String], unicode: Boolean, on: Column = lower(t)): Column =
    regexp_count(on, lit((if (unicode) "(?U)" else "") + "\\b(" + words.mkString("|") + ")\\b"))
  private val regexWords: Column =
    when(length(trim(t)) === 0, 0).otherwise(size(split(trim(t), "\\s+")))

  private val counts = Seq(
    ("fr", Nlp.frenchMarkers, false), ("pos", Nlp.positiveLexicon, false),
    ("neg", Nlp.negativeLexicon, false), ("upos", WordStatsCorpus.fullPositive, true),
    ("uneg", WordStatsCorpus.fullNegative, true))
  private val fields: Seq[WordStats.Field] =
    counts.map { case (n, ws, u) => WordStats.Count(n, ws, u) } ++
      Nlp.mentionLiterals.map { case (n, ls) => WordStats.Rlike(n, ls) } ++
      Nlp.arabicMarkers.zipWithIndex.map { case (m, i) => WordStats.Contains(s"ar$i", m) }
  private val references: Seq[(String, Column)] =
    counts.map { case (n, ws, u) => n -> regexCount(ws, u) } ++
      Nlp.mentionLiterals.map { case (n, ls) => n -> lower(t).rlike(ls.mkString("|")) } ++
      Nlp.arabicMarkers.zipWithIndex.map { case (m, i) => s"ar$i" -> t.contains(m) } :+
      (WordStats.Words -> regexWords)

  /** Each (name, reference, kernel) pair must agree, nulls included, on
    * every row; a mismatch reports the first few texts. */
  private def assertSame(df: DataFrame, pairs: Seq[(String, Column, Column)]): Unit = {
    val diffs = df.select(pairs.map { case (n, r, k) =>
      sum(when(r <=> k, 0).otherwise(1)).as(n) }: _*).head()
    pairs.indices.foreach { i =>
      val (n, r, k) = pairs(i)
      if (diffs.getLong(i) != 0) {
        val bad = df.filter(!(r <=> k)).select(t, r.as("reference"), k.as("kernel"))
          .limit(5).collect().mkString("\n")
        fail(s"$n: ${diffs.getLong(i)} rows differ, e.g.\n$bad")
      }
    }
  }

  test("graft_word_stats equals the regex formulas on 24k adversarial strings, both \\b modes") {
    val df = WordStatsCorpus.frame(spark, 24000, seed = 12).cache()
    try {
      assert(df.count() === 24000)
      val k = WordStats.column(t, lower(t), fields)
      assertSame(df.withColumn("k", k),
        references.map { case (n, r) => (n, r, col("k").getField(n)) })
      // Case-sensitive counts over the text itself (q22, q24).
      val raw = counts.take(3).map { case (n, ws, _) => WordStats.Count(n, ws, unicode = false) }
      assertSame(df.withColumn("k", WordStats.column(t, t, raw)),
        counts.take(3).map { case (n, ws, _) => (n, regexCount(ws, false, t), col("k").getField(n)) })
      assertSame(df, Seq(("collapse", regexp_replace(trim(t), "\\s+", " "),
        call_function("graft_collapse_ws", trim(t)))))
      // The corpus is not vacuous: every count field has hits, and some
      // list words are refused at a boundary.
      val probe = df.select(
        counts.map { case (n, ws, u) => sum(regexCount(ws, u)).as(n) } ++ Seq(
          sum(when(regexCount(Seq("bien"), false) < regexp_count(lower(t), lit("bien")), 1)
            .otherwise(0)).as("refused")): _*).head()
      (0 until probe.length).foreach(i => assert(probe.getLong(i) > 0, probe.schema(i).name))
    } finally df.unpersist()
  }

  test("graft_word_stats agrees on the JDK-dependent boundary cases") {
    import spark.implicits._
    val cases = Seq("\u00e9lev\u00e9", "\u00c9LEV\u00c9", "tr\u00e9s", "tr", "bien_",
      "bien-bien", "l'attente", "tarifile", "\u0130le", "e\u0301leve\u0301",
      "\tle\u000ble\f", "  ", "", null)
    val df = cases.toDF("t")
    val k = WordStats.column(t, lower(t), Seq(
      WordStats.Count("a", Seq("\u00e9lev\u00e9", "tr", "bien", "le", "attente"), unicode = false),
      WordStats.Count("u", Seq("\u00e9lev\u00e9", "tr", "bien", "le", "attente"), unicode = true),
      WordStats.Rlike("m", Seq("tarif", "file"))))
    val got = df.select(t, regexCount(Seq("\u00e9lev\u00e9", "tr", "bien", "le", "attente"), false),
      regexCount(Seq("\u00e9lev\u00e9", "tr", "bien", "le", "attente"), true),
      lower(t).rlike("tarif|file"), regexWords,
      k.getField("a"), k.getField("u"), k.getField("m"), k.getField(WordStats.Words)).collect()
    got.foreach { r =>
      (1 to 4).foreach(i => assert(r.get(i) === r.get(i + 4), s"field $i on '${r.get(0)}'"))
    }
  }

  test("graft_word_stats refuses lists it could not count exactly") {
    def build(f: WordStats.Field): Unit = {
      val e = WordStatsExpr(org.apache.spark.sql.catalyst.expressions.Literal("x"),
        org.apache.spark.sql.catalyst.expressions.Literal("x"), Seq(f), legacySizeOfNull = false)
      e.eval(null)
    }
    Seq(WordStats.Count("c", Seq("a b"), unicode = false),
      WordStats.Count("c", Seq("a|b"), unicode = false),
      WordStats.Count("c", Seq(""), unicode = false),
      WordStats.Count("c", Seq("\ud83d\ude00"), unicode = true),
      WordStats.Rlike("r", Seq("a.b")),
      WordStats.Contains("words", "x")).foreach { f =>
      intercept[IllegalArgumentException](build(f))
    }
    // The JDK decides whether a mode may mix ASCII and accented letters:
    // exact either way, refused only where its \b splits them.
    val splits = !java.util.regex.Pattern.compile("\\b").matcher("\u00e9").lookingAt()
    val mixed = WordStats.Count("c", Seq("tr", "\u00e9lev\u00e9"), unicode = false)
    if (splits) intercept[IllegalArgumentException](build(mixed)) else build(mixed)
    build(mixed.copy(unicode = true))
  }
}
