package graft.domain

import graft.functions.WordStats
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** NLP surface (SURVEY §2.8) as pure column expressions — the reference's
  * row-wise pandas functions become codegen'd Catalyst expressions; no UDFs
  * needed anywhere on the hot path.
  *
  * Every word statistic comes from one `graft_word_stats` column
  * ([[graft.functions.WordStats]]): the marker and lexicon hit counts, the
  * `\s`-run word count and the mention flags of a row are one scan of its
  * text and one `lower(text)`, where they were nine regex passes (three
  * `\b(…)\b` counts, three `rlike`s, two `split`s and Clean's
  * `regexp_replace`) and six `lower`s. Each field equals the regex formula
  * it replaced on every input: the kernel finds candidate words with a
  * char loop and asks the compiled `\b` itself, with the formula's flags,
  * at each candidate's ends, so the JDK's own boundary rule decides (it
  * differs between JDK 17 and 19+; see WordStats). WordStatsSpec compares
  * the two on a seeded adversarial corpus.
  *
  * N1 language detection (nlp_processor_simple.py:42-75): marker-word hit
  * counting, French list beats Arabic, conf = min(hits/words, 1.0),
  * `unknown` floor 0.3, texts < 3 chars → ('unknown', 0.0).
  *
  * N2 sentiment (portable keyword-lexicon spec the reference itself ships as
  * its fallback/test oracle, test_phase2_simple.py:83-104): score =
  * clamp(0.2·(pos−neg), ±0.8), labels at ±0.1
  * (nlp_processor_simple.py:96-102).
  */
object Nlp {

  /** French marker words (function words, same semantics as the reference's
    * 19-word list). */
  val frenchMarkers: Seq[String] = Seq(
    "le", "la", "les", "de", "du", "des", "et", "est", "un", "une",
    "dans", "pour", "avec", "sur", "ce", "cette", "tres", "bien", "service")

  /** Arabic marker tokens (bank-domain nouns, mirroring the reference's
    * 8-token list). */
  val arabicMarkers: Seq[String] = Seq(
    "بنك", "خدمة", "جيد", "سيء", "ممتاز", "فرع", "موظف", "وقت")

  val positiveLexicon: Seq[String] = Seq(
    "bon", "bien", "excellent", "parfait", "rapide", "professionnel",
    "merci", "super", "agreable", "efficace")

  val negativeLexicon: Seq[String] = Seq(
    "mauvais", "lent", "attente", "probleme", "nul", "horrible",
    "decevant", "long", "jamais", "pire")

  /** 68-word-class French stopword list for topic preprocessing (N3,
    * nlp_processor_simple.py:123-157). */
  val frenchStopwords: Seq[String] = Seq(
    "le", "la", "les", "un", "une", "des", "de", "du", "et", "ou", "mais",
    "donc", "car", "ne", "pas", "plus", "moins", "tres", "bien", "mal",
    "avec", "sans", "pour", "par", "sur", "sous", "dans", "entre", "vers",
    "chez", "ce", "cette", "ces", "cet", "mon", "ma", "mes", "ton", "ta",
    "tes", "son", "sa", "ses", "notre", "nos", "votre", "vos", "leur",
    "leurs", "je", "tu", "il", "elle", "nous", "vous", "ils", "elles",
    "qui", "que", "quoi", "dont", "est", "sont", "etait", "etre", "avoir",
    "a", "au", "aux")

  /** The `rlike` pattern of each N9 mention flag, as literal alternatives. */
  val mentionLiterals: Seq[(String, Seq[String])] = Seq(
    "mentions_service" -> Seq("service", "accueil", "personnel"),
    "mentions_waiting" -> Seq("attente", "attendre", "queue", "file"),
    "mentions_fees" -> Seq("frais", "commission", "tarif", "prix"))

  private val languageFields: Seq[WordStats.Field] =
    WordStats.Count("fr", frenchMarkers, unicode = false) +:
      arabicMarkers.zipWithIndex.map { case (m, i) => WordStats.Contains(s"ar$i", m) }
  private def sentimentFields(scorer: SentimentScorer): Seq[WordStats.Field] = Seq(
    WordStats.Count("pos", scorer.positive, scorer.unicode),
    WordStats.Count("neg", scorer.negative, scorer.unicode))
  private val featureFields: Seq[WordStats.Field] =
    mentionLiterals.map { case (name, ls) => WordStats.Rlike(name, ls) }

  /** The one kernel column the enrich columns read; see [[Nlp]]. */
  private val Stats = "__ws"
  private def stat(field: String): Column = col(Stats).getField(field)

  /** Adds the kernel over `fields` as one column, adds `body`'s columns
    * from it and drops it. */
  private def withStats(df: DataFrame, textCol: String, fields: Seq[WordStats.Field])(
      body: DataFrame => DataFrame): DataFrame = {
    val t = col(textCol)
    body(df.withColumn(Stats, WordStats.column(t, lower(t), fields))).drop(Stats)
  }

  /** N1: adds detected_language + language_confidence columns. */
  def withLanguage(df: DataFrame, textCol: String = "text"): DataFrame =
    withStats(df, textCol, languageFields)(language(_, col(textCol)))

  private def language(df: DataFrame, t: Column): DataFrame = {
    val fr = stat("fr")
    val ar = arabicMarkers.indices.map(i => when(stat(s"ar$i"), 1).otherwise(0)).reduce(_ + _)
    val tooShort = length(coalesce(t, lit(""))) < 3
    df.withColumn("detected_language",
        when(tooShort, "unknown")
          .when(fr >= ar && fr > 0, "fr")
          .when(ar > 0, "ar")
          .otherwise("unknown"))
      .withColumn("language_confidence",
        when(tooShort, 0.0)
          .when(col("detected_language") === "unknown", Thresholds.languageUnknownConfidence)
          .otherwise(least(
            greatest(fr, ar).cast("double") / stat(WordStats.Words).cast("double"),
            lit(1.0))))
  }

  /** N2: adds sentiment_score / sentiment_label / sentiment_confidence —
    * plus `subjectivity` for scorers that model it, completing the
    * reference's 4-field analyze_sentiment contract with its
    * min(subjectivity + |polarity|, 1) confidence and all-zero short-text
    * early return (nlp_processor_simple.py:77-121). The scorer is
    * pluggable (see graft.domain.SentimentScorer): the default
    * [[PortableScorer]] is the reference's bit-reproducible 3-column spec
    * the pipeline and q24 run on; [[FullLexiconScorer]] narrows the gap
    * to the reference's TextBlob scorer. Label thresholds (±0.1,
    * nlp_processor_simple.py:96-102) are shared — they're the
    * reference's, independent of lexicon. */
  def withSentiment(df: DataFrame, textCol: String = "text",
      scorer: SentimentScorer = PortableScorer): DataFrame =
    withStats(df, textCol, sentimentFields(scorer))(sentiment(_, col(textCol), scorer))

  private def sentiment(df: DataFrame, t: Column, scorer: SentimentScorer): DataFrame = {
    val (pos, neg) = (stat("pos"), stat("neg"))
    val subjOpt = scorer.subjectivity(pos, neg, stat(WordStats.Words))
    // The reference's analyze_sentiment early-returns all-zero fields for
    // blank/<3-char text (nlp_processor_simple.py:82-88). Applied only on
    // the 4-field contract path: the portable 3-column spec predates it
    // and its oracle (q24) must stay byte-stable.
    val short = length(trim(coalesce(t, lit("")))) < 3
    def guarded(c: Column): Column =
      if (subjOpt.isDefined) when(short, lit(0.0)).otherwise(c) else c
    val base = df
      .withColumn("sentiment_score", guarded(scorer.score(pos, neg)))
      .withColumn("sentiment_label",
        when(col("sentiment_score") > Thresholds.sentimentPositive, "Positive")
          .when(col("sentiment_score") < Thresholds.sentimentNegative, "Negative")
          .otherwise("Neutral"))
      .withColumn("sentiment_confidence",
        guarded(scorer.confidence(pos, neg, col("sentiment_score"), subjOpt)))
    subjOpt.fold(base)(s => base.withColumn("subjectivity", guarded(s)))
  }

  /** N3 preprocessing as a column: lower, accent-preserving letter filter,
    * collapse whitespace, drop stopwords and tokens ≤ 2 chars
    * (nlp_processor_simple.py:146-157). Returns an array<string> column. */
  def topicTokens(textCol: Column): Column = {
    val cleaned = regexp_replace(lower(textCol), "[^a-zàáâäçèéêëìíîïòóôöùúûüÿ\\s]", " ")
    val toks = split(regexp_replace(trim(cleaned), "\\s+", " "), " ")
    array_except(filter(toks, t => length(t) > 2), lit(frenchStopwords.toArray))
  }

  /** N9 feature engineering (run_phase2_transformation.py:142-180). */
  def withFeatures(df: DataFrame, textCol: String = "text"): DataFrame =
    withStats(df, textCol, featureFields)(features(_, col(textCol)))

  private def features(df: DataFrame, t: Column): DataFrame =
    mentionLiterals.foldLeft(df
      .withColumn("word_count", stat(WordStats.Words))
      .withColumn("char_count", length(coalesce(t, lit(""))))
      .withColumn("rating_category",
        when(col("rating") >= Thresholds.ratingHigh, "Positive")
          .when(col("rating") <= Thresholds.ratingLow, "Negative")
          .otherwise("Neutral"))
      .withColumn("review_detail_level",
        when(col("word_count") >= 50, "detailed")
          .when(col("word_count") >= 20, "moderate")
          .otherwise("brief"))
      .withColumn("review_year", year(col("review_time")))
      .withColumn("review_month", date_format(col("review_time"), "yyyy-MM"))
      .withColumn("day_of_week", date_format(col("review_time"), "EEEE"))) {
      case (d, (name, _)) => d.withColumn(name, coalesce(stat(name), lit(false)))
    }

  /** Full silver enrichment: language + sentiment + features (N8 driver,
    * nlp_processor_simple.py:244-286 — one lineage, no iterrows analog),
    * all read from one kernel column, so the text is lowered and scanned
    * once per row. */
  def enrich(staged: DataFrame): DataFrame = {
    val t = col("text")
    withStats(staged, "text",
      languageFields ++ sentimentFields(PortableScorer) ++ featureFields) { d =>
      features(sentiment(language(d, t), t, PortableScorer), t)
    }
  }
}
