package graft.domain

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Pluggable N2 sentiment scoring (SURVEY §2.8). Two implementations:
  *
  *  - [[PortableScorer]] — the reference's own portable keyword spec
  *    (6_test_results/test_phase2_simple.py:83-104): the 10+10 ASCII word
  *    lists, score = clamp(0.2·(pos−neg), ±0.8). This is the spec the
  *    DuckDB-oracled q24 and the silver pipeline run on (bit-reproducible
  *    across engines, which TextBlob's model weights are not).
  *
  *  - [[FullLexiconScorer]] — a TextBlob-grade French/English polarity
  *    wordlist closing the gap to the reference's real scorer
  *    (3_transformation_pipeline/nlp_processor_simple.py:77-121, TextBlob
  *    polarity): ~5× larger lexicon with accented forms, crude negation
  *    cues (ne/pas/non/aucun) as negative entries, and TextBlob's score
  *    shape — mean word polarity (pos−neg)/(pos+neg) in [−1, 1] — instead
  *    of the portable clamp. TextBlob-fr's trained weights aren't
  *    reproducible bit-for-bit in SQL, so this targets LABEL fidelity on
  *    the reference's smoke corpus (nlp_processor_simple.py:319-328),
  *    asserted in NlpSpec.
  *
  * Both are pure column expressions, no UDFs. A scorer names its lists and
  * their boundary mode; the hits are two fields of Nlp's one
  * `graft_word_stats` scan (graft.functions.WordStats), each equal to
  * `regexp_count(lower(text), '\b(w₁|…|wₙ)\b')` (with `(?U)` in front for
  * the full lexicon) by construction.
  */
trait SentimentScorer {
  def positive: Seq[String]
  def negative: Seq[String]

  /** The boundary mode of this scorer's `\b(…)\b` hit counts over
    * `lower(text)`: false for Java's default `\b`, true for `(?U)\b`.
    * The counts themselves are fields of Nlp's one word-stats kernel. */
  def unicode: Boolean

  /** sentiment_score from the two hit-count columns. */
  def score(pos: Column, neg: Column): Column

  /** Optional 4th output of the reference's analyze_sentiment contract
    * (nlp_processor_simple.py:94-121): a subjectivity estimate in [0, 1].
    * None → the scorer emits the 3-column contract (the portable spec,
    * whose oracle q24 predates subjectivity and must stay byte-stable). */
  def subjectivity(pos: Column, neg: Column, words: Column): Option[Column] = None

  /** Confidence shape. Default: the portable 0.3 + 0.1·hits clamp the
    * silver pipeline has always emitted. */
  def confidence(pos: Column, neg: Column, score: Column,
      subj: Option[Column]): Column =
    least(lit(0.3) + lit(0.1) * (pos + neg), lit(1.0))
}

/** Reference-portable spec: ASCII lists, ASCII \b boundaries,
  * clamp(0.2·(pos−neg), ±0.8). */
object PortableScorer extends SentimentScorer {
  def positive: Seq[String] = Nlp.positiveLexicon
  def negative: Seq[String] = Nlp.negativeLexicon

  def unicode: Boolean = false

  def score(pos: Column, neg: Column): Column =
    least(
      greatest(lit(Thresholds.lexiconHitWeight) * (pos - neg),
        lit(-Thresholds.lexiconScoreClamp)),
      lit(Thresholds.lexiconScoreClamp))
}

/** TextBlob-grade French(+English loanword) polarity lexicon. Accented
  * entries require Unicode word boundaries: from JDK 19 on, the default \b
  * follows the ASCII-only \w and treats accented letters as non-word, so
  * `\bélevé\b` never matches there (JDK 17's default \b is letter-aware).
  * The (?U) flag makes \w (hence \b) Unicode-aware on every JDK, for this
  * scorer only; the portable scorer keeps the default semantics so its
  * oracle stays byte-stable.
  */
object FullLexiconScorer extends SentimentScorer {

  /** Positive polarity words (banking-review register, both accented and
    * accent-stripped spellings so raw and normalized text both hit). */
  val positive: Seq[String] = Seq(
    // core portable list (superset property keeps obvious cases stable)
    "bon", "bien", "excellent", "parfait", "rapide", "professionnel",
    "merci", "super", "agreable", "efficace",
    // accented + inflected forms
    "agréable", "bonne", "bons", "bonnes", "excellente", "excellents",
    "parfaite", "rapides", "efficaces", "professionnelle",
    // experience vocabulary
    "accueillant", "accueillante", "accueil", "propre", "organisée",
    "organisee", "moderne", "disponible", "disponibles", "aimable",
    "aimables", "sympathique", "competent", "compétent", "compétente",
    "satisfait", "satisfaite", "satisfaisant", "recommande", "recommandé",
    "facile", "pratique", "utile", "clair", "claire", "souriant",
    "souriante", "impeccable", "formidable", "genial", "génial",
    "magnifique", "remarquable", "exceptionnel", "exceptionnelle",
    // common English loan/review words
    "good", "great", "best", "nice", "helpful", "friendly", "fast")

  /** Negative polarity words, including crude negation cues — ne/pas/non/
    * aucun carry negative polarity themselves (the TextBlob-without-
    * negation-parsing approximation; documented limitation: "pas mal"
    * scores negative). */
  val negative: Seq[String] = Seq(
    // core portable list
    "mauvais", "lent", "attente", "probleme", "nul", "horrible",
    "decevant", "long", "jamais", "pire",
    // accented + inflected forms
    "problème", "problèmes", "problemes", "décevant", "décevante",
    "mauvaise", "mauvaises", "lente", "lents", "longue", "longues",
    "nulle", "horribles",
    // complaint vocabulary
    "impossible", "injustifié", "injustifiés", "injustifies", "élevé",
    "élevés", "eleves", "cher", "chère", "chers", "trop", "fermé",
    "fermée", "ferme", "erreur", "erreurs", "arnaque", "voleur",
    "voleurs", "incompetent", "incompétent", "incompétente", "impoli",
    "impolie", "désagréable", "desagreable", "catastrophique",
    "scandaleux", "inadmissible", "inacceptable", "honteux", "lamentable",
    "difficile", "difficiles", "bloqué", "bloquée", "bloque", "retard",
    // negation cues
    "ne", "pas", "non", "aucun", "aucune", "rien",
    // common English loan/review words
    "bad", "worst", "slow", "rude", "terrible", "awful")

  def unicode: Boolean = true

  /** TextBlob-shaped polarity: mean word polarity in [−1, 1] — the hits
    * average, not a clamped sum, so one strong word in a long neutral
    * sentence still reads ±1 only when unopposed. */
  def score(pos: Column, neg: Column): Column =
    when(pos + neg === 0, lit(0.0))
      .otherwise((pos - neg).cast("double") / (pos + neg))

  /** Lexicon-based subjectivity: the share of words carrying polarity,
    * capped at 1 — the TextBlob approximation where every lexicon entry
    * is fully subjective (subjectivity 1.0) and everything else is
    * objective, so a document's subjectivity is its polarity-word
    * density. Completes the reference's 4-field analyze_sentiment
    * contract (nlp_processor_simple.py:94-121). */
  override def subjectivity(pos: Column, neg: Column, words: Column): Option[Column] =
    Some(least((pos + neg).cast("double") / greatest(words, lit(1)), lit(1.0)))

  /** The reference's confidence shape: min(subjectivity + |polarity|, 1)
    * (nlp_processor_simple.py:105). */
  override def confidence(pos: Column, neg: Column, score: Column,
      subj: Option[Column]): Column =
    least(subj.get + abs(score), lit(1.0))
}
