package graft.queries

import graft.Tables
import graft.functions.WordStats
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-analysis operators over the `documents` table — the language-ID /
  * quality-scoring / token-counting / sentiment surface of SURVEY §2.8
  * re-expressed as pure column expressions (codegen-friendly, no UDFs),
  * plus the training-data-pipeline text ops the 100 TB brief requires.
  *
  * Reference semantics preserved: marker-list language ID with confidence
  * `min(hits/words, 1.0)` and an `unknown` floor of 0.3
  * (nlp_processor_simple.py:42-75); keyword-lexicon sentiment with score
  * `clamp(0.2·(pos−neg), ±0.8)` and ±0.1 label thresholds
  * (test_phase2_simple.py:83-104, nlp_processor_simple.py:96-102).
  */
object TextOps extends QueryModule {

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  private val wsTokens = "size(split(text, ' '))"

  /** `regexp_count(text, '\b(w₁|…|wₙ)\b')` for each named list, case-
    * sensitive, as the fields of one `graft_word_stats` scan of the text
    * (equal by construction, see WordStats). */
  private def wordHits(lists: (String, Seq[String])*): Column =
    WordStats.column(col("text"), col("text"),
      lists.map { case (name, words) => WordStats.Count(name, words, unicode = false) })

  /** Quality scoring: length stats, stopword ratio, quality flag ladder
    * (stg_raw_reviews.sql:28-33 length bands; quality flags P4/P5). */
  private def q21(s: SparkSession, d: String): DataFrame = {
    val nTokens = size(split(col("text"), " "))
    val nChars = length(col("text"))
    val stopHits = regexp_count(col("text"), lit("\\b(the|a)\\b"))
    val avgTokLen = (nChars - (nTokens - 1)).cast("double") / nTokens.cast("double")
    val stopRatio = stopHits.cast("double") / nTokens.cast("double")
    t(s, d, "documents")
      .select(col("doc_id"), nTokens.as("n_tokens"), nChars.as("n_chars_m"),
        avgTokLen.as("avg_token_len"), stopHits.as("stop_hits"),
        stopRatio.as("stop_ratio"))
      .withColumn("quality_flag",
        when(col("n_tokens") < 10, "too_short")
          .when(col("n_tokens") > 5000, "too_long")
          .when(col("stop_ratio") > 0.2, "boilerplate")
          .otherwise("valid"))
      .orderBy("doc_id")
  }
  private val q21Sql =
    s"""SELECT doc_id,
       |  CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
       |  CAST(length(text) AS INTEGER) AS n_chars_m,
       |  CAST(length(text) - (len(string_split(text, ' ')) - 1) AS DOUBLE)
       |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS avg_token_len,
       |  CAST(len(regexp_extract_all(text, '\\b(the|a)\\b')) AS INTEGER) AS stop_hits,
       |  CAST(len(regexp_extract_all(text, '\\b(the|a)\\b')) AS DOUBLE)
       |    / CAST(len(string_split(text, ' ')) AS DOUBLE) AS stop_ratio,
       |  CASE WHEN len(string_split(text, ' ')) < 10 THEN 'too_short'
       |       WHEN len(string_split(text, ' ')) > 5000 THEN 'too_long'
       |       WHEN CAST(len(regexp_extract_all(text, '\\b(the|a)\\b')) AS DOUBLE)
       |            / CAST(len(string_split(text, ' ')) AS DOUBLE) > 0.2 THEN 'boilerplate'
       |       ELSE 'valid' END AS quality_flag
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Marker-list language ID (N1, nlp_processor_simple.py:42-75): per-language
    * marker hit counts, priority resolution, conf = min(hits/words, 1), with
    * the reference's 'unknown' → 0.3 confidence floor. */
  private def q22(s: SparkSession, d: String): DataFrame = {
    val hits = wordHits(
      "en_hits" -> Seq("the", "a", "is", "and", "of"),
      "fr_hits" -> Seq("le", "la", "les", "et", "est", "une"),
      "de_hits" -> Seq("der", "die", "das", "und", "ist"))
    val nTokens = size(split(col("text"), " "))
    t(s, d, "documents")
      .select(col("doc_id"), hits.as("h"), nTokens.as("n_tokens"))
      .select(col("doc_id"), col("h.en_hits"), col("h.fr_hits"), col("h.de_hits"),
        col("n_tokens"))
      .withColumn("lang_pred",
        when(col("fr_hits") > col("en_hits") && col("fr_hits") > col("de_hits"), "fr")
          .when(col("de_hits") > col("en_hits"), "de")
          .when(col("en_hits") > 0, "en")
          .otherwise("unknown"))
      .withColumn("lang_conf",
        when(col("lang_pred") === "unknown", 0.3)
          .otherwise(least(
            greatest(col("en_hits"), col("fr_hits"), col("de_hits")).cast("double")
              / col("n_tokens").cast("double"),
            lit(1.0))))
      .orderBy("doc_id")
  }
  private val q22Sql =
    """WITH h AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '\b(the|a|is|and|of)\b')) AS INTEGER) AS en_hits,
      |    CAST(len(regexp_extract_all(text, '\b(le|la|les|et|est|une)\b')) AS INTEGER) AS fr_hits,
      |    CAST(len(regexp_extract_all(text, '\b(der|die|das|und|ist)\b')) AS INTEGER) AS de_hits,
      |    CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
      |  FROM documents)
      |SELECT doc_id, en_hits, fr_hits, de_hits, n_tokens,
      |  CASE WHEN fr_hits > en_hits AND fr_hits > de_hits THEN 'fr'
      |       WHEN de_hits > en_hits THEN 'de'
      |       WHEN en_hits > 0 THEN 'en'
      |       ELSE 'unknown' END AS lang_pred,
      |  CASE WHEN (CASE WHEN fr_hits > en_hits AND fr_hits > de_hits THEN 'fr'
      |                  WHEN de_hits > en_hits THEN 'de'
      |                  WHEN en_hits > 0 THEN 'en'
      |                  ELSE 'unknown' END) = 'unknown' THEN 0.3
      |       ELSE least(CAST(greatest(en_hits, fr_hits, de_hits) AS DOUBLE)
      |                  / CAST(n_tokens AS DOUBLE), 1.0) END AS lang_conf
      |FROM h ORDER BY doc_id""".stripMargin

  /** Token counting per language group: whitespace tokens + BPE-ish regex
    * tokens (word/number/symbol classes), N9 word_count semantics
    * (run_phase2_transformation.py:149-150). */
  private def q23(s: SparkSession, d: String): DataFrame = {
    val ws = size(split(col("text"), " "))
    val bpe = regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))
    t(s, d, "documents")
      .select(col("lang"), ws.as("ws"), bpe.as("bpe"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ws")).as("total_ws_tokens"),
        (sum(col("ws")).cast("double") / count(lit(1))).as("avg_ws_tokens"),
        sum(col("bpe")).as("total_bpe_tokens"))
      .orderBy("lang")
  }
  private val q23Sql =
    """SELECT lang, COUNT(*) AS n_docs,
      |  CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens,
      |  CAST(SUM(len(string_split(text, ' '))) AS DOUBLE) / COUNT(*) AS avg_ws_tokens,
      |  CAST(SUM(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9\s]'))) AS BIGINT) AS total_bpe_tokens
      |FROM documents GROUP BY lang ORDER BY lang""".stripMargin

  /** Keyword-lexicon sentiment (N2 portable spec, test_phase2_simple.py:83-104):
    * score = clamp(0.2·(pos−neg), ±0.8), label thresholds ±0.1. */
  private def q24(s: SparkSession, d: String): DataFrame = {
    val hits = wordHits("pos_hits" -> Seq("fast", "small"), "neg_hits" -> Seq("slow", "big"))
    t(s, d, "documents")
      .select(col("doc_id"), hits.as("h"))
      .select(col("doc_id"), col("h.pos_hits"), col("h.neg_hits"))
      .withColumn("sentiment_score",
        least(greatest(lit(0.2) * (col("pos_hits") - col("neg_hits")), lit(-0.8)), lit(0.8)))
      .withColumn("sentiment_label",
        when(col("sentiment_score") > 0.1, "Positive")
          .when(col("sentiment_score") < -0.1, "Negative")
          .otherwise("Neutral"))
      .orderBy("doc_id")
  }
  private val q24Sql =
    """WITH h AS (
      |  SELECT doc_id,
      |    CAST(len(regexp_extract_all(text, '\b(fast|small)\b')) AS INTEGER) AS pos_hits,
      |    CAST(len(regexp_extract_all(text, '\b(slow|big)\b')) AS INTEGER) AS neg_hits
      |  FROM documents),
      |sc AS (
      |  SELECT doc_id, pos_hits, neg_hits,
      |    least(greatest(CAST(0.2 AS DOUBLE) * (pos_hits - neg_hits),
      |                   CAST(-0.8 AS DOUBLE)), CAST(0.8 AS DOUBLE)) AS sentiment_score
      |  FROM h)
      |SELECT doc_id, pos_hits, neg_hits, sentiment_score,
      |  CASE WHEN sentiment_score > 0.1 THEN 'Positive'
      |       WHEN sentiment_score < -0.1 THEN 'Negative'
      |       ELSE 'Neutral' END AS sentiment_label
      |FROM sc ORDER BY doc_id""".stripMargin

  /** Rolling-hash document fingerprinting: order-sensitive polynomial hash
    * over characters mod 2^31−1, full text + 64-char prefix variant.
    * Expressed as an ordered fold (`aggregate`) — codegen-friendly, no UDF. */
  private def q25(s: SparkSession, d: String): DataFrame = {
    // coalesce(text, ''): a NULL doc must fingerprint as the empty string
    // in BOTH engines (Spark's fold of a NULL array is NULL while DuckDB's
    // list_prepend(0, NULL) folds to 0 — found by tools/fuzz_corpus.py).
    val fp = expr(
      "aggregate(split(coalesce(text, ''), ''), 0L, (a, c) -> (a * 31 + ascii(c)) % 2147483647)")
    val fpPrefix = expr(
      "aggregate(split(substring(coalesce(text, ''), 1, 64), ''), 0L, (a, c) -> (a * 31 + ascii(c)) % 2147483647)")
    t(s, d, "documents")
      .select(col("doc_id"), fp.as("fp_full"), fpPrefix.as("fp_prefix"))
      .orderBy("doc_id")
  }
  private val q25Sql =
    """SELECT doc_id,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(string_split(COALESCE(text, ''), ''), c -> CAST(ascii(c) AS BIGINT))),
      |    (a, b) -> (a * 31 + b) % 2147483647) AS fp_full,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(string_split(substring(COALESCE(text, ''), 1, 64), ''), c -> CAST(ascii(c) AS BIGINT))),
      |    (a, b) -> (a * 31 + b) % 2147483647) AS fp_prefix
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Ordinal token explode (LATERAL VIEW posexplode): token position kept
    * through the flatten — the UDTF-with-ordinality surface q17's plain
    * explode drops. Oracle zips DuckDB's parallel unnests positionally
    * (generate_series ∥ the token list); no WITH ORDINALITY in its 1.0
    * dialect. */
  private def q71(s: SparkSession, d: String): DataFrame = {
    t(s, d, "documents")
      .filter(col("doc_id") < 50)
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "token")))
      .orderBy("doc_id", "pos")
  }
  private val q71Sql =
    """SELECT doc_id,
      |  CAST(unnest(generate_series(1, len(string_split(text, ' ')))) - 1 AS INTEGER) AS pos,
      |  unnest(string_split(text, ' ')) AS token
      |FROM documents WHERE doc_id < 50
      |ORDER BY doc_id, pos""".stripMargin

  /** Exact distributed heavy hitters (tokens with count >= total/500) via
    * the mergeable-summaries two-phase shape: phase 1 runs Misra-Gries
    * with k=512 counters per partition inside mapPartitions — the genuine
    * per-partition-imperative tier — emitting a small candidate set;
    * phase 2 exactly recounts candidates only (broadcast semi-join) and
    * filters by the integer-exact cnt*500 >= N test.
    *
    * Exactness proof: a token with global count >= N/500 has count
    * >= n_p/500 in at least one partition p (else summing over partitions
    * contradicts the global bound). Misra-Gries with k counters performs
    * at most n_p/(k+1) decrement rounds, so any token with partition count
    * > n_p/(k+1) survives; k=512 > 499 makes n_p/513 < n_p/500, hence
    * every qualifying token reaches phase 2, where counting is exact —
    * no false negatives, and phase 2 removes all false positives. At scale
    * this touches the corpus twice with ZERO wide shuffles on raw tokens:
    * the only aggregation keyed on token is over the candidate subset. */
  private def q73(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val toks = t(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
    val cands = toks.as[String]
      .mapPartitions(graft.operators.FreqItems.misraGries(_, 512))
      .distinct().toDF("tok")
    val counts = toks.join(broadcast(cands), "tok")
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val tot = toks.agg(count(lit(1)).as("tn"))
    graft.Scalars.withScalar(counts, tot)
      .filter(col("cnt") * 500 >= col("tn"))
      .select(col("tok"), col("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
  }
  private val q73Sql =
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |c AS (SELECT tok, COUNT(*) AS cnt FROM tok GROUP BY tok),
      |tot AS (SELECT SUM(cnt) AS tn FROM c)
      |SELECT tok, cnt FROM c, tot WHERE cnt * 500 >= tn
      |ORDER BY cnt DESC, tok""".stripMargin

  /** Count-Min Sketch token frequency (q73's approximate sibling): the
    * sketch builds in ONE pass over raw token occurrences with zero
    * token-keyed shuffle — per-partition partial sketches merge as fixed
    * 32 KB arrays — then the exact top-30 tokens are looked up against it.
    * Output: exact count, CMS estimate, and the never-underestimates
    * invariant. Because cell indexing uses the portable h60/affine family
    * (graft.operators.CmsAgg), DuckDB rebuilds the sketch cells verbatim
    * and the ESTIMATES hash-match exactly — not a tolerance check.
    *
    * At 100 TB: the exact-top-30 branch exists to ground the oracle; the
    * sketch branch is the scale artifact (mergeable, broadcastable,
    * constant-size). */
  private def q83(s: SparkSession, d: String): DataFrame = {
    val toks = t(s, d, "documents")
      .select(explode(split(col("text"), " ")).as("tok"))
      .withColumn("hm", expr("graft_h60(tok)"))
    val cms = toks.agg(graft.operators.CmsAgg(col("hm")).as("cms"))
    val top = toks.groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
      .orderBy(col("exact_cnt").desc, col("tok"))
      .limit(30)
    graft.Scalars.withScalar(top, cms)
      .withColumn("cms_est",
        graft.operators.CmsAgg.estimate(col("cms"), expr("graft_h60(tok)")))
      .select(col("tok").as("token"), col("exact_cnt"), col("cms_est"),
        (col("cms_est") >= col("exact_cnt")).as("no_underestimate"))
      .orderBy(col("exact_cnt").desc, col("token"))
  }
  private val q83Sql =
    """WITH tok AS (SELECT unnest(string_split(text, ' ')) AS tk FROM documents),
      |hm AS (SELECT tk, ('0x' || substr(md5(tk), 1, 15))::BIGINT % 2147483647 AS h FROM tok),
      |perms AS (
      |  SELECT p, (1103515245 * (p + 1) + 12345) % 2147483647 AS a,
      |         (69069 * (p + 1) + 1) % 2147483647 AS b
      |  FROM (SELECT unnest(generate_series(0, 3)) AS p)),
      |cells AS (
      |  SELECT p, ((a * h + b) % 2147483647) % 1024 AS cell, COUNT(*) AS c
      |  FROM hm CROSS JOIN perms GROUP BY 1, 2),
      |top AS (
      |  SELECT tk, COUNT(*) AS exact_cnt FROM tok GROUP BY tk
      |  ORDER BY exact_cnt DESC, tk LIMIT 30),
      |est AS (
      |  SELECT t.tk, t.exact_cnt, MIN(c.c) AS cms_est
      |  FROM top t CROSS JOIN perms pr
      |  JOIN cells c ON c.p = pr.p AND c.cell =
      |    ((pr.a * (('0x' || substr(md5(t.tk), 1, 15))::BIGINT % 2147483647) + pr.b)
      |      % 2147483647) % 1024
      |  GROUP BY t.tk, t.exact_cnt)
      |SELECT tk AS token, exact_cnt, cms_est,
      |  cms_est >= exact_cnt AS no_underestimate
      |FROM est ORDER BY exact_cnt DESC, token""".stripMargin

  /** Rare-bigram quality scoring — the n-gram-LM-style document filter a
    * training-data pipeline runs before model consumption: documents whose
    * adjacent-token pairs are mostly corpus-rare (global count ≤ 2) are
    * gibberish/boilerplate candidates. Two wide exchanges, both inherent:
    * the global bigram count (map-side partial aggregation absorbs the
    * zipf head) and the bigram-keyed join of docs back to their counts —
    * the standard corpus-statistics join shape at any scale. The quality
    * flag is pure integer arithmetic (n_rare·2 ≤ n_bigrams); only the
    * reported ratio divides, once, in doubles. */
  private def q84(s: SparkSession, d: String): DataFrame = {
    val bi = t(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(1, size(toks) - 1), i -> concat(toks[i-1], ' ', toks[i]))"))
        .as("bigram"))
    val glob = bi.groupBy(col("bigram")).agg(count(lit(1)).as("gcnt"))
    bi.join(glob, "bigram")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        count(when(col("gcnt") <= 2, 1)).as("n_rare"))
      .select(col("doc_id"), col("n_bigrams"), col("n_rare"),
        (col("n_rare").cast("double") / col("n_bigrams").cast("double")).as("rare_ratio"),
        (col("n_rare") * 2 <= col("n_bigrams")).as("passes_quality"))
      .orderBy("doc_id")
  }
  private val q84Sql =
    """WITH docs AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |  WHERE len(string_split(text, ' ')) >= 2),
      |bi AS (
      |  SELECT doc_id, toks[i] || ' ' || toks[i+1] AS bigram
      |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 1)) AS i
      |        FROM docs)),
      |gstats AS (SELECT bigram, COUNT(*) AS gcnt FROM bi GROUP BY bigram)
      |SELECT b.doc_id, COUNT(*) AS n_bigrams,
      |  COUNT(*) FILTER (WHERE g.gcnt <= 2) AS n_rare,
      |  CAST(COUNT(*) FILTER (WHERE g.gcnt <= 2) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS rare_ratio,
      |  COUNT(*) FILTER (WHERE g.gcnt <= 2) * 2 <= COUNT(*) AS passes_quality
      |FROM bi b JOIN gstats g USING (bigram)
      |GROUP BY b.doc_id ORDER BY b.doc_id""".stripMargin

  /** Gopher-style rule-set quality filter (Rae et al. 2021, "Scaling
    * Language Models: ... Gopher", §A1.1 — the standard pre-training
    * document gate): word count bounds, mean word length band, most-
    * frequent-word dominance cap, minimum stopword evidence. Thresholds
    * are tuned to the synthetic corpus so the gate splits it non-
    * trivially; the rule SHAPES are the published ones. Scale: one
    * explode + two (doc-keyed) partial hash aggregations — the same
    * corpus-statistics shape as q84, no window, no driver state. All
    * ratios divide once in doubles from exact integer sums, so the
    * DuckDB comparison is bit-exact at the rule boundaries too. */
  private def q88(s: SparkSession, d: String): DataFrame = {
    val stop = Seq("the", "a", "of", "to", "and", "in")
    val tf = t(s, d, "documents")
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
    val stats = tf.groupBy(col("doc_id")).agg(
      sum(col("c")).as("word_count"),
      max(col("c")).as("top_cnt"),
      sum(length(col("tok")) * col("c")).as("char_sum"),
      sum(when(col("tok").isin(stop: _*), col("c")).otherwise(lit(0L)))
        .as("stop_hits"))
    val meanLen = col("char_sum").cast("double") / col("word_count")
    val topFrac = col("top_cnt").cast("double") / col("word_count")
    stats.select(col("doc_id"), col("word_count"),
        meanLen.as("mean_word_len"), topFrac.as("top_word_frac"),
        col("stop_hits"),
        (col("word_count") >= 30 && col("word_count") <= 1000 &&
          meanLen >= 3.0 && meanLen <= 10.0 &&
          topFrac < 0.2 && col("stop_hits") >= 2).as("passes_gopher"))
      .orderBy("doc_id")
  }
  private val q88Sql =
    """WITH tok AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |tf AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY doc_id, tok),
      |stats AS (
      |  SELECT doc_id,
      |    CAST(SUM(c) AS BIGINT) AS word_count,
      |    CAST(MAX(c) AS BIGINT) AS top_cnt,
      |    CAST(SUM(len(tok) * c) AS BIGINT) AS char_sum,
      |    CAST(SUM(CASE WHEN tok IN ('the','a','of','to','and','in')
      |              THEN c ELSE 0 END) AS BIGINT) AS stop_hits
      |  FROM tf GROUP BY doc_id)
      |SELECT doc_id, word_count,
      |  CAST(char_sum AS DOUBLE) / word_count AS mean_word_len,
      |  CAST(top_cnt AS DOUBLE) / word_count AS top_word_frac,
      |  stop_hits,
      |  (word_count >= 30 AND word_count <= 1000
      |   AND CAST(char_sum AS DOUBLE) / word_count >= 3.0
      |   AND CAST(char_sum AS DOUBLE) / word_count <= 10.0
      |   AND CAST(top_cnt AS DOUBLE) / word_count < 0.2
      |   AND stop_hits >= 2) AS passes_gopher
      |FROM stats ORDER BY doc_id""".stripMargin

  /** Gopher REPETITION signals (Rae et al. 2021 §A1.1, Table A1) — the
    * second half of the Gopher gate beside q88's rule set: documents
    * dominated by repeated n-grams are boilerplate/spam. Emitted per doc:
    * the most frequent word bigram and the character share of all its
    * occurrences (threshold ≤ 0.20), and the character share of
    * duplicated 5-grams — Σ over 5-grams with count ≥ 2 of
    * count·length(gram) — (threshold ≤ 0.15). The corpus has no newlines,
    * so the line-level duplicate signals are vacuous here and the
    * word-level family is the meaningful one.
    *
    * Portability: all counting is exact integer arithmetic; each fraction
    * is ONE double division, identical in DuckDB. Top-bigram tie-break is
    * (count DESC, gram ASC) via min(struct(-cnt, gram)) — a hash
    * aggregation, not a window sort (the oracle uses ROW_NUMBER; same
    * result, different physical shape).
    *
    * Scale shape: explode → (doc_id, gram)-keyed partial hash aggs →
    * doc-keyed rollup, q88's pattern — linear in corpus size with
    * map-side combine, no per-doc quadratic work, no window over grams. */
  private def q91(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .select(col("doc_id"), length(col("text")).as("n_chars"),
        split(trim(col("text")), "\\s+").as("toks"))
      .localCheckpoint(true) // two gram sizes read it; don't re-split per branch
    def gramCounts(n: Int) = docs
      .filter(size(col("toks")) >= n)
      .select(col("doc_id"), col("n_chars"),
        explode(expr(s"transform(sequence(1, size(toks) - ${n - 1})," +
          s" i -> array_join(slice(toks, i, $n), ' '))")).as("gram"))
      .groupBy(col("doc_id"), col("gram"))
      .agg(count(lit(1)).as("cnt"), max(col("n_chars")).as("nc"))
    val top2 = gramCounts(2)
      .groupBy(col("doc_id"))
      .agg(min(struct((-col("cnt")).as("neg"), col("gram"))).as("t"),
        max(col("nc")).as("nc"))
      .select(col("doc_id"), col("t.gram").as("top_bigram"),
        ((-col("t.neg")) * length(col("t.gram"))).cast("double")
          ./(col("nc")).as("top_bigram_frac"))
    val dup5 = gramCounts(5)
      .groupBy(col("doc_id"))
      .agg((coalesce(
          sum(when(col("cnt") >= 2, col("cnt") * length(col("gram")))), lit(0L))
        .cast("double") / max(col("nc"))).as("dup_5gram_frac"))
    t(s, d, "documents").select(col("doc_id"))
      .join(top2, Seq("doc_id"), "left")
      .join(dup5, Seq("doc_id"), "left")
      .select(col("doc_id"), col("top_bigram"),
        coalesce(col("top_bigram_frac"), lit(0.0)).as("top_bigram_frac"),
        coalesce(col("dup_5gram_frac"), lit(0.0)).as("dup_5gram_frac"),
        (coalesce(col("top_bigram_frac"), lit(0.0)) <= 0.20 &&
          coalesce(col("dup_5gram_frac"), lit(0.0)) <= 0.15)
          .as("repetition_pass"))
      .orderBy("doc_id")
  }
  private val q91Sql =
    """WITH toks AS (
      |  SELECT doc_id, length(text) AS n_chars,
      |    regexp_split_to_array(trim(text), '\s+') AS t
      |  FROM documents),
      |g2 AS (
      |  SELECT doc_id, n_chars,
      |    unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS gram
      |  FROM toks WHERE len(t) >= 2),
      |c2 AS (SELECT doc_id, gram, ANY_VALUE(n_chars) AS nc, COUNT(*) AS cnt
      |       FROM g2 GROUP BY doc_id, gram),
      |top2 AS (
      |  SELECT doc_id, gram AS top_bigram,
      |    CAST(cnt * length(gram) AS DOUBLE) / nc AS top_bigram_frac
      |  FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
      |          ORDER BY cnt DESC, gram) AS rn FROM c2)
      |  WHERE rn = 1),
      |g5 AS (
      |  SELECT doc_id, n_chars,
      |    unnest(list_transform(range(1, len(t) - 3),
      |      i -> array_to_string(t[i:i + 4], ' '))) AS gram
      |  FROM toks WHERE len(t) >= 5),
      |c5 AS (SELECT doc_id, gram, ANY_VALUE(n_chars) AS nc, COUNT(*) AS cnt
      |       FROM g5 GROUP BY doc_id, gram),
      |d5 AS (
      |  SELECT doc_id,
      |    CAST(COALESCE(SUM(CASE WHEN cnt >= 2 THEN cnt * length(gram) END), 0)
      |      AS DOUBLE) / ANY_VALUE(nc) AS dup_5gram_frac
      |  FROM c5 GROUP BY doc_id)
      |SELECT d.doc_id, top_bigram,
      |  COALESCE(top_bigram_frac, 0.0) AS top_bigram_frac,
      |  COALESCE(dup_5gram_frac, 0.0) AS dup_5gram_frac,
      |  (COALESCE(top_bigram_frac, 0.0) <= 0.20
      |   AND COALESCE(dup_5gram_frac, 0.0) <= 0.15) AS repetition_pass
      |FROM documents d
      |LEFT JOIN top2 USING (doc_id) LEFT JOIN d5 USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Regex group-extraction surface (regexp_extract with capture groups,
    * regexp_extract_all counting, regexp_like) — the extraction family
    * next to q10's regexp_replace and q41's redaction. Patterns stay in
    * the RE2-safe subset (no backrefs/lookaround) where Java regex (Spark)
    * and RE2 (DuckDB) agree. DuckDB 1.0 has no regexp_count, so the
    * oracle counts len(regexp_extract_all(..)). */
  private def q78(s: SparkSession, d: String): DataFrame = {
    t(s, d, "customer")
      .select(col("c_custkey"),
        regexp_extract(col("c_name"), "Customer#0*([0-9]+)$", 1).as("id_digits"),
        regexp_extract(col("c_name"), "^([A-Za-z]+)#", 1).as("entity"),
        expr("regexp_count(c_name, '[0-9]')").cast("int").as("n_digits"),
        col("c_name").rlike("^Customer#[0-9]{9}$").as("well_formed"))
      .orderBy("c_custkey")
  }
  private val q78Sql =
    """SELECT c_custkey,
      |  regexp_extract(c_name, 'Customer#0*([0-9]+)$', 1) AS id_digits,
      |  regexp_extract(c_name, '^([A-Za-z]+)#', 1) AS entity,
      |  CAST(len(regexp_extract_all(c_name, '[0-9]')) AS INTEGER) AS n_digits,
      |  regexp_matches(c_name, '^Customer#[0-9]{9}$') AS well_formed
      |FROM customer ORDER BY c_custkey""".stripMargin

  /** BPE merge-pair statistics (Sennrich et al. 2016, "Neural Machine
    * Translation of Rare Words with Subword Units", Alg. 1) — the first
    * iteration of BPE vocabulary training at corpus scale: count adjacent
    * character pairs weighted by word frequency; the highest-count pair
    * is the first merge a tokenizer trained on this corpus would learn.
    * Emits the top 20 candidates with deterministic (count DESC, pair)
    * order.
    *
    * Scale shape — the reason BPE training is feasible on a 100 TB
    * corpus: the ONLY corpus-proportional pass is the word-frequency hash
    * aggregation (map-side combine absorbs the zipf head). Pair explosion
    * runs over the DISTINCT-WORD table — vocabulary-sized, millions of
    * rows at any corpus size, not trillions — each pair weighted by the
    * word's corpus count. Top-20 is TakeOrderedAndProject, no global
    * sort, no window. */
  /** Word-frequency table — the ONLY corpus-proportional pass of the BPE
    * family (q101/q102). */
  private[queries] def bpeWordFreq(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(explode(split(trim(col("text")), "\\s+")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Frequency-weighted adjacent-pair counts over a (word, freq, extra...)
    * vocabulary table. The length guard is load-bearing for q102: a fully
    * merged 2-char word collapses to 1 symbol, and Spark's
    * sequence(1, 0) is a DESCENDING [1, 0] — not empty like DuckDB's
    * generate_series(1, 0) — so unguarded it would fabricate pairs. */
  private[queries] def bpePairCounts(words: DataFrame, extra: Seq[String] = Nil): DataFrame =
    words.filter(length(col("word")) >= 2)
      .select((col("freq") +: extra.map(col)) :+ explode(expr(
        "transform(sequence(1, length(word) - 1)," +
          " i -> substr(word, i, 2))")).as("pair"): _*)
      .groupBy(("pair" +: extra).map(col): _*)
      .agg(sum(col("freq")).as("pair_count"))

  private def q101(s: SparkSession, d: String): DataFrame =
    bpePairCounts(bpeWordFreq(s, d))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(20)
  private val q101Sql =
    """WITH w AS (
      |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
      |        FROM documents)
      |  WHERE length(word) >= 2 GROUP BY word),
      |p AS (
      |  SELECT substr(word, i, 2) AS pair, freq
      |  FROM (SELECT word, freq, unnest(generate_series(1, length(word) - 1)) AS i
      |        FROM w))
      |SELECT pair, CAST(SUM(freq) AS BIGINT) AS pair_count
      |FROM p GROUP BY pair
      |ORDER BY pair_count DESC, pair LIMIT 20""".stripMargin

  /** Second BPE iteration (q102): take q101's winning pair, APPLY the
    * merge across the vocabulary (the merged symbol becomes one
    * placeholder char, '@' — absent from the corpus alphabet — so
    * 2-char-windowed pair counting stays valid, and replace()'s
    * leftmost-non-overlapping semantics match BPE's greedy merge in both
    * engines), then recount. Demonstrates the training ITERATION, not
    * just one census: merge selection is a 1-row scalar attached via
    * [[graft.Scalars.withScalar]] (broadcast, provably ≤1 row from
    * LIMIT 1), the vocabulary is checkpointed once for its two
    * references, and the corpus is still only read by the q101-shared
    * word-frequency aggregation. */
  private def q102(s: SparkSession, d: String): DataFrame = {
    val wf = bpeWordFreq(s, d).localCheckpoint(true)
    val top1 = bpePairCounts(wf)
      .orderBy(col("pair_count").desc, col("pair")).limit(1)
      .select(col("pair").as("merged_pair"))
    val merged = graft.Scalars.withScalar(wf, top1)
      .select(col("freq"), col("merged_pair"),
        expr("replace(word, merged_pair, '@')").as("word"))
    bpePairCounts(merged, Seq("merged_pair"))
      .orderBy(col("pair_count").desc, col("pair"))
      .limit(20)
      .select(col("merged_pair"), col("pair"), col("pair_count"))
  }
  private val q102Sql =
    """WITH w AS (
      |  SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
      |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS word
      |        FROM documents)
      |  WHERE length(word) >= 2 GROUP BY word),
      |p1 AS (
      |  SELECT substr(word, i, 2) AS pair, freq
      |  FROM (SELECT word, freq, unnest(generate_series(1, length(word) - 1)) AS i
      |        FROM w)),
      |t1 AS (
      |  SELECT pair AS merged_pair FROM p1 GROUP BY pair
      |  ORDER BY SUM(freq) DESC, pair LIMIT 1),
      |m AS (
      |  SELECT replace(w.word, t1.merged_pair, '@') AS word, w.freq,
      |    t1.merged_pair
      |  FROM w, t1),
      |p2 AS (
      |  SELECT substr(word, i, 2) AS pair, freq, merged_pair
      |  FROM (SELECT word, freq, merged_pair,
      |          unnest(generate_series(1, length(word) - 1)) AS i
      |        FROM m WHERE length(word) >= 2))
      |SELECT merged_pair, pair, CAST(SUM(freq) AS BIGINT) AS pair_count
      |FROM p2 GROUP BY merged_pair, pair
      |ORDER BY pair_count DESC, pair LIMIT 20""".stripMargin

  /** Corpus card (q103): the one-row dataset-documentation summary a
    * data team publishes with a training corpus (the "Datasheets for
    * Datasets" / model-card numbers): corpus size, source diversity,
    * vocabulary size, type-token ratio, document-length distribution,
    * and source concentration.
    *
    * Portability: every count is exact integer; each ratio is ONE double
    * division; the length percentiles use Spark's exact `percentile` =
    * DuckDB `quantile_cont` (the q44-proven pairing).
    *
    * Scale shape: three independent aggregation branches — doc-level
    * stats, exact distinct-vocabulary count (shuffled by word with
    * map-side partial distinct), per-source counts → max — each a narrow
    * scan into a partial+final agg, composed via the enforced ≤1-row
    * [[graft.Scalars.withScalar]] broadcasts; the doc-level projection
    * is checkpointed once for its consumers. The doc-length percentiles
    * go through [[PctGate]] (one multi-fraction pass): exact to 2^23
    * docs, the deterministic md5-ticket sample above — the same branch
    * derived in the oracle, so the card stays bit-green at every
    * scale instead of documenting an approx_percentile swap it never
    * executes. */
  private def q103(s: SparkSession, d: String): DataFrame = {
    val dt = t(s, d, "documents")
      .select(col("doc_id"), col("source"),
        size(split(trim(col("text")), "\\s+")).cast("long").as("n_tokens"),
        length(col("text")).cast("long").as("n_chars"))
      .localCheckpoint(true)
    val base = dt.agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("source")).as("n_sources"),
      sum(col("n_tokens")).as("total_tokens"),
      sum(col("n_chars")).as("total_chars"))
    val pct = PctGate.thresholdsDfLazy(dt, "n_tokens",
      Seq("0.5", "0.9"), Seq("p50_doc_tokens", "p90_doc_tokens"), "q103pct")
    val vocab = t(s, d, "documents")
      .select(explode(split(trim(col("text")), "\\s+")).as("w"))
      .agg(countDistinct(col("w")).as("vocab_size"))
    val topSrc = dt.groupBy(col("source")).agg(count(lit(1)).as("c"))
      .agg(max(col("c")).as("top_source_docs"))
    Seq(pct, vocab, topSrc).foldLeft(base)(graft.Scalars.withScalar)
      .select(col("n_docs"), col("n_sources"), col("total_tokens"),
        col("total_chars"), col("vocab_size"),
        (col("vocab_size").cast("double") / col("total_tokens"))
          .as("type_token_ratio"),
        (col("total_tokens").cast("double") / col("n_docs"))
          .as("mean_doc_tokens"),
        col("p50_doc_tokens"), col("p90_doc_tokens"),
        (col("top_source_docs").cast("double") / col("n_docs"))
          .as("top_source_share"))
  }
  private def q103Sql =
    s"""WITH dt AS (
      |  SELECT doc_id, source,
      |    CAST(len(regexp_split_to_array(trim(text), '\\s+')) AS BIGINT)
      |      AS n_tokens,
      |    CAST(length(text) AS BIGINT) AS n_chars
      |  FROM documents),
      |base AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |    CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
      |    CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
      |    CAST(SUM(n_chars) AS BIGINT) AS total_chars
      |  FROM dt),
      |thr AS (${PctGate.thresholdsSql("dt", "CAST(n_tokens AS DOUBLE)",
           Seq("0.5", "0.9"), Seq("p50_doc_tokens", "p90_doc_tokens"), "q103pct")}),
      |v AS (
      |  SELECT CAST(COUNT(DISTINCT w) AS BIGINT) AS vocab_size
      |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS w
      |        FROM documents)),
      |src AS (
      |  SELECT CAST(MAX(c) AS BIGINT) AS top_source_docs
      |  FROM (SELECT COUNT(*) AS c FROM dt GROUP BY source))
      |SELECT n_docs, n_sources, total_tokens, total_chars, vocab_size,
      |  CAST(vocab_size AS DOUBLE) / total_tokens AS type_token_ratio,
      |  CAST(total_tokens AS DOUBLE) / n_docs AS mean_doc_tokens,
      |  p50_doc_tokens, p90_doc_tokens,
      |  CAST(top_source_docs AS DOUBLE) / n_docs AS top_source_share
      |FROM base, thr, v, src""".stripMargin

  /** q142 — PMI collocation mining (Church & Hanks 1990, "Word
    * Association Norms, Mutual Information, and Lexicography"): rank
    * adjacent word pairs by pointwise mutual information
    * `PMI(a,b) = ln P(a,b) − ln P(a) − ln P(b)` with the standard
    * min-count ≥ 5 noise floor — the corpus-analysis op behind
    * multi-word-expression vocabularies (collocations promoted to
    * single tokens) and corpus-drift dashboards. Beside q84 (rare-bigram
    * quality) and q101 (BPE pair frequency): same transition pass, a
    * different published statistic.
    *
    * All ln arguments are integers (pair/unigram counts and the two
    * totals), so [[LmOps.PortableLn]] keeps every PMI double
    * bit-identical in DuckDB:
    * `pmi = ln c(a,b) − ln c(a) − ln c(b) + (2·ln Nu − ln Nb)`.
    *
    * Scale shape: two corpus-proportional hash aggregations (unigram +
    * bigram counts, zipf head absorbed map-side); the min-count filter
    * lands BEFORE the count joins so the scored table is the filtered
    * vocabulary²-bounded set; top-50 plans as TakeOrderedAndProject
    * (partial per-partition top-k, no global sort, no window at all —
    * the tie-broken total order (pmi desc, w1, w2) makes the selected
    * set deterministic in both engines). */
  private def q142(s: SparkSession, d: String): DataFrame = {
    val base = t(s, d, "documents")
      .select(col("doc_id"), split(trim(coalesce(col("text"), lit(""))), "\\s+").as("toks"))
      .filter(size(col("toks")) >= 2)
      .localCheckpoint(true) // consumers: transitions + unigrams
    val trans = base.select(explode(expr(
      "transform(sequence(1, size(toks) - 1)," +
        " i -> struct(toks[i-1] as w1, toks[i] as w2))")).as("x"))
      .select(col("x.w1").as("w1"), col("x.w2").as("w2"))
    val uni = base.select(explode(col("toks")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("uc"))
      .localCheckpoint(true) // consumers: two count joins + Nu scalar
    val bc = trans.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("pair_count"))
      .localCheckpoint(true) // consumers: Nb scalar + scored rows
    val nu = uni.agg(sum(col("uc")).as("nu"))
    val nb = bc.agg(sum(col("pair_count")).as("nb"))
    val joined = graft.Scalars.withScalar(graft.Scalars.withScalar(
      bc.filter(col("pair_count") >= 5)
        .join(uni.select(col("w").as("w1"), col("uc").as("ca")), Seq("w1"))
        .join(uni.select(col("w").as("w2"), col("uc").as("cb")), Seq("w2")),
      nu), nb)
    val lnCols = LmOps.PortableLn.steps("pair_count", "a", spark = true) ++
      LmOps.PortableLn.steps("ca", "b", spark = true) ++
      LmOps.PortableLn.steps("cb", "c", spark = true) ++
      LmOps.PortableLn.steps("nu", "u", spark = true) ++
      LmOps.PortableLn.steps("nb", "v", spark = true)
    lnCols.foldLeft(joined) { case (df, (n, e)) => df.withColumn(n, expr(e)) }
      .select(col("w1"), col("w2"), col("pair_count"),
        expr("((lna - lnb) - lnc) + ((2e0 * lnu) - lnv)").as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(50)
  }
  private def q142Sql: String = {
    val (last, ctes) = LmOps.lnCtes("j0", "l",
      Seq("pair_count" -> "a", "ca" -> "b", "cb" -> "c", "nu" -> "u", "nb" -> "v"))
    s"""WITH base AS (
       |  SELECT doc_id, regexp_split_to_array(trim(COALESCE(text, '')), '\\s+') AS toks
       |  FROM documents
       |  WHERE len(regexp_split_to_array(trim(COALESCE(text, '')), '\\s+')) >= 2),
       |trans AS (
       |  SELECT toks[i] AS w1, toks[i + 1] AS w2
       |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 1)) AS i FROM base)),
       |uni AS (
       |  SELECT w, CAST(COUNT(*) AS BIGINT) AS uc
       |  FROM (SELECT unnest(toks) AS w FROM base) GROUP BY w),
       |bc AS (
       |  SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS pair_count
       |  FROM trans GROUP BY w1, w2),
       |nuv AS (SELECT CAST(SUM(uc) AS BIGINT) AS nu FROM uni),
       |nbv AS (SELECT CAST(SUM(pair_count) AS BIGINT) AS nb FROM bc),
       |j0 AS (
       |  SELECT b.w1, b.w2, b.pair_count, ua.uc AS ca, ub.uc AS cb,
       |    (SELECT nu FROM nuv) AS nu, (SELECT nb FROM nbv) AS nb
       |  FROM bc b JOIN uni ua ON ua.w = b.w1 JOIN uni ub ON ub.w = b.w2
       |  WHERE b.pair_count >= 5),
       |${ctes.mkString(",\n")}
       |SELECT w1, w2, pair_count,
       |  ((lna - lnb) - lnc) + ((2e0 * lnu) - lnv) AS pmi
       |FROM $last
       |ORDER BY pmi DESC, w1, w2 LIMIT 50""".stripMargin
  }

  // ---------------------------------------------------------------- q224

  /** q224 — Unicode-script profile + confusable-mixing screen, the
    * homoglyph-poisoning gate: an attacker substituting Cyrillic/Greek
    * confusables into Latin text (or vice versa) defeats exact AND
    * shingle dedup while reading identically to humans and tokenizing
    * into rare garbage (the classic spoofing vector — Unicode TR #39's
    * mixed-script confusable class; "bad characters" corpus-poisoning
    * literature, e.g. Boucher et al. 2022, "Bad Characters:
    * Imperceptible NLP Attacks"). Per doc: counts of codepoints in the
    * five major script blocks (length-difference over a class
    * regexp_replace — one regex pass per script, row-local), an `other`
    * remainder, the dominant script by a fixed-priority exact-integer
    * CASE ladder, and the confusable flag — Latin mixed with Cyrillic
    * or Greek in ONE document. q174's code-switch gate measures
    * LANGUAGE mixing across words; this measures SCRIPT mixing at the
    * codepoint level, which is the one q174 cannot see (а vs a is the
    * same "word").
    *
    * Dialect parity: the char classes are spelled with `\\x{hhhh}`
    * escapes — the one codepoint-escape syntax Java's Pattern and RE2
    * share — and the patterns are TEXTUALLY IDENTICAL in both engines;
    * counts are length differences of exact integers.
    *
    * Scale shape: pure row-local projection (five regex passes in one
    * codegen stage), zero shuffles beyond the output order. */
  private def q224(s: SparkSession, d: String): DataFrame = {
    val scripts = Seq(
      "n_latin" -> "[A-Za-z\\x{00C0}-\\x{024F}]",
      "n_cyrillic" -> "[\\x{0400}-\\x{04FF}]",
      "n_greek" -> "[\\x{0370}-\\x{03FF}]",
      "n_han" -> "[\\x{4E00}-\\x{9FFF}]",
      "n_arabic" -> "[\\x{0600}-\\x{06FF}]")
    val base = t(s, d, "documents")
      .select(col("doc_id"), coalesce(col("text"), lit("")).as("tx"))
      .withColumn("nch", length(col("tx")).cast("long"))
    val counted = scripts.foldLeft(base) { case (df, (n, cls)) =>
      df.withColumn(n,
        (length(col("tx")) - length(regexp_replace(col("tx"), cls, "")))
          .cast("long"))
    }
    counted
      .withColumn("n_other",
        col("nch") - col("n_latin") - col("n_cyrillic") - col("n_greek")
          - col("n_han") - col("n_arabic"))
      .withColumn("dominant_script", expr(
        """CASE
          |  WHEN n_latin >= n_cyrillic AND n_latin >= n_greek
          |    AND n_latin >= n_han AND n_latin >= n_arabic THEN 'latin'
          |  WHEN n_cyrillic >= n_greek AND n_cyrillic >= n_han
          |    AND n_cyrillic >= n_arabic THEN 'cyrillic'
          |  WHEN n_greek >= n_han AND n_greek >= n_arabic THEN 'greek'
          |  WHEN n_han >= n_arabic THEN 'han'
          |  ELSE 'arabic' END""".stripMargin))
      .withColumn("confusable_mix",
        col("n_latin") > 0 && (col("n_cyrillic") > 0 || col("n_greek") > 0))
      .select(col("doc_id"), col("nch"), col("n_latin"), col("n_cyrillic"),
        col("n_greek"), col("n_han"), col("n_arabic"), col("n_other"),
        col("dominant_script"), col("confusable_mix"))
      .orderBy("doc_id")
  }
  private def q224Sql: String = {
    val scripts = Seq(
      "n_latin" -> "[A-Za-z\\x{00C0}-\\x{024F}]",
      "n_cyrillic" -> "[\\x{0400}-\\x{04FF}]",
      "n_greek" -> "[\\x{0370}-\\x{03FF}]",
      "n_han" -> "[\\x{4E00}-\\x{9FFF}]",
      "n_arabic" -> "[\\x{0600}-\\x{06FF}]")
    val cols = scripts.map { case (n, cls) =>
      s"CAST(length(tx) - length(regexp_replace(tx, '$cls', '', 'g')) AS BIGINT) AS $n"
    }.mkString(",\n    ")
    s"""WITH b AS (
       |  SELECT doc_id, COALESCE(text, '') AS tx,
       |    CAST(length(COALESCE(text, '')) AS BIGINT) AS nch
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, nch,
       |    $cols
       |  FROM b)
       |SELECT doc_id, nch, n_latin, n_cyrillic, n_greek, n_han, n_arabic,
       |  nch - n_latin - n_cyrillic - n_greek - n_han - n_arabic AS n_other,
       |  CASE
       |    WHEN n_latin >= n_cyrillic AND n_latin >= n_greek
       |      AND n_latin >= n_han AND n_latin >= n_arabic THEN 'latin'
       |    WHEN n_cyrillic >= n_greek AND n_cyrillic >= n_han
       |      AND n_cyrillic >= n_arabic THEN 'cyrillic'
       |    WHEN n_greek >= n_han AND n_greek >= n_arabic THEN 'greek'
       |    WHEN n_han >= n_arabic THEN 'han'
       |    ELSE 'arabic' END AS dominant_script,
       |  n_latin > 0 AND (n_cyrillic > 0 OR n_greek > 0) AS confusable_mix
       |FROM c ORDER BY doc_id""".stripMargin
  }

  // ---------------------------------------------------------------- q227

  /** q227 — KMV distinct-count accuracy sweep over the corpus's word
    * TRIGRAM-shingle space — the cardinality dedup sizing actually
    * needs (q27/q28's shingle universe; the synthetic corpus's token
    * vocabulary is deliberately tiny, so tokens would degenerate to the
    * below-k path at every k): the k-vs-error table a
    * data team reads before sizing the sketch (the
    * [[graft.operators.KmvDistinct]] Aggregator's estimator family,
    * Bar-Yossef et al. 2002; rel. error ≈ 1/√(k−2)). For k ∈ {64, 256,
    * 1024}: the k-th minimum hash, the KMV estimate, the exact distinct
    * count, relative error, and whether it sits inside the 2σ
    * theoretical band. The Aggregator itself hashes with splitmix64
    * (wrapping 64-bit arithmetic — deliberately NOT SQL-restatable);
    * this card uses the repo's md5-lane hash (15 hex chars → [0, 2^60))
    * so BOTH engines derive identical order statistics and the sweep is
    * bit-green, the q28/q112 sketch-parity discipline.
    *
    * Scale shape: one distinct-token aggregation (the same shuffle
    * class as the exact baseline it audits — the card costs one exact
    * pass, which is the point: you pay it ONCE to pick k, then the
    * 8·k-byte sketch replaces it everywhere); the k smallest hashes
    * arrive via a TakeOrdered top-k (per-partition heaps + driver
    * merge of max(k)=1024 rows — never a global sort); estimates are
    * derived driver-side from ≤1024 longs and emitted as a literal
    * card. Below-k cardinality degenerates to the exact count in both
    * engines (the Aggregator's exact-below-k path). */
  /** Memoized distinct trigram-shingle hash table (one 60-bit md5 lane
    * per distinct shingle) — built once per (session, corpus), read by
    * the q227 KMV sweep and the q234 HLL card so the two sketch audits
    * share one distinct-aggregation pass (the q208→q212 shared-artifact
    * lesson). */
  private val shingleHashCache = new graft.SessionCache[DataFrame]
  private def shingleHashes(s: SparkSession, d: String): DataFrame =
    shingleHashCache.getOrBuild(s, d) {
      t(s, d, "documents")
        .select(split(trim(coalesce(col("text"), lit(""))), "\\s+").as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(explode(expr(
          "transform(sequence(1, size(toks) - 2)," +
            " i -> concat(toks[i-1], ' ', toks[i], ' ', toks[i+1]))")).as("w"))
        .distinct()
        .select(expr("cast(conv(substring(md5(w), 1, 15), 16, 10) as bigint)").as("h"))
        .distinct()
        .localCheckpoint(true) // consumers: q227 exact count + top-k, q234 registers
    }
  /** The oracle-side twin of [[shingleHashes]] — the `ht` CTE body both
    * sketch-card oracles embed. */
  private val shingleHashSql: String =
    s"""bt AS (
       |  SELECT regexp_split_to_array(trim(COALESCE(text, '')), '\\s+') AS toks
       |  FROM documents),
       |dt AS (
       |  SELECT DISTINCT toks[i] || ' ' || toks[i + 1] || ' ' || toks[i + 2] AS w
       |  FROM (SELECT toks, unnest(generate_series(1, len(toks) - 2)) AS i
       |        FROM bt WHERE len(toks) >= 3)),
       |ht AS MATERIALIZED (
       |  SELECT DISTINCT ('0x' || substr(md5(w), 1, 15))::BIGINT AS h FROM dt)""".stripMargin

  private def q227(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ks = Seq(64, 256, 1024)
    val ht = shingleHashes(s, d)
    // collect-bound: groupless aggregate — 1 row (exact distinct count)
    val exact = ht.agg(count(lit(1)).as("n")).collect()(0).getLong(0)
    // collect-bound: literal limit 1024 — the sketch-sized top-k
    val mins = ht.orderBy(col("h")).limit(1024).collect().map(_.getLong(0))
    val rows = ks.map { k =>
      val (kth, est) =
        if (exact <= k) (if (mins.isEmpty) 0L else mins.last, exact.toDouble)
        else {
          val kh = mins(k - 1)
          (kh, (k - 1).toDouble * 1.152921504606846976e18 / kh.toDouble)
        }
      val rel = if (exact == 0L) 0e0 else (est - exact.toDouble) / exact.toDouble
      val bound = 2e0 / math.sqrt((k - 2).toDouble)
      (k, kth, est, exact, rel, math.abs(rel) <= bound)
    }
    rows.toDF("k", "kth_hash", "estimate", "exact", "rel_error", "within_2sigma")
      .orderBy("k")
  }
  private def q227Sql: String = {
    def one(k: Int): String =
      s"""SELECT $k AS k,
         |  CASE WHEN (SELECT n FROM ex) <= $k
         |    THEN COALESCE((SELECT MAX(h) FROM mins), 0)
         |    ELSE (SELECT MAX(h) FROM (SELECT h FROM mins ORDER BY h LIMIT $k))
         |  END AS kth_hash,
         |  CASE WHEN (SELECT n FROM ex) <= $k
         |    THEN CAST((SELECT n FROM ex) AS DOUBLE)
         |    ELSE CAST(${k - 1} AS DOUBLE) * 1.152921504606846976e18
         |      / CAST((SELECT MAX(h) FROM (SELECT h FROM mins ORDER BY h LIMIT $k)) AS DOUBLE)
         |  END AS estimate""".stripMargin
    s"""WITH $shingleHashSql,
       |ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ht),
       |mins AS MATERIALIZED (SELECT h FROM ht ORDER BY h LIMIT 1024),
       |es AS (${one(64)} UNION ALL ${one(256)} UNION ALL ${one(1024)})
       |SELECT CAST(k AS INTEGER) AS k, CAST(kth_hash AS BIGINT) AS kth_hash,
       |  estimate, (SELECT n FROM ex) AS exact,
       |  CASE WHEN (SELECT n FROM ex) = 0 THEN 0e0
       |    ELSE (estimate - CAST((SELECT n FROM ex) AS DOUBLE))
       |      / CAST((SELECT n FROM ex) AS DOUBLE) END AS rel_error,
       |  ABS(CASE WHEN (SELECT n FROM ex) = 0 THEN 0e0
       |    ELSE (estimate - CAST((SELECT n FROM ex) AS DOUBLE))
       |      / CAST((SELECT n FROM ex) AS DOUBLE) END)
       |   <= 2e0 / sqrt(CAST(k - 2 AS DOUBLE)) AS within_2sigma
       |FROM es ORDER BY k""".stripMargin
  }

  // ---------------------------------------------------------------- q234

  /** q234 — HyperLogLog distinct-count card (Flajolet/Fusy/Gandouet/
    * Meunier 2007) over the SAME trigram-shingle universe as q227's KMV
    * sweep, so the two standard cardinality sketches read side by side
    * on one shared [[shingleHashes]] artifact. For m = 2^b registers,
    * b ∈ {4, 6, 8}: register j = top b bits of the 60-bit md5 lane,
    * rank = leading zeros of the remaining w = 60−b bits + 1 (via
    * `length(bin(·))` — the engine-portable bit-length idiom), raw
    * estimate α_m·m²/Σ2^−M_j, and the paper's small-range correction
    * (linear counting m·ln(m/V) when E ≤ 2.5m and V zero-registers
    * remain). The 32-bit-hash large-range correction is deliberately
    * absent: it exists to undo hash-collision saturation at ~2^32, and
    * this lane is 60 bits.
    *
    * Bit-parity: Σ2^−M_j accumulates as the exact integer
    * Σ2^(w+1−M_j) (every term a power of two ≤ 2^57, the sum < 2^62 —
    * no IEEE op until one final division); α_m and 2.5m are spelled as
    * identical e-notation literals; ln(m/V) = b·ln2 − [[LmOps.PortableLn]](V)
    * (m is a power of two, so ln m is EXACTLY b·ln2-the-literal; V is an
    * integer, so the staged atanh-Horner ln applies).
    *
    * Scale shape: three ≤2^b-key hash aggregations over the shared
    * shingle table — registers are max-mergeable, so per-shard register
    * tables roll up with one more max; the exact baseline is paid once
    * by the shared artifact (the q227 rationale: the card prices the
    * sketch you then run everywhere). No collect anywhere — the card
    * rows are 1-row aggregates unioned. */
  private def q234(s: SparkSession, d: String): DataFrame = {
    val ht = shingleHashes(s, d)
    val ex = ht.agg(count(lit(1)).as("exact"))
    def cardB(b: Int): DataFrame = {
      val w = 60 - b
      val m = 1L << b
      val alpha = b match {
        case 4 => "673e-3"
        case 6 => "709e-3"
        case _ => s"(7213e-4 / (1e0 + (1079e-3 / ${m}e0)))"
      }
      val regs = ht
        .select(expr(s"shiftright(h, $w)").as("bkt"),
          expr(s"h & ${(1L << w) - 1L}").as("rest"))
        .select(col("bkt"), expr(
          s"CASE WHEN rest = 0 THEN ${w + 1} ELSE ${w + 1} - length(bin(rest)) END")
          .as("r"))
        .groupBy(col("bkt")).agg(max(col("r")).as("r"))
      val base = regs
        .agg(count(lit(1)).as("npres"),
          coalesce(sum(expr(s"shiftleft(1L, ${w + 1} - r)")), lit(0L)).as("sp"))
        .withColumn("vz", lit(m) - col("npres"))
        .withColumn("ssum", (col("vz") * lit(1L << (w + 1))) + col("sp"))
        .withColumn("raw", expr(
          s"(($alpha * ${m * m}e0) * ${BigInt(1) << (w + 1)}e0) / CAST(ssum AS DOUBLE)"))
      LmOps.PortableLn.steps("GREATEST(vz, 1)", "v", spark = true)
        .foldLeft(base) { case (df, (n, e)) => df.withColumn(n, expr(e)) }
        .withColumn("est", expr(
          s"CASE WHEN raw <= ${m * 5 / 2}e0 AND vz > 0" +
            s" THEN ${m}e0 * ((${b}e0 * 6.931471805599453e-1) - lnv)" +
            " ELSE raw END"))
        .select(lit(b).as("b"), lit(m).as("m"), col("vz").as("n_zero_regs"),
          col("raw").as("raw_est"), col("est").as("estimate"))
    }
    val card = Seq(4, 6, 8).map(cardB).reduceLeft(_.union(_))
    graft.Scalars.withScalar(card, ex)
      .withColumn("rel_error", expr(
        "CASE WHEN exact = 0 THEN 0e0" +
          " ELSE (estimate - CAST(exact AS DOUBLE)) / CAST(exact AS DOUBLE) END"))
      .withColumn("within_2sigma",
        expr("ABS(rel_error) <= (208e-2 / SQRT(CAST(m AS DOUBLE)))"))
      .select(col("b"), col("m"), col("n_zero_regs"), col("raw_est"),
        col("estimate"), col("exact"), col("rel_error"), col("within_2sigma"))
      .orderBy("b")
  }
  private def q234Sql: String = {
    def one(b: Int): String = {
      val w = 60 - b
      val m = 1L << b
      val alpha = b match {
        case 4 => "673e-3"
        case 6 => "709e-3"
        case _ => s"(7213e-4 / (1e0 + (1079e-3 / ${m}e0)))"
      }
      val lnStages = LmOps.PortableLn.steps("GREATEST(vz, 1)", "v", spark = false)
      val lnCtes = lnStages.zipWithIndex.map { case ((n, e), i) =>
        val src = if (i == 0) s"cb${b}_1" else s"cb${b}_${i + 1}"
        s"cb${b}_${i + 2} AS (SELECT *, $e AS $n FROM $src)"
      }
      s"""rb$b AS (
         |  SELECT (h >> $w) AS bkt,
         |    MAX(CASE WHEN (h & ${(1L << w) - 1L}) = 0 THEN ${w + 1}
         |      ELSE ${w + 1} - length(bin(h & ${(1L << w) - 1L})) END) AS r
         |  FROM ht GROUP BY 1),
         |cb${b}_0 AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS npres,
         |    COALESCE(CAST(SUM(1::BIGINT << (${w + 1} - r)) AS BIGINT), 0) AS sp
         |  FROM rb$b),
         |cb${b}_1 AS (
         |  SELECT *, ($m - npres) AS vz,
         |    (($m - npres) * ${1L << (w + 1)} + sp) AS ssum
         |  FROM cb${b}_0),
         |${lnCtes.mkString(",\n")},
         |fb$b AS (
         |  SELECT CAST($b AS INTEGER) AS b, CAST($m AS BIGINT) AS m,
         |    CAST(vz AS BIGINT) AS n_zero_regs,
         |    (($alpha * ${m * m}e0) * ${BigInt(1) << (w + 1)}e0) / CAST(ssum AS DOUBLE) AS raw_est,
         |    CASE WHEN ((($alpha * ${m * m}e0) * ${BigInt(1) << (w + 1)}e0) / CAST(ssum AS DOUBLE)) <= ${m * 5 / 2}e0 AND vz > 0
         |      THEN ${m}e0 * ((${b}e0 * 6.931471805599453e-1) - lnv)
         |      ELSE ((($alpha * ${m * m}e0) * ${BigInt(1) << (w + 1)}e0) / CAST(ssum AS DOUBLE)) END AS estimate
         |  FROM cb${b}_${lnStages.size + 1})""".stripMargin
    }
    s"""WITH $shingleHashSql,
       |ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact FROM ht),
       |${one(4)},
       |${one(6)},
       |${one(8)},
       |uni AS (SELECT * FROM fb4 UNION ALL SELECT * FROM fb6 UNION ALL SELECT * FROM fb8)
       |SELECT u.b, u.m, u.n_zero_regs, u.raw_est, u.estimate, e.exact,
       |  CASE WHEN e.exact = 0 THEN 0e0
       |    ELSE (u.estimate - CAST(e.exact AS DOUBLE)) / CAST(e.exact AS DOUBLE) END AS rel_error,
       |  ABS(CASE WHEN e.exact = 0 THEN 0e0
       |    ELSE (u.estimate - CAST(e.exact AS DOUBLE)) / CAST(e.exact AS DOUBLE) END)
       |   <= (208e-2 / SQRT(CAST(u.m AS DOUBLE))) AS within_2sigma
       |FROM uni u CROSS JOIN ex e
       |ORDER BY u.b""".stripMargin
  }

  // ---------------------------------------------------------------- q233

  /** q233 — mergeable log-histogram quantile sketch over per-doc token
    * counts, with an accuracy card against the exact percentile. The
    * bucket index is PURE INTEGER arithmetic (the HdrHistogram /
    * DDSketch bucketing family — Masson et al., VLDB 2019 — restated
    * base-2): exponent `e = len(bin(v)) − 1`, 3 sub-exponent bits
    * `sub = v·8 div 2^e − 8`, `idx = 8e + sub` — monotone in v, bucket
    * relative width ≤ 2^-3, so the midpoint estimate carries a ≤ ~7%
    * relative-error GUARANTEE at any scale. No IEEE op exists anywhere
    * in the sketch path (the q219 bit-portability-by-construction
    * class): both engines bucket, cumulate, rank-select, and midpoint
    * with integers only; the card's rel_err division is the single
    * rounding.
    *
    * Why this beats exact percentiles at 100 TB: `percentile` buffers
    * every value (PctGate's documented 2^23 boundary) and a global sort
    * is a full shuffle; this sketch is ONE hash aggregation into ≤ 512
    * buckets (64 exponents × 8 sub-buckets), map-side combined, and —
    * because union-of-sketches = sum-of-counts — shard sketches merge
    * associatively: per-shard sketches roll up without ever co-locating
    * raw values (the property t-digest/GK lack, whose merges are
    * order-dependent — the reason PctGate rejected them for parity).
    * The exact column itself routes through [[PctGate]] (exact ≤ 2^23,
    * deterministic md5-ticket sample above), so the CARD also stays
    * bit-green at every scale.
    *
    * Scale shape: one ≤512-key hash agg + one PctGate percentile pass;
    * the collected sketch is ≤ 512 rows BY CONSTRUCTION (not by data),
    * the q227 driver-card idiom; rank selection and bucket bounds are
    * driver math over those rows. */
  private def q233(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dt = t(s, d, "documents")
      .select(col("doc_id"),
        size(split(trim(coalesce(col("text"), lit(""))), "\\s+"))
          .cast("long").as("v"))
      .localCheckpoint(true) // consumers: count + sketch agg + PctGate pass
    val n = dt.count()
    val sk = dt
      .withColumn("e", (length(expr("bin(v)")) - lit(1)).cast("int"))
      .withColumn("idx", (col("e") * lit(8)
        + (expr("(v * 8L) div shiftleft(1L, e)") - lit(8)).cast("int")))
      .groupBy(col("idx")).agg(count(lit(1)).as("cnt"))
      // collect-bound: log-histogram buckets — ≤ 8·64 = 512 rows by construction
      .collect().map(r => (r.getAs[Int]("idx"), r.getAs[Long]("cnt")))
      .sortBy(_._1)
    // Empty-corpus degenerate: no values → no buckets → no rank is
    // selectable. The oracle's `sel` join yields zero rows there, so the
    // card is the EMPTY card, not a crash (the q238 NULL-fit guard
    // pattern applied to a zero-row one).
    if (n == 0L || sk.isEmpty)
      return Seq.empty[(Int, Double, Long, Int, Long, Option[Double],
          Option[Double], Int)]
        .toDF("qi", "q", "rank_r", "bucket_idx", "est", "exact_pct",
          "rel_err", "n_buckets")
    val cum = sk.scanLeft(0L)(_ + _._2).tail
    val spine = Seq((1, 0.01), (2, 0.25), (3, 0.5), (4, 0.75), (5, 0.9), (6, 0.99))
    val rows = spine.map { case (qi, q) =>
      val r = math.max(math.ceil(q * n.toDouble).toLong, 1L)
      val idx = sk(cum.indexWhere(_ >= r))._1
      val e = idx / 8; val sub = idx % 8
      val lo = (((8L + sub) << e) + 7L) / 8L
      val hi = ((((9L + sub) << e) + 7L) / 8L) - 1L
      (qi, q, r, idx, (lo + hi) / 2L)
    }
    val pct = PctGate.thresholdsDf(dt, n, "v",
      Seq("0.01", "0.25", "0.5", "0.75", "0.9", "0.99"),
      (1 to 6).map(i => s"p$i"), "q233pct")
    val exact = (2 to 6).foldLeft(when(col("qi") === 1, col("p1"))) {
      (acc, i) => acc.when(col("qi") === i, col(s"p$i"))
    }
    graft.Scalars.withScalar(
        rows.toDF("qi", "q", "rank_r", "bucket_idx", "est"), pct)
      .select(col("qi"), col("q"), col("rank_r"), col("bucket_idx"),
        col("est"), exact.as("exact_pct"),
        ((col("est").cast("double") - exact) / exact).as("rel_err"),
        lit(sk.length).as("n_buckets"))
      .orderBy("qi")
  }
  private def q233Sql: String =
    s"""WITH dt AS MATERIALIZED (
       |  SELECT doc_id,
       |    CAST(len(regexp_split_to_array(trim(COALESCE(text, '')), '\\s+')) AS BIGINT) AS v
       |  FROM documents),
       |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM dt),
       |sk AS MATERIALIZED (
       |  SELECT CAST((length(bin(v)) - 1) * 8
       |    + ((v * 8) // (1::BIGINT << (length(bin(v)) - 1)) - 8) AS INTEGER) AS idx,
       |    CAST(COUNT(*) AS BIGINT) AS cnt
       |  FROM dt GROUP BY 1),
       |ck AS MATERIALIZED (
       |  SELECT b.idx, (SELECT SUM(c.cnt) FROM sk c WHERE c.idx <= b.idx) AS cum
       |  FROM sk b),
       |sp AS (SELECT * FROM (VALUES
       |  (1, 0.01::DOUBLE), (2, 0.25::DOUBLE), (3, 0.5::DOUBLE),
       |  (4, 0.75::DOUBLE), (5, 0.9::DOUBLE), (6, 0.99::DOUBLE)) AS t(qi, q)),
       |rk AS (
       |  SELECT qi, q,
       |    GREATEST(CAST(CEIL(q * CAST((SELECT n FROM nn) AS DOUBLE)) AS BIGINT), 1) AS r
       |  FROM sp),
       |sel AS (
       |  SELECT rk.qi, rk.q, rk.r, MIN(ck.idx) AS idx
       |  FROM rk JOIN ck ON ck.cum >= rk.r
       |  GROUP BY 1, 2, 3),
       |eb AS (
       |  SELECT qi, q, r, idx,
       |    (((8 + (idx % 8))::BIGINT << (idx // 8)) + 7) // 8 AS lo,
       |    ((((9 + (idx % 8))::BIGINT << (idx // 8)) + 7) // 8) - 1 AS hi
       |  FROM sel),
       |thr AS (${PctGate.thresholdsSql("dt", "CAST(v AS DOUBLE)",
           Seq("0.01", "0.25", "0.5", "0.75", "0.9", "0.99"),
           (1 to 6).map(i => s"p$i"), "q233pct")})
       |SELECT CAST(eb.qi AS INTEGER) AS qi, eb.q, eb.r AS rank_r,
       |  CAST(eb.idx AS INTEGER) AS bucket_idx,
       |  CAST((eb.lo + eb.hi) // 2 AS BIGINT) AS est,
       |  ${(1 to 6).map(i => s"WHEN eb.qi = $i THEN thr.p$i")
           .mkString("CASE ", " ", " END")} AS exact_pct,
       |  (CAST((eb.lo + eb.hi) // 2 AS DOUBLE)
       |    - ${(1 to 6).map(i => s"WHEN eb.qi = $i THEN thr.p$i")
           .mkString("CASE ", " ", " END")})
       |   / ${(1 to 6).map(i => s"WHEN eb.qi = $i THEN thr.p$i")
           .mkString("CASE ", " ", " END")} AS rel_err,
       |  (SELECT CAST(COUNT(*) AS INTEGER) FROM sk) AS n_buckets
       |FROM eb CROSS JOIN thr
       |ORDER BY qi""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q233_quantile_sketch", q233, Some(q233Sql)),
    Q("q234_hll_card", q234, Some(q234Sql)),
    Q("q227_kmv_error_sweep", q227, Some(q227Sql)),
    Q("q224_script_mix", q224, Some(q224Sql)),
    Q("q71_posexplode_ordinal", q71, Some(q71Sql)),
    Q("q73_heavy_hitters", q73, Some(q73Sql)),
    Q("q83_cms_token_freq", q83, Some(q83Sql)),
    Q("q84_rare_bigram_quality", q84, Some(q84Sql)),
    Q("q78_regex_extract", q78, Some(q78Sql)),
    Q("q21_text_quality", q21, Some(q21Sql)),
    Q("q22_langid", q22, Some(q22Sql)),
    Q("q23_token_stats", q23, Some(q23Sql)),
    Q("q24_sentiment_lexicon", q24, Some(q24Sql)),
    Q("q25_doc_fingerprint", q25, Some(q25Sql)),
    Q("q88_gopher_quality", q88, Some(q88Sql)),
    Q("q91_gopher_repetition", q91, Some(q91Sql)),
    Q("q101_bpe_pair_stats", q101, Some(q101Sql)),
    Q("q102_bpe_second_merge", q102, Some(q102Sql)),
    Q("q103_corpus_card", q103, Some(q103Sql)),
    Q("q142_pmi_collocations", q142, Some(q142Sql)))
}
