package graft.queries

import graft.Tables
import graft.operators.IndexStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operator family for the training-data pipeline:
  * exact (hash groupBy), n-gram Jaccard (shingle self-join), MinHash+LSH
  * (band-bucket candidate generation), SimHash (hamming within bit-bands).
  *
  * Reference analog is only the trivial D1-D4 dedup surface
  * (run_phase2_transformation.py:70-74, stg_raw_reviews.sql:50-69); the
  * near-dup family is the 100 TB-scale extension the brief requires.
  *
  * Scale design: everything is expressed as joins/aggregations on shingle
  * or band keys — no pairwise cross-join ever materializes beyond candidate
  * buckets. At 100 TB the shingle join is the canonical MapReduce dedup
  * shape: shuffle by shingle, emit candidate pairs, verify. MinHash/SimHash
  * reduce the candidate set from O(docs²) to O(near-dups) via banding.
  */
object DedupOps extends QueryModule {

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  /** Doc-level distinct 3-token shingle SETS, lexicographically sorted:
    * (doc_id, source, shs, sz). Built per-row inside the scan's codegen
    * span — zero shuffles — and materialized once (localCheckpoint): shs
    * is referenced several times downstream (size, prefix slice, exact
    * verification) and CollapseProject would otherwise inline the
    * transform+array_distinct chain into every reference, computing the
    * array repeatedly per row (the round-2 q33 blowup, same mechanism).
    * 1 row per doc — tiny. */
  private def shingleSets(s: SparkSession, d: String): DataFrame =
    t(s, d, "documents")
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("source"),
        sort_array(array_distinct(expr(
          "transform(sequence(1, size(toks) - 2), i -> array_join(slice(toks, i, 3), ' '))")))
          .as("shs"))
      .localCheckpoint(true)
      .withColumn("sz", size(col("shs")))

  /** Exact dedup after normalization (D1/D2 generalized): canonical id =
    * min doc_id per normalized text, via a single hash-partitioned window. */
  private def q26(s: SparkSession, d: String): DataFrame = {
    val norm = regexp_replace(lower(trim(col("text"))), "\\s+", " ")
    val w = Window.partitionBy(col("norm"))
    t(s, d, "documents")
      .withColumn("norm", norm)
      .withColumn("canonical_id", min(col("doc_id")).over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .select(col("doc_id"), col("canonical_id"), col("group_size"),
        (col("doc_id") =!= col("canonical_id")).as("is_dup"))
      .orderBy("doc_id")
  }
  private val q26Sql =
    """SELECT doc_id,
      |  MIN(doc_id) OVER w AS canonical_id,
      |  COUNT(*) OVER w AS group_size,
      |  doc_id <> MIN(doc_id) OVER w AS is_dup
      |FROM (SELECT doc_id, regexp_replace(lower(trim(text)), '\s+', ' ', 'g') AS norm
      |      FROM documents) t
      |WINDOW w AS (PARTITION BY norm)
      |ORDER BY doc_id""".stripMargin

  /** Verified near-dup pairs as a shared per-(session, sf-dir) artifact:
    * q27 is the PRODUCER — it always rebuilds (so its own benchmark time
    * honestly includes the shingle join) and refreshes the cache — while
    * q42 is the CONSUMER, reusing the latest artifact instead of re-running
    * the join (that duplication made q42 the slowest query in BENCH_r04).
    * A standalone q42 run with no cached artifact builds it itself. The
    * artifact is tiny (one row per verified pair) and lineage-cut; a
    * replaced checkpoint's blocks are reclaimed by the ContextCleaner.
    *
    * The cache assumes the data under `d` is IMMUTABLE while the session
    * lives — regenerating it in-place would leave q42 on a stale artifact
    * until the next q27 (producer) run refreshes it. Entries of stopped
    * sessions are pruned on every access so the map can't retain a dead
    * session (and its checkpointed-block metadata) for the JVM lifetime. */
  private val pairCache = new graft.SessionCache[DataFrame]
  private[queries] def verifiedPairs(s: SparkSession, d: String): DataFrame =
    pairCache.getOrBuild(s, d)(q27body(s, d).localCheckpoint(true))

  /** n-gram Jaccard near-dup pairs (within-source blocking): 3-shingle
    * inverted-index self-join → intersection counts → |A∩B|/|A∪B| ≥ 0.5.
    * The shingle index is localCheckpoint'ed (3 references below): it
    * materializes once with lineage cut, outside the CacheManager, and its
    * blocks are reclaimed by the ContextCleaner when the query is done. */
  private def q27(s: SparkSession, d: String): DataFrame = {
    val fresh = q27body(s, d).localCheckpoint(true)
    pairCache.put(s, d, fresh)
    fresh.orderBy("doc_a", "doc_b")
  }

  private def q27body(s: SparkSession, d: String): DataFrame = {
    val sets = shingleSets(s, d)
    // PPJoin-style EXACT prefix filtering: under any common total order
    // (here: the lexicographic sort baked into shs), two sets with
    // J >= 0.5 must share an element among the first
    // |S| - ceil(0.5*|S|) + 1 = floor(|S|/2) + 1 elements of each — so
    // only the prefixes are exploded into the inverted index, halving
    // both sides of the candidate join and quartering its hash matches.
    // The join condition also carries the exact length-band prune
    // (J >= 0.5 forces max(sz) <= 2*min(sz)). Both prunes are
    // necessary-condition filters: no qualifying pair can be lost.
    val prefix = sets.select(col("source"), col("doc_id"), col("sz"),
      explode(expr("slice(shs, 1, size(shs) div 2 + 1)")).as("shingle"))
    val a = prefix.select(col("source"), col("doc_id").as("doc_a"),
      col("sz").as("sz_a"), col("shingle"))
    val b = prefix.select(col("source").as("source_b"), col("doc_id").as("doc_b"),
      col("sz").as("sz_b"), col("shingle").as("shingle_b"))
    val cand = a.join(b,
        col("source") === col("source_b") && col("shingle") === col("shingle_b") &&
          col("doc_a") < col("doc_b") &&
          col("sz_a") <= col("sz_b") * 2 && col("sz_b") <= col("sz_a") * 2)
      .select(col("doc_a"), col("doc_b"), col("sz_a"), col("sz_b"))
      .distinct()
    // Exact verification on the doc-level sets: candidates join back to
    // the checkpointed arrays and intersect row-locally — work is
    // proportional to candidates, not corpus.
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("shs").as("shs_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("shs").as("shs_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("shs_a"), col("shs_b"))).cast("bigint"))
      .withColumn("jaccard",
        col("inter").cast("double") / (col("sz_a") + col("sz_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("jaccard"))
  }
  private val q27Sql =
    """WITH docs AS (
      |  SELECT doc_id, source, string_split(text, ' ') AS toks FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |idx AS (
      |  SELECT doc_id, source, toks, unnest(generate_series(1, len(toks) - 2)) AS i FROM docs),
      |sh AS (
      |  SELECT DISTINCT doc_id, source, array_to_string(toks[i:i+2], ' ') AS shingle FROM idx),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      |pairs AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS inter
      |  FROM sh a JOIN sh b
      |    ON a.source = b.source AND a.shingle = b.shingle AND a.doc_id < b.doc_id
      |  GROUP BY 1, 2)
      |SELECT doc_a, doc_b, inter,
      |  CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) AS jaccard
      |FROM pairs JOIN sizes sa ON doc_a = sa.doc_id JOIN sizes sb ON doc_b = sb.doc_id
      |WHERE CAST(inter AS DOUBLE) / CAST(sa.sz + sb.sz - inter AS DOUBLE) >= 0.5
      |ORDER BY doc_a, doc_b""".stripMargin

  /** MinHash + LSH near-dup detection: 16-permutation signature computed
    * per document by the native graft_minhash expression (one pass over the
    * token array inside the scan's codegen span — ZERO corpus-wide shuffle,
    * vs the explode-shingles→groupBy formulation that moved every shingle
    * row through a shuffle); banding per [[LshConfig]] (default 4 bands ×
    * 4 rows — the recall point q209 publishes; session conf can pin
    * another scheme or state a recall SLA); band-bucket equi-join yields
    * candidates; exact Jaccard over string shingles verifies.
    *
    * The sketch hashing is the engine-portable MD5-lane family
    * (SketchUtil.h60 + affine maps mod 2^31-1) and the band key is the
    * plain comma-joined lane string, so DuckDB reproduces signatures,
    * bands, candidates, and verified pairs bit-for-bit — this query has an
    * exact SQL oracle, not a rows-only check.
    *
    * At scale: the only corpus-wide shuffle is the candidate join on
    * (band, sig) — 4 short strings per doc regardless of doc length.
    * Everything downstream (verification) touches candidate docs only. */
  private def q28(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
    // Banding shared with the q112 index (one implementation, one knob);
    // the scheme is session-configurable (LshConfig.fromConf), default
    // 4×4 — the oracle SQL below encodes the default.
    val bands = mhBandsOf(docs.select(col("doc_id"), col("toks")),
      LshConfig.fromConf(s))
    // Candidate pairs materialize once, lineage cut (referenced three times
    // below); tiny — only band-colliding pairs survive.
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band") === col("y.band") && col("x.sig") === col("y.sig") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      .localCheckpoint(true)
    // Verify candidates with exact Jaccard (q27's definition). Shingles are
    // built for CANDIDATE DOCS ONLY — the semi-join happens before the
    // explode, so verification work is proportional to candidates, not
    // corpus.
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    // Doc-level shingle SETS for candidate docs only, intersected
    // row-locally (q27's verification shape): no posting explode, no
    // distinct/sizes shuffles, no per-shingle joins — just two broadcast
    // lookups of the candidate arrays. Materialized once: referenced by
    // both the a and b side.
    val candSets = docs.join(broadcast(candDocs), "doc_id")
      .select(col("doc_id"),
        array_distinct(expr(
          "transform(sequence(1, size(toks) - 2), i -> array_join(slice(toks, i, 3), ' '))"))
          .as("shs"))
      .localCheckpoint(true)
    cand
      .join(broadcast(candSets.select(col("doc_id").as("doc_a"), col("shs").as("shs_a"))), "doc_a")
      .join(broadcast(candSets.select(col("doc_id").as("doc_b"), col("shs").as("shs_b"))), "doc_b")
      .withColumn("inter", size(array_intersect(col("shs_a"), col("shs_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("shs_a")) + size(col("shs_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  /** SimHash near-dup detection: 60-bit simhash computed per document by
    * the native graft_simhash expression — one pass over the token array
    * inside the scan's codegen span, ZERO shuffle (the previous
    * explode→groupBy(doc,token)→SimhashAgg formulation shuffled every token
    * row twice; per-occurrence ±1 votes add linearly, so the result is
    * bit-identical — SketchExpressionsSpec cross-validates). 4 × 15-bit
    * bands for downstream blocking. Token hashing is the portable MD5-lane
    * h60, so the sketch has an exact SQL oracle (sum of per-bit sign
    * votes, reproduced verbatim in DuckDB). Emits per-doc sketches
    * (deterministic, always non-empty) — the useful artifact for blocking. */
  private def q29(s: SparkSession, d: String): DataFrame = {
    t(s, d, "documents")
      .select(col("doc_id"),
        // coalesce: a NULL doc must sketch as '' in both engines (the
        // NULL token list vanishes from the oracle's unnest entirely —
        // found by tools/fuzz_corpus.py).
        expr("graft_simhash(split(coalesce(text, ''), ' '))").as("simhash"))
      .select(
        col("doc_id"), col("simhash"),
        expr("(simhash >> 0)  & 32767").as("band0"),
        expr("(simhash >> 15) & 32767").as("band1"),
        expr("(simhash >> 30) & 32767").as("band2"),
        expr("(simhash >> 45) & 32767").as("band3"))
      .orderBy("doc_id")
  }

  /** SimHash candidate pairs: docs sharing any 15-bit band, verified by
    * hamming distance ≤ 8. Exact SQL oracle via the portable sketch. */
  private def q30(s: SparkSession, d: String): DataFrame = {
    // Materialize the (tiny: doc_id + 5 longs) sketch table once for the
    // self-join, lineage cut — recomputing the scan per side would be fine
    // too, but this keeps the join inputs exchange-reusable.
    val sk = q29(s, d).localCheckpoint(true)
    val bands = sk.select(col("doc_id"), col("simhash"),
      explode(array(
        struct(lit(0).as("b"), col("band0").as("v")),
        struct(lit(1).as("b"), col("band1").as("v")),
        struct(lit(2).as("b"), col("band2").as("v")),
        struct(lit(3).as("b"), col("band3").as("v")))).as("band"))
      .select(col("doc_id"), col("simhash"), col("band.b"), col("band.v"))
    bands.as("x").join(bands.as("y"),
        col("x.b") === col("y.b") && col("x.v") === col("y.v") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        expr("bit_count(x.simhash ^ y.simhash)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 8)
      .orderBy("doc_a", "doc_b")
  }

  /** Shared oracle fragment: distinct 3-shingle strings per doc — the same
    * CTE chain q27's oracle uses. */
  private val shingleCte =
    """docs AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |idx AS (
      |  SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i FROM docs),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle FROM idx)""".stripMargin

  /** The portable MinHash pipeline verbatim in SQL: h60 = first 15 hex
    * nibbles of md5; lanes = affine maps mod the Mersenne prime — every
    * constant mirrors SketchUtil exactly. */
  private val q28Sql =
    s"""WITH $shingleCte,
       |hv AS (
       |  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647 AS hm
       |  FROM sh),
       |perms AS (
       |  SELECT p, (1103515245 * (p + 1) + 12345) % 2147483647 AS a,
       |         (69069 * (p + 1) + 1) % 2147483647 AS b
       |  FROM (SELECT unnest(generate_series(0, 15)) AS p)),
       |lanes AS (
       |  SELECT doc_id, p, MIN((a * hm + b) % 2147483647) AS lane
       |  FROM hv CROSS JOIN perms GROUP BY doc_id, p),
       |bands AS (
       |  SELECT doc_id, p // 4 AS band, string_agg(lane::VARCHAR, ',' ORDER BY p) AS sig
       |  FROM lanes GROUP BY doc_id, p // 4),
       |cand AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
       |  FROM bands x JOIN bands y
       |    ON x.band = y.band AND x.sig = y.sig AND x.doc_id < y.doc_id),
       |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
       |ints AS (
       |  SELECT c.doc_a, c.doc_b, COUNT(*) AS inter
       |  FROM cand c JOIN sh a ON a.doc_id = c.doc_a
       |              JOIN sh b ON b.doc_id = c.doc_b AND b.shingle = a.shingle
       |  GROUP BY c.doc_a, c.doc_b)
       |SELECT i.doc_a, i.doc_b,
       |  CAST(i.inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.inter AS DOUBLE) AS jaccard
       |FROM ints i JOIN sizes sa ON i.doc_a = sa.doc_id
       |            JOIN sizes sb ON i.doc_b = sb.doc_id
       |WHERE CAST(i.inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.inter AS DOUBLE) >= 0.5
       |ORDER BY doc_a, doc_b""".stripMargin

  /** 60-bit SimHash in SQL: per-bit ±1 occurrence votes, sign → bit. */
  private val simhashCte =
    """alldocs AS (SELECT doc_id, string_split(COALESCE(text, ''), ' ') AS toks FROM documents),
      |tok AS (SELECT doc_id, unnest(toks) AS tk FROM alldocs),
      |th AS (
      |  SELECT doc_id, ('0x' || substr(md5(tk), 1, 15))::BIGINT AS h FROM tok),
      |bt AS (
      |  SELECT doc_id, b,
      |    CASE WHEN SUM(CASE WHEN (h >> b) & 1 = 1 THEN 1 ELSE -1 END) > 0
      |         THEN (1::BIGINT << b) ELSE 0 END AS bit
      |  FROM th CROSS JOIN (SELECT unnest(generate_series(0, 59)) AS b) g
      |  GROUP BY doc_id, b),
      |sk AS (SELECT doc_id, CAST(SUM(bit) AS BIGINT) AS simhash FROM bt GROUP BY doc_id)""".stripMargin

  private val q29Sql =
    s"""WITH $simhashCte
       |SELECT doc_id, simhash,
       |  (simhash >> 0)  & 32767 AS band0,
       |  (simhash >> 15) & 32767 AS band1,
       |  (simhash >> 30) & 32767 AS band2,
       |  (simhash >> 45) & 32767 AS band3
       |FROM sk ORDER BY doc_id""".stripMargin

  private val q30Sql =
    s"""WITH $simhashCte,
       |bb AS (
       |  SELECT doc_id, simhash, (simhash >> (bi * 15)) & 32767 AS v, bi
       |  FROM (SELECT doc_id, simhash, unnest(generate_series(0, 3)) AS bi FROM sk)),
       |pairs AS (
       |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
       |         x.simhash AS sa, y.simhash AS sb
       |  FROM bb x JOIN bb y
       |    ON x.bi = y.bi AND x.v = y.v AND x.doc_id < y.doc_id)
       |SELECT doc_a, doc_b, CAST(bit_count(xor(sa, sb)) AS INTEGER) AS hamming
       |FROM pairs
       |WHERE bit_count(xor(sa, sb)) <= 8
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Benchmark decontamination — the standard pre-training hygiene op
    * (flag training documents that overlap a held-out evaluation set;
    * cf. GPT-3 appendix C / Gopher §A1.2 n-gram overlap checks):
    * distinct word-3-gram shingles per doc; the benchmark set (doc_id <
    * 20 stands in for the eval suite) collapses to a distinct-shingle
    * table that is BROADCAST — eval suites are tiny next to a 100 TB
    * corpus, so the probe is a map-side left join with no corpus-keyed
    * shuffle on the hit side; per-doc overlap fraction aggregates with
    * partial hash aggs. The contaminated flag is integer-exact
    * (4·hits ≥ shingles ⇔ overlap ≥ 0.25 — near-verbatim leakage), so
    * no double compares at the decision boundary. */
  private def q89(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 3)
    val sh = docs.select(col("doc_id"), explode(expr(
        "array_distinct(transform(sequence(1, size(toks) - 2)," +
          " i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1])))")).as("sh"))
    val bench = sh.filter(col("doc_id") < 20).select(col("sh")).distinct()
      .withColumn("hit", lit(1))
    sh.filter(col("doc_id") >= 20)
      .join(broadcast(bench), Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_hits"))
      .select(col("doc_id"), col("n_shingles"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_shingles")).as("overlap_frac"),
        (col("n_hits") * 4 >= col("n_shingles")).as("contaminated"))
      .orderBy("doc_id")
  }
  private val q89Sql =
    """WITH docs AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id, toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
      |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
      |        FROM docs)),
      |bench AS (SELECT DISTINCT sh FROM sh WHERE doc_id < 20)
      |SELECT c.doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
      |  CAST(COUNT(b.sh) AS BIGINT) AS n_hits,
      |  CAST(COUNT(b.sh) AS DOUBLE) / COUNT(*) AS overlap_frac,
      |  COUNT(b.sh) * 4 >= COUNT(*) AS contaminated
      |FROM (SELECT * FROM sh WHERE doc_id >= 20) c
      |LEFT JOIN bench b USING (sh)
      |GROUP BY c.doc_id ORDER BY c.doc_id""".stripMargin

  /** Exact substring-dedup spans (q94) — the Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better") shape:
    * find every ≥8-token run that also occurs in ANOTHER document, and
    * emit per document the MAXIMAL duplicated spans (token intervals) a
    * downstream cleaner would cut, rather than a doc-level flag. Two
    * steps, both integer-exact:
    *
    *  1. positional 8-gram index: explode (doc_id, start, gram), group by
    *     gram, keep grams spanning ≥2 distinct docs (min ≠ max doc_id —
    *     no countDistinct needed);
    *  2. merge each doc's duplicated starts into maximal spans with the
    *     gaps-and-islands idiom: island breaks where a gram's start
    *     clears the running max end of everything before it (strict
    *     overlap merge — [i, i+8) ∪ [i+1, i+9) chains collapse, adjacent
    *     non-overlapping runs stay separate).
    *
    * Scale shape: the gram index is the same shuffle-by-shingle pattern
    * as q27/q89 (never all-pairs); span merging is a doc-partitioned
    * window over only the DUPLICATED grams (a small fraction of the
    * corpus). Token positions are 1-based in both engines. */
  /** Positional 8-gram index (doc_id, start, g) — memoized per
    * (session, corpus) because TWO queries consume the identical
    * artifact: q94's span merge and q139's memorization-risk score (the
    * pairCache/uvCache convention; one corpus explode instead of two).
    * References within each consumer are also multiple, hence the
    * localCheckpoint. */
  private val gramCache = new graft.SessionCache[DataFrame]
  private def gramIndex8(s: SparkSession, d: String): DataFrame =
    gramCache.getOrBuild(s, d) {
      val n = 8
      t(s, d, "documents")
        .select(col("doc_id"), split(trim(col("text")), "\\s+").as("toks"))
        .filter(size(col("toks")) >= n)
        .select(col("doc_id"),
          // The index key is xxhash64(gram), decided by a same-host
          // interleaved A/B at sf0.1 (PLANS.md "q94 gram-key A/B", round
          // 10): xxh64 med 1.27 s vs raw-gram 1.64 s vs md5 1.73 s vs a
          // two-lane xxh64 struct 1.73 s — the 8-byte long key wins on
          // BOTH hash CPU (md5's loss locally) and shuffle bytes (raw's
          // loss at network scale). The key is internal to the group-by
          // and self-join and never reaches the output, so the ORACLE
          // keys on the raw gram text instead: results agree iff xxh64
          // is injective on the corpus's distinct grams, and the driver's
          // hash gate verifies exactly that. Collision math: ~5e5 grams
          // at sf0.1 → P(any collision) ≈ 7e-9; at a 100 TB corpus
          // (~1e13 grams) expected colliding PAIRS ≈ 2.7e6 (1e-7 of
          // grams), each of which can only over-mark one extra 8-token
          // span as duplicated — acceptable for a lossy cleaning pass;
          // flip to md5() here for a 128-bit key if an exactness-critical
          // deployment demands it (measured cost: +36% on this query).
          explode(expr(s"transform(sequence(1, size(toks) - ${n - 1})," +
            s" i -> struct(i as start, xxhash64(array_join(slice(toks, i, $n), ' ')) as g))")).as("x"))
        .select(col("doc_id"), col("x.start").as("start"), col("x.g").as("g"))
        .localCheckpoint(true)
    }

  private def q94(s: SparkSession, d: String): DataFrame = {
    val n = 8
    val grams = gramIndex8(s, d)
    val crossDoc = grams.groupBy(col("g"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("g"))
    val dupStarts = grams.join(crossDoc, "g")
      .select(col("doc_id"), col("start"), (col("start") + n).as("end"))
    val wPrev = Window.partitionBy(col("doc_id")).orderBy(col("start"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wRun = Window.partitionBy(col("doc_id")).orderBy(col("start"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    dupStarts
      .withColumn("brk",
        when(col("start") < coalesce(max(col("end")).over(wPrev), lit(0)), 0).otherwise(1))
      .withColumn("island", sum(col("brk")).over(wRun))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("start")).cast("bigint").as("span_start"),
        max(col("end")).cast("bigint").as("span_end"),
        count(lit(1)).as("n_grams"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start")).as("span_tokens"), col("n_grams"))
      .orderBy("doc_id", "span_start")
  }
  private val q94Sql =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
      |grams AS (
      |  SELECT doc_id, x.start, x.g FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 6),
      |      i -> struct_pack(start := i, g := array_to_string(t[i:i + 7], ' ')))) AS x
      |    FROM toks WHERE len(t) >= 8)),
      |crossdoc AS (
      |  SELECT g FROM grams GROUP BY g HAVING MIN(doc_id) <> MAX(doc_id)),
      |dup AS (
      |  SELECT doc_id, start, start + 8 AS "end"
      |  FROM grams JOIN crossdoc USING (g)),
      |flagged AS (
      |  SELECT doc_id, start, "end",
      |    CASE WHEN start < COALESCE(MAX("end") OVER (PARTITION BY doc_id
      |        ORDER BY start ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |      THEN 0 ELSE 1 END AS brk
      |  FROM dup),
      |islands AS (
      |  SELECT doc_id, start, "end",
      |    SUM(brk) OVER (PARTITION BY doc_id ORDER BY start
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
      |  FROM flagged)
      |SELECT doc_id,
      |  CAST(MIN(start) AS BIGINT) AS span_start,
      |  CAST(MAX("end") AS BIGINT) AS span_end,
      |  CAST(MAX("end") - MIN(start) AS BIGINT) AS span_tokens,
      |  COUNT(*) AS n_grams
      |FROM islands GROUP BY doc_id, island
      |ORDER BY doc_id, span_start""".stripMargin

  /** q112 — incremental dedup: screen a NEW BATCH against a PERSISTED
    * index of the existing corpus. The production shape at 100 TB: the
    * corpus is indexed once (exact-hash table + MinHash band table,
    * written as parquet), and each incoming crawl probes the index —
    * the full corpus text is never re-scanned, re-shingled, or
    * re-sketched per batch.
    *
    * Batch split is deterministic (doc_id % 5 = 0 plays the new crawl,
    * the rest the existing corpus) so the oracle reproduces it. Two
    * probe paths, mirroring q26 and q28:
    *  - exact: md5 of whitespace/case-normalized text against the
    *    persisted (norm_key → min doc_id) table;
    *  - near: the batch's MinHash bands (scheme read from the index's
    *    own metadata — [[LshConfig]], default 4×4) equi-join the
    *    persisted band table; candidates verify with exact shingle
    *    Jaccard ≥ 0.5,
    *    best match per batch doc by aggregation argmax (max jaccard,
    *    ties to the lowest base doc_id — min(struct(-j, id)), q109's
    *    no-window idiom).
    * Verdict precedence: exact > near > novel. near_jaccard reports the
    * best verified candidate whenever one exists (it can be non-NULL on
    * an exact dup — the identical doc band-matches at J = 1).
    *
    * Scale: the index build is one corpus pass (amortized across every
    * future batch); the probe side shuffles only batch-sized band/hash
    * keys; shingle verification touches candidate docs only (semi-join
    * before the verify join, q28's shape) and reads them from the
    * persisted shingle doc-store — the probe NEVER rescans the corpus
    * table. At real scale the three index tables live
    * partitioned/bucketed by their join key ((norm_key), (band, sig),
    * (doc_id)), so the probe is a co-located or broadcast join with no
    * index-side re-shuffle; here they round-trip through scratch
    * parquet to keep the persist → probe boundary honest.
    *
    * Build and probe are shared verbatim with the STREAMING arm
    * (graft.streaming.DedupStream probes each micro-batch through
    * [[probeDedupIndex]]), so stream ≡ batch verdicts hold by
    * construction — the DocStream/EventStream discipline. */
  private[graft] def normDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      md5(regexp_replace(lower(trim(col("text"))), "\\s+", " ")).as("norm_key"),
      split(col("text"), " ").as("toks"))

  /** MinHash band rows for `df` (doc_id, toks) under `scheme` — the ONE
    * banding implementation q28, the q112 index, and the streaming probe
    * all share, so a scheme change cannot desynchronize them. Sig strings
    * are the comma-joined lane values (cast-to-string ≡ the oracle's
    * `lane::VARCHAR`), byte-identical to the pre-knob 4×4 output at
    * [[LshConfig.Default]]. */
  private[graft] def mhBandsOf(df: DataFrame,
      scheme: LshConfig.Scheme = LshConfig.Default): DataFrame = df
    .filter(size(col("toks")) >= 3)
    .select(col("doc_id"),
      expr(s"graft_minhash(toks, 3, ${scheme.lanes})").as("mh"))
    .select(col("doc_id"), explode(expr(
      s"""transform(sequence(0, ${scheme.bands - 1}), b ->
         |  struct(b AS band,
         |         array_join(transform(slice(mh, b * ${scheme.rows} + 1, ${scheme.rows}),
         |                              x -> cast(x AS string)), ',') AS sig))"""
        .stripMargin)).as("bs"))
    .select(col("doc_id"), col("bs.band"), col("bs.sig"))

  // Only ≥3-token docs can band-match, so the doc-store skips the rest.
  private def shingleSetOf(df: DataFrame): DataFrame = df
    .filter(size(col("toks")) >= 3)
    .select(col("doc_id"),
      array_distinct(expr(
        "transform(sequence(1, size(toks) - 2), i -> array_join(slice(toks, i, 3), ' '))"))
        .as("shs"))

  /** One-time corpus pass: persist the three probe tables — exact-hash
    * (norm_key → min doc_id), MinHash bands, and the per-doc shingle
    * doc-store used for candidate verification (the storage the index
    * pays so that probes are corpus-independent) — and commit them as
    * the `dedup` kind with the banding scheme as its parameters, so
    * every later probe/append bands the way the index was built
    * regardless of the probing session's conf. */
  private[graft] def buildDedupIndex(base: DataFrame, dir: String): Unit = {
    val s = base.sparkSession
    val scheme = LshConfig.fromConf(s)
    val nb = normDocs(base)
    // Each table persists BUCKETED on its own probe-join key (external
    // bucketed tables — see IndexStore): the probe's index-side scans
    // arrive pre-partitioned, so only the batch side ever shuffles. This
    // is the layout the DedupStream scaladoc promises;
    // IndexColocationSpec pins the plan shape.
    IndexStore.build(s, dir, "dedup") {
      IndexStore.Kind(Map(
        IndexStore.write(
          nb.groupBy(col("norm_key")).agg(min(col("doc_id")).as("exact_doc")),
          dir, "exact", Seq("norm_key")),
        IndexStore.write(mhBandsOf(nb, scheme), dir, "bands", Seq("band", "sig")),
        IndexStore.write(shingleSetOf(nb), dir, "shingles", Seq("doc_id"))),
        Map("bands" -> scheme.bands.toString, "rows" -> scheme.rows.toString))
    }
  }

  /** The banding scheme a persisted index was built with. */
  private[graft] def indexScheme(s: SparkSession, dir: String): LshConfig.Scheme = {
    val p = IndexStore.kind(s, dir, "dedup").params
    LshConfig.Scheme(p("bands").toInt, p("rows").toInt)
  }

  /** Fold a batch's NOVEL docs into the persisted index — the refresh arm
    * of the production loop the streaming probe names: batch N's novel
    * docs become findable by batch N+1 without any corpus re-pass.
    * APPEND-ONLY (new parquet files under each table, never a rewrite),
    * so a norm_key may accumulate one row per generation; the probe
    * collapses multi-generation exact matches with a batch-side min
    * aggregate (work ∝ matches, not index), so correctness never waits
    * on compaction. Re-appending the same docs (an at-least-once retry)
    * is harmless for the same reason: duplicate band/shingle rows wash
    * out in the probe's DISTINCT/argmax, duplicate exact rows in the
    * min. */
  private[graft] def appendToDedupIndex(novel: DataFrame, dir: String): Unit = {
    val nb = normDocs(novel)
    IndexStore.append(
      nb.groupBy(col("norm_key")).agg(min(col("doc_id")).as("exact_doc")),
      dir, "exact")
    IndexStore.append(
      mhBandsOf(nb, indexScheme(novel.sparkSession, dir)), dir, "bands")
    IndexStore.append(shingleSetOf(nb), dir, "shingles")
  }

  /** Compact the persisted dedup index: one [[IndexStore.compact]] pass
    * rewrites each table to the canonical form the probe's min/DISTINCT
    * would compute anyway — multi-generation rows accumulated by
    * append-only refresh collapse — minus the tombstoned docs:
    *  - exact:    one row per norm_key, min doc_id (the probe's own min);
    *  - bands:    DISTINCT (doc_id, band, sig) — retries append verbatim
    *              duplicates;
    *  - shingles: one row per doc_id (rows for a doc_id are identical by
    *              construction — shingles are a pure function of text).
    * Probe verdicts are therefore invariant under compaction by
    * construction, and DedupCompactionSpec pins that bit-for-bit across a
    * multi-batch [[graft.streaming.DedupStream.runProbeWithRefresh]] run.
    * Takedowns (`IndexStore.tombstone(docs, dir, "doc_id")`) retire docs:
    * DedupTtlSpec pins their semantics. */
  private[graft] def compactDedupIndex(s: SparkSession, dir: String): Unit =
    IndexStore.compact(s, dir, Map(
      "exact" -> IndexStore.Compaction(Seq("exact_doc"), _.groupBy(col("norm_key"))
        .agg(min(col("exact_doc")).as("exact_doc"))),
      "bands" -> IndexStore.Compaction(Seq("doc_id"), _.distinct()),
      "shingles" -> IndexStore.Compaction(Seq("doc_id"), _.dropDuplicates("doc_id"))))

  /** Probe a batch of (doc_id, text) against a persisted index: verdict
    * per batch doc (exact > near > novel), unordered. Work ∝ batch and
    * its candidates — the corpus appears only through the index files.
    *
    * SELF-MATCHES ARE IGNORED (exact rows whose indexed doc_id equals
    * the probing doc_id, band candidates pairing a doc with itself).
    * This is what makes the streaming refresh loop retry-safe: the three
    * [[appendToDedupIndex]] parquet appends are not atomic, so a crash
    * mid-append followed by an at-least-once foreachBatch retry re-probes
    * an index already containing SOME of the batch's own rows. Without
    * the filter those docs would come back verdict='exact' against
    * themselves, fail the novel filter, and never get their missing
    * bands/shingles rows appended — silently degrading future near-dup
    * recall. With it, a partially-appended doc re-probes as novel and is
    * re-appended in full; the duplicate rows wash out in the min/DISTINCT
    * collapse below. Batch q112's splits are disjoint from the index, so
    * there the filter is a no-op and oracle parity is untouched. (A
    * re-crawl delivering an ALREADY-INDEXED doc_id beyond the watermark
    * horizon is likewise treated as a re-assertion of that doc, not a
    * duplicate of itself.) */
  private[graft] def probeDedupIndex(s: SparkSession, batch: DataFrame,
      dir: String): DataFrame = {
    val nb = normDocs(batch).localCheckpoint(true)
    // Tombstoned base docs are invisible to the probe (matches against
    // taken-down content must not fire); None on tombstone-free indexes.
    val tombs = IndexStore.tombstones(s, dir)
    // Candidates: batch bands × persisted band index — the only
    // index-sized join, keyed on (band, sig).
    val bandIdx = IndexStore.dropTombstoned(
      IndexStore.read(s, dir, "bands")
        .select(col("doc_id").as("base_doc"), col("band"), col("sig")),
      "base_doc", tombs)
    val cand = mhBandsOf(nb, indexScheme(s, dir))
      .join(bandIdx, Seq("band", "sig"))
      .select(col("doc_id").as("batch_doc"), col("base_doc"))
      .filter(col("batch_doc") =!= col("base_doc")) // retry self-pair guard
      .distinct()
      .localCheckpoint(true)
    // Verify candidates: batch shingles computed for candidate batch
    // docs only; base shingles READ from the doc-store, semi-joined to
    // the candidate set before the verify join.
    val batchSets = shingleSetOf(
        nb.join(broadcast(cand.select(col("batch_doc").as("doc_id")).distinct()),
          "doc_id"))
      .localCheckpoint(true)
    val baseSets = IndexStore.read(s, dir, "shingles")
      .join(broadcast(cand.select(col("base_doc").as("doc_id")).distinct()),
        "doc_id")
    val best = cand
      .join(broadcast(batchSets.select(col("doc_id").as("batch_doc"), col("shs").as("shs_a"))), "batch_doc")
      .join(baseSets.select(col("doc_id").as("base_doc"), col("shs").as("shs_b")), "base_doc")
      .withColumn("inter", size(array_intersect(col("shs_a"), col("shs_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (size(col("shs_a")) + size(col("shs_b")) - col("inter")).cast("double"))
      .filter(col("jaccard") >= 0.5)
      .groupBy(col("batch_doc"))
      .agg(min(struct((-col("jaccard")).as("nj"), col("base_doc").as("base_doc"))).as("w"))
      .select(col("batch_doc").as("doc_id"), col("w.base_doc").as("near_doc"),
        (-col("w.nj")).as("near_jaccard"))
    // Batch-side min collapses multi-generation exact rows (an appended
    // index can hold one row per generation for the same norm_key); a
    // single-generation index reduces this to a no-op aggregate over one
    // match, so q112's oracle parity is untouched. Self-rows (a retry
    // probing its own partial append) are nulled before the min, which
    // ignores them.
    nb.select(col("doc_id"), col("norm_key"))
      .join(IndexStore.dropTombstoned(IndexStore.read(s, dir, "exact"),
          "exact_doc", tombs),
        Seq("norm_key"), "left")
      .groupBy(col("doc_id"))
      .agg(min(when(col("exact_doc") =!= col("doc_id"), col("exact_doc")))
        .as("exact_doc"))
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"),
        when(col("exact_doc").isNotNull, lit("exact"))
          .when(col("near_doc").isNotNull, lit("near"))
          .otherwise(lit("novel")).as("verdict"),
        coalesce(col("exact_doc"), col("near_doc")).as("match_doc"),
        col("near_jaccard"))
  }

  /** The q112 base-corpus index (doc_id % 5 ≠ 0 split), built ONCE per
    * (session, corpus) and shared by every consumer — q112's probe and
    * q208's health card read the same on-disk artifact instead of paying
    * two complete normalize+minhash+shingle corpus passes (the
    * uvCache/verifiedPairs discipline applied to the index build). */
  private val idxCache = new graft.SessionCache[String]
  private def builtBaseIndex(s: SparkSession, d: String): String =
    idxCache.getOrBuild(s, d) {
      val dir = graft.Scratch.dir("dedupidx", s, d)
      buildDedupIndex(
        t(s, d, "documents").select(col("doc_id"), col("text"))
          .filter(col("doc_id") % 5 =!= 0), dir)
      dir
    }

  private def q112(s: SparkSession, d: String): DataFrame = {
    val dir = builtBaseIndex(s, d)
    val docs = t(s, d, "documents").select(col("doc_id"), col("text"))
    probeDedupIndex(s, docs.filter(col("doc_id") % 5 === 0), dir)
      .orderBy("doc_id")
  }

  /** q208 — dedup-index health card: the operational metrics a 100 TB
    * deployment watches over the q112 index, computed FROM the persisted
    * tables themselves (the card audits what is actually on disk, not a
    * recomputation). The load-bearing number is band-bucket skew:
    * probe cost per batch doc is proportional to its buckets' sizes, and
    * one degenerate band signature (boilerplate corpora produce them)
    * turns the candidate join quadratic — `max_bucket_docs` and the
    * Σ n·(n−1)/2 self-join budget are the alarms that fire BEFORE that
    * happens. Everything is an aggregation over index-sized tables;
    * exact integers plus one final division. */
  private def q208(s: SparkSession, d: String): DataFrame = {
    val dir = builtBaseIndex(s, d) // shared with q112 — one build per corpus
    val bstats = IndexStore.read(s, dir, "bands")
      .groupBy(col("band"), col("sig")).agg(count(lit(1)).as("n"))
      .agg(sum(col("n")).as("band_rows"),
        count(lit(1)).as("band_buckets"),
        max(col("n")).as("max_bucket_docs"),
        expr("sum(n * (n - 1)) div 2").as("cand_pairs_budget"))
    val estats = IndexStore.read(s, dir, "exact")
      .agg(count(lit(1)).as("exact_keys"))
    val sstats = IndexStore.read(s, dir, "shingles")
      .agg(count(lit(1)).as("shingle_docs"), sum(size(col("shs"))).as("shingle_mass"))
    graft.Scalars.withScalar(graft.Scalars.withScalar(bstats, estats), sstats)
      .select(col("exact_keys"), col("band_rows"), col("band_buckets"),
        col("max_bucket_docs"), col("cand_pairs_budget"),
        col("shingle_docs"), col("shingle_mass"),
        (col("shingle_mass").cast("double") /
          nullif(col("shingle_docs"), lit(0)).cast("double")).as("avg_shingles_per_doc"))
  }
  private val q208Sql =
    """WITH alldocs AS (
      |  SELECT doc_id,
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS norm_key,
      |    string_split(text, ' ') AS toks
      |  FROM documents WHERE doc_id % 5 <> 0),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
      |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
      |        FROM alldocs WHERE len(toks) >= 3)),
      |hv AS (
      |  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647 AS hm
      |  FROM sh),
      |perms AS (
      |  SELECT p, (1103515245 * (p + 1) + 12345) % 2147483647 AS a,
      |         (69069 * (p + 1) + 1) % 2147483647 AS b
      |  FROM (SELECT unnest(generate_series(0, 15)) AS p)),
      |lanes AS (
      |  SELECT doc_id, p, MIN((a * hm + b) % 2147483647) AS lane
      |  FROM hv CROSS JOIN perms GROUP BY doc_id, p),
      |bands AS (
      |  SELECT doc_id, p // 4 AS band, string_agg(lane::VARCHAR, ',' ORDER BY p) AS sig
      |  FROM lanes GROUP BY doc_id, p // 4),
      |bb AS (SELECT band, sig, CAST(COUNT(*) AS BIGINT) AS n FROM bands GROUP BY band, sig),
      |bstats AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS band_rows,
      |    CAST(COUNT(*) AS BIGINT) AS band_buckets,
      |    CAST(MAX(n) AS BIGINT) AS max_bucket_docs,
      |    CAST(SUM(n * (n - 1)) // 2 AS BIGINT) AS cand_pairs_budget
      |  FROM bb),
      |estats AS (
      |  SELECT CAST(COUNT(*) AS BIGINT) AS exact_keys
      |  FROM (SELECT norm_key FROM alldocs GROUP BY norm_key)),
      |sstats AS (
      |  SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS shingle_docs,
      |    CAST(COUNT(*) AS BIGINT) AS shingle_mass
      |  FROM sh)
      |SELECT e.exact_keys, b.band_rows, b.band_buckets, b.max_bucket_docs,
      |  b.cand_pairs_budget, s.shingle_docs, s.shingle_mass,
      |  CAST(s.shingle_mass AS DOUBLE) / CAST(nullif(s.shingle_docs, 0) AS DOUBLE)
      |    AS avg_shingles_per_doc
      |FROM bstats b, estats e, sstats s""".stripMargin
  private val q112Sql =
    """WITH alldocs AS (
      |  SELECT doc_id,
      |    md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS norm_key,
      |    string_split(text, ' ') AS toks
      |  FROM documents),
      |exact_idx AS (
      |  SELECT norm_key, MIN(doc_id) AS exact_doc FROM alldocs
      |  WHERE doc_id % 5 <> 0 GROUP BY norm_key),
      |sh AS (
      |  SELECT DISTINCT doc_id, array_to_string(toks[i:i+2], ' ') AS shingle
      |  FROM (SELECT doc_id, toks, unnest(generate_series(1, len(toks) - 2)) AS i
      |        FROM alldocs WHERE len(toks) >= 3)),
      |hv AS (
      |  SELECT doc_id, ('0x' || substr(md5(shingle), 1, 15))::BIGINT % 2147483647 AS hm
      |  FROM sh),
      |perms AS (
      |  SELECT p, (1103515245 * (p + 1) + 12345) % 2147483647 AS a,
      |         (69069 * (p + 1) + 1) % 2147483647 AS b
      |  FROM (SELECT unnest(generate_series(0, 15)) AS p)),
      |lanes AS (
      |  SELECT doc_id, p, MIN((a * hm + b) % 2147483647) AS lane
      |  FROM hv CROSS JOIN perms GROUP BY doc_id, p),
      |bands AS (
      |  SELECT doc_id, p // 4 AS band, string_agg(lane::VARCHAR, ',' ORDER BY p) AS sig
      |  FROM lanes GROUP BY doc_id, p // 4),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS batch_doc, y.doc_id AS base_doc
      |  FROM bands x JOIN bands y ON x.band = y.band AND x.sig = y.sig
      |  WHERE x.doc_id % 5 = 0 AND y.doc_id % 5 <> 0),
      |sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
      |jac AS (
      |  SELECT i.batch_doc, i.base_doc,
      |    CAST(i.inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.inter AS DOUBLE) AS jaccard
      |  FROM (SELECT c.batch_doc, c.base_doc, COUNT(*) AS inter
      |        FROM cand c JOIN sh a ON a.doc_id = c.batch_doc
      |                    JOIN sh b ON b.doc_id = c.base_doc AND b.shingle = a.shingle
      |        GROUP BY 1, 2) i
      |  JOIN sizes sa ON i.batch_doc = sa.doc_id
      |  JOIN sizes sb ON i.base_doc = sb.doc_id
      |  WHERE CAST(i.inter AS DOUBLE) / CAST(sa.sz + sb.sz - i.inter AS DOUBLE) >= 0.5),
      |best AS (
      |  SELECT batch_doc, base_doc AS near_doc, jaccard AS near_jaccard
      |  FROM (SELECT batch_doc, base_doc, jaccard,
      |          ROW_NUMBER() OVER (PARTITION BY batch_doc
      |            ORDER BY jaccard DESC, base_doc) AS rn
      |        FROM jac)
      |  WHERE rn = 1)
      |SELECT d.doc_id,
      |  CASE WHEN e.exact_doc IS NOT NULL THEN 'exact'
      |       WHEN n.near_doc IS NOT NULL THEN 'near'
      |       ELSE 'novel' END AS verdict,
      |  COALESCE(e.exact_doc, n.near_doc) AS match_doc,
      |  n.near_jaccard
      |FROM alldocs d
      |LEFT JOIN exact_idx e USING (norm_key)
      |LEFT JOIN best n ON n.batch_doc = d.doc_id
      |WHERE d.doc_id % 5 = 0
      |ORDER BY d.doc_id""".stripMargin

  /** q119: winnowing fingerprint selection (Schleimer, Wilkerson, Aiken
    * 2003, "Winnowing: Local Algorithms for Document Fingerprinting" —
    * the MOSS scheme): hash every token 4-gram (q25's portable
    * polynomial hash), slide a w=4 window over the hash sequence, and
    * select each window's minimum (rightmost on ties, the paper's robust
    * rule); the selected set has guaranteed density ~2/(w+1) of the
    * grams while still catching every shared substring of ≥ k+w−1
    * tokens. Per doc: gram count, selected-fingerprint count, and how
    * many OTHER docs share at least one fingerprint (the match signal).
    *
    * Scale contrast with q94's positional gram index — the reason this
    * operator earns its slot: q94 shuffles EVERY gram occurrence; the
    * winnowed index shuffles ~2/(w+1) of them with a detection
    * guarantee, which is the sketch a 100 TB plagiarism/overlap pass
    * actually ships. Per-doc selection is row-local lambda work bounded
    * by doc length; the only corpus-wide stage is the fingerprint
    * equi-join (shuffle keyed by hash — an inverted index, never
    * all-pairs) plus doc-keyed count aggregations. Window minima of
    * ADJACENT windows usually coincide, so winners are deduped
    * per doc (DISTINCT on (doc, pos, h)) before the join. */
  private def q119(s: SparkSession, d: String): DataFrame = {
    val base = t(s, d, "documents")
      .select(col("doc_id"),
        split(trim(coalesce(col("text"), lit(""))), "\\s+").as("toks"))
      // Per-TOKEN polynomial hash first (O(text) total), then each gram
      // hash combines its 4 token hashes — not a re-fold over the gram's
      // characters, which costs O(text·k) and dominated the first cut
      // (2.26 s → the per-token rewrite at sf0.1). The Horner chain stays
      // below 2^46 before the single end-mod, so BIGINT arithmetic is
      // exact and identical in both engines.
      .withColumn("th", expr(
        """transform(toks, t ->
          |  aggregate(split(t, ''), 0L,
          |    (a, c) -> (a * 31 + ascii(c)) % 2147483647))""".stripMargin))
      // grams: (pos, h) for every token 4-gram; the filter-over-sequence
      // guard sidesteps Spark's descending sequence(1, 0) surprise on
      // short docs and keeps the empty array correctly struct-typed.
      .withColumn("grams", expr(
        """transform(
          |  filter(sequence(1, greatest(size(toks) - 3, 1)),
          |         i -> i <= size(toks) - 3),
          |  i -> named_struct('pos', i, 'h',
          |    (((element_at(th, i) * 31 + element_at(th, i + 1)) * 31
          |      + element_at(th, i + 2)) * 31 + element_at(th, i + 3))
          |      % 2147483647))""".stripMargin))
      .withColumn("sel", expr(
        """transform(
          |  filter(sequence(1, greatest(size(grams) - 3, 1)),
          |         j -> size(grams) > 0),
          |  j -> aggregate(slice(grams, j + 1, 3), element_at(grams, j),
          |    (a, x) -> CASE WHEN x.h < a.h OR (x.h = a.h AND x.pos > a.pos)
          |              THEN x ELSE a END))""".stripMargin))
      .select(col("doc_id"), size(col("grams")).cast("bigint").as("n_grams"),
        col("sel"))
      .localCheckpoint(true) // consumers: fingerprint table + per-doc stats
    val fp = base.select(col("doc_id"), explode(col("sel")).as("s"))
      .select(col("doc_id"), col("s.pos").as("pos"), col("s.h").as("h"))
      .distinct()
      .localCheckpoint(true) // consumers: per-doc count + both join sides
    val nfp = fp.groupBy(col("doc_id")).agg(count(lit(1)).as("n_fingerprints"))
    val hs = fp.select(col("doc_id"), col("h")).distinct()
    val partners = hs.join(
        hs.select(col("h"), col("doc_id").as("doc_b")), Seq("h"))
      .filter(col("doc_id") =!= col("doc_b"))
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("doc_b")).as("n_partner_docs"))
    base.select(col("doc_id"), col("n_grams"))
      .join(nfp, Seq("doc_id"), "left")
      .join(partners, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_fingerprints"), lit(0L)).as("n_fingerprints"),
        coalesce(col("n_partner_docs"), lit(0L)).as("n_partner_docs"))
      .orderBy("doc_id")
  }
  private val q119Sql =
    """WITH base AS (
      |  SELECT doc_id,
      |    regexp_split_to_array(trim(COALESCE(text, '')), '\s+') AS toks
      |  FROM documents),
      |tkh AS (
      |  SELECT doc_id, toks,
      |    list_transform(toks, t -> list_reduce(
      |      list_prepend(CAST(0 AS BIGINT),
      |        list_transform(string_split(t, ''), c -> CAST(ascii(c) AS BIGINT))),
      |      (a, b) -> (a * 31 + b) % 2147483647)) AS ths
      |  FROM base),
      |g AS (
      |  SELECT doc_id, toks,
      |    list_transform(
      |      list_filter(generate_series(1, GREATEST(len(toks) - 3, 1)),
      |                  i -> i <= len(toks) - 3),
      |      i -> {'pos': i, 'h':
      |        (((ths[i] * 31 + ths[i + 1]) * 31 + ths[i + 2]) * 31 + ths[i + 3])
      |          % 2147483647}) AS grams
      |  FROM tkh),
      |w AS (
      |  SELECT doc_id, CAST(len(grams) AS BIGINT) AS n_grams,
      |    list_transform(
      |      list_filter(generate_series(1, GREATEST(len(grams) - 3, 1)),
      |                  j -> len(grams) > 0),
      |      j -> list_reduce(list_prepend(grams[j], list_slice(grams, j + 1, j + 3)),
      |        (a, x) -> CASE WHEN struct_extract(x, 'h') < struct_extract(a, 'h')
      |                       OR (struct_extract(x, 'h') = struct_extract(a, 'h')
      |                           AND struct_extract(x, 'pos') > struct_extract(a, 'pos'))
      |                  THEN x ELSE a END)) AS sel
      |  FROM g),
      |fp AS (
      |  SELECT DISTINCT doc_id, struct_extract(s, 'pos') AS pos,
      |    struct_extract(s, 'h') AS h
      |  FROM (SELECT doc_id, unnest(sel) AS s FROM w)),
      |nfp AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_fingerprints
      |  FROM fp GROUP BY doc_id),
      |hs AS (SELECT DISTINCT doc_id, h FROM fp),
      |pt AS (
      |  SELECT a.doc_id, CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS n_partner_docs
      |  FROM hs a JOIN hs b ON a.h = b.h AND a.doc_id <> b.doc_id
      |  GROUP BY a.doc_id)
      |SELECT w.doc_id, w.n_grams,
      |  COALESCE(nfp.n_fingerprints, 0) AS n_fingerprints,
      |  COALESCE(pt.n_partner_docs, 0) AS n_partner_docs
      |FROM w LEFT JOIN nfp USING (doc_id) LEFT JOIN pt USING (doc_id)
      |ORDER BY w.doc_id""".stripMargin

  /** q134 — train/val split self-decontamination: the leakage audit a
    * team runs AFTER q50's hash split and BEFORE publishing eval
    * numbers — near-duplicate text straddling the split inflates held-out
    * metrics exactly like external benchmark contamination (the q89
    * check, turned inward; Lee et al. 2022 §6.2 measure this
    * split-leakage effect directly). Every VAL doc is scored by the
    * fraction of its distinct 3-gram shingles that occur anywhere in the
    * TRAIN split, flagged at the q89 ≥0.25 threshold; the split
    * membership is q50's md5-nibble rule verbatim.
    *
    * Scale shape: q89 broadcasts its (small, fixed) benchmark shingle
    * set; here BOTH sides are corpus-scale, so the probe is a plain
    * shuffle equi-join on the shingle key (the q27/q94 discipline —
    * shuffle-by-shingle, never all-pairs, AQE free to pick the join
    * strategy). One distinct-shingle pass per side, one doc-keyed
    * rollup. */
  private def q134(s: SparkSession, d: String): DataFrame = {
    val sh = t(s, d, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("toks"),
        substring(md5(col("doc_id").cast("string")), 1, 1).as("nib"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"), col("nib"), explode(expr(
        "array_distinct(transform(sequence(1, size(toks) - 2)," +
          " i -> concat_ws(' ', toks[i-1], toks[i], toks[i+1])))")).as("sh"))
      .localCheckpoint(true) // consumers: train index + val probe
    val train = sh.filter(col("nib") <= "b").select(col("sh")).distinct()
      .withColumn("hit", lit(1))
    sh.filter(col("nib") > "b" && col("nib") <= "d")
      .join(train, Seq("sh"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"), count(col("hit")).as("n_hits"))
      .select(col("doc_id"), col("n_shingles"), col("n_hits"),
        (col("n_hits").cast("double") / col("n_shingles")).as("leak_frac"),
        (col("n_hits") * 4 >= col("n_shingles")).as("leaked"))
      .orderBy("doc_id")
  }
  private val q134Sql =
    """WITH docs AS (
      |  SELECT doc_id, string_split(text, ' ') AS toks,
      |    substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS nib
      |  FROM documents
      |  WHERE len(string_split(text, ' ')) >= 3),
      |sh AS (
      |  SELECT DISTINCT doc_id, nib,
      |    toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2] AS sh
      |  FROM (SELECT doc_id, nib, toks,
      |          unnest(generate_series(1, len(toks) - 2)) AS i
      |        FROM docs)),
      |tr AS (SELECT DISTINCT sh FROM sh WHERE nib <= 'b')
      |SELECT v.doc_id,
      |  CAST(COUNT(*) AS BIGINT) AS n_shingles,
      |  CAST(COUNT(t.sh) AS BIGINT) AS n_hits,
      |  CAST(COUNT(t.sh) AS DOUBLE) / COUNT(*) AS leak_frac,
      |  COUNT(t.sh) * 4 >= COUNT(*) AS leaked
      |FROM (SELECT * FROM sh WHERE nib > 'b' AND nib <= 'd') v
      |LEFT JOIN tr t USING (sh)
      |GROUP BY v.doc_id ORDER BY v.doc_id""".stripMargin

  /** q139 — per-doc MEMORIZATION-RISK score: the fraction of a
    * document's 8-grams that also occur in another document. Carlini et
    * al. 2022 ("Quantifying Memorization Across Neural Language Models")
    * measure extractable memorization scaling with sequence duplication,
    * and Lee et al. 2022's headline result is that removing such
    * duplication reduces it — q94 emits the SPANS a cleaner would cut;
    * this emits the doc-level score a curation pipeline ranks and
    * budgets by (e.g. "drop or downsample everything above 0.5").
    *
    * risk_flag threshold 0.5: more than half the doc's token windows are
    * cross-doc duplicated — the doc is mostly boilerplate/template mass.
    *
    * Scale shape: REUSES the memoized q94 positional gram index (one
    * corpus explode serves both queries); the cross-doc key set is the
    * same min≠max aggregation; per-doc duplicated-gram counts come from
    * the gram-keyed semi-join + a doc-keyed hash agg. Denominators are
    * row-local (`size(toks) − 7`). Docs under 8 tokens have no windows:
    * n_grams = 0, dup_fraction = 0 (total, like q135's empty-doc
    * weight). No window over the corpus anywhere. */
  private def q139(s: SparkSession, d: String): DataFrame = {
    val n = 8
    val grams = gramIndex8(s, d)
    val crossDoc = grams.groupBy(col("g"))
      .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
      .filter(col("mn") =!= col("mx"))
      .select(col("g"))
    val nd = grams.join(crossDoc, "g")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_dup"))
    val base = t(s, d, "documents")
      .select(col("doc_id"),
        greatest(size(split(trim(coalesce(col("text"), lit(""))), "\\s+"))
          .cast("bigint") - (n - 1), lit(0L)).as("n_grams"))
    base.join(nd, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_grams"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_grams"))
      .withColumn("dup_fraction",
        when(col("n_grams") === 0, lit(0.0))
          .otherwise(col("n_dup_grams").cast("double") / col("n_grams").cast("double")))
      .withColumn("risk_flag", col("dup_fraction") > 0.5)
      .orderBy("doc_id")
  }
  private val q139Sql =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS t FROM documents),
      |grams AS (
      |  SELECT doc_id, x.g FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(t) - 6),
      |      i -> struct_pack(start := i, g := array_to_string(t[i:i + 7], ' ')))) AS x
      |    FROM toks WHERE len(t) >= 8)),
      |crossdoc AS (
      |  SELECT g FROM grams GROUP BY g HAVING MIN(doc_id) <> MAX(doc_id)),
      |nd AS (
      |  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup
      |  FROM grams JOIN crossdoc USING (g) GROUP BY doc_id),
      |base AS (
      |  SELECT doc_id,
      |    GREATEST(CAST(len(regexp_split_to_array(trim(COALESCE(text, '')), '\s+')) AS BIGINT) - 7,
      |      0) AS n_grams
      |  FROM documents)
      |SELECT b.doc_id, b.n_grams, COALESCE(n.n_dup, 0) AS n_dup_grams,
      |  CASE WHEN b.n_grams = 0 THEN CAST(0 AS DOUBLE)
      |    ELSE CAST(COALESCE(n.n_dup, 0) AS DOUBLE) / CAST(b.n_grams AS DOUBLE) END AS dup_fraction,
      |  CASE WHEN b.n_grams = 0 THEN FALSE
      |    ELSE CAST(COALESCE(n.n_dup, 0) AS DOUBLE) / CAST(b.n_grams AS DOUBLE) > 0.5 END AS risk_flag
      |FROM base b LEFT JOIN nd n USING (doc_id)
      |ORDER BY b.doc_id""".stripMargin

  /** q209 — LSH detection-probability curve: the published recall SLA of
    * the MinHash index (q28/q112/DedupStream all band 16 lanes). For a
    * banding of b bands × r rows, a pair at Jaccard J collides in at
    * least one band with p = 1 − (1 − J^r)^b — the S-curve whose knee
    * placement IS the b/r design decision. The card tabulates p over
    * J = 0.05..0.95 for every 16-lane scheme (16×1, 8×2, 4×4, 2×8,
    * 1×16), making the shipped 4×4 choice auditable: ~23% single-probe
    * recall at the J = 0.5 verify threshold, 88% at J = 0.8, >99.9%
    * at exact-dup J ≈ 1 — the standard near-dup trade (exact dups are
    * caught by the hash table anyway; banding exists for the high-J
    * tail, and the curve is the honest statement of what the index
    * misses). q208's bucket-skew card and this curve are the index's
    * observability pair: one audits cost, the other recall.
    *
    * Bit-portable by construction: J = i/20 is one exact-int double
    * division, and every power is UNROLLED repeated multiplication —
    * fixed-order IEEE ops, no pow() (whose libm results differ across
    * engines). Pure literal grid: the plan is a LocalTableScan, zero
    * corpus I/O. */
  private val LshSchemes = Seq((16, 1), (8, 2), (4, 4), (2, 8), (1, 16))
  private def powExpr(base: String, n: Int): String =
    Seq.fill(n)(base).mkString("(", " * ", ")")

  private def q209(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = (1L to 19L).toDF("i")
      .withColumn("j", col("i").cast("double") / lit(20.0))
    LshSchemes.foldLeft(base) { case (df, (b, r)) =>
      df.withColumn(s"p_b${b}r$r",
        expr(s"1e0 - ${powExpr(s"(1e0 - ${powExpr("j", r)})", b)}"))
    }.orderBy("i")
  }
  private def q209Sql: String = {
    val cols = LshSchemes.map { case (b, r) =>
      s"1e0 - ${powExpr(s"(1e0 - ${powExpr("j", r)})", b)} AS p_b${b}r$r"
    }.mkString(",\n  ")
    s"""WITH g AS (SELECT unnest(generate_series(1, 19)) AS i),
       |b AS (SELECT CAST(i AS BIGINT) AS i, CAST(i AS DOUBLE) / 2e1 AS j FROM g)
       |SELECT i, j,
       |  $cols
       |FROM b ORDER BY i""".stripMargin
  }

  // ------------------------------------------------------------------ q235

  /** q235 — sorted-neighborhood blocking (Hernández & Stolfo 1995, "The
    * Merge/Purge Problem for Large Databases"): the THIRD blocking
    * family beside hash-LSH (q28) and the prefix-filtered inverted
    * index (q27). Each doc gets a normalized sort key (lowercased,
    * non-alphanumerics stripped, first 32 chars); docs sort within
    * 2-char-prefix blocks and each row is paired with its next 3
    * neighbors in key order (window w = 4); candidates verify
    * ROW-LOCALLY by character-trigram Jaccard of the keys (is_dup at
    * J ≥ 0.8). SNM's trade vs LSH: no hashing and candidates bounded at
    * w·n by construction, but recall depends on the sort key sharing a
    * prefix — the classic fix is multi-pass with rotated keys, built
    * as [[q239]] (whose pass 0 is exactly this query).
    *
    * Parity: the key alphabet is [a-z0-9] — pure ASCII — so Java
    * UTF-16 and DuckDB UTF-8 byte orderings coincide (a non-ASCII sort
    * key would NOT survive the cross-engine ORDER BY); doc_id breaks
    * ties, making the neighbor assignment deterministic; Jaccard is one
    * double division of exact set sizes.
    *
    * Scale shape: one sort-shuffle keyed (pfx, key) — the window
    * partitions by the 36² prefix blocks, so no global sort; per-row
    * work after the sort is w−1 lead()s and a ≤30-trigram intersect.
    * Skew honesty: a corpus where one 2-char prefix dominates (all docs
    * share a boilerplate opener) re-creates the global-sort problem —
    * the rotated-key passes of [[q239]] are the fix (the recall fix
    * doubles as the skew fix); extending the prefix adaptively is the
    * alternative. */
  private def q235(s: SparkSession, d: String): DataFrame = {
    val keyed = t(s, d, "documents")
      .select(col("doc_id"), expr(
        "substring(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]', ''), 1, 32)")
        .as("k"))
      .filter(length(col("k")) >= 3)
      .withColumn("pfx", substring(col("k"), 1, 2))
    val w = Window.partitionBy("pfx").orderBy("k", "doc_id")
    val tri = (c: String) => array_distinct(expr(
      s"transform(sequence(1, length($c) - 2), i -> substring($c, i, 3))"))
    keyed
      .withColumn("k1", lead(col("k"), 1).over(w))
      .withColumn("d1", lead(col("doc_id"), 1).over(w))
      .withColumn("k2", lead(col("k"), 2).over(w))
      .withColumn("d2", lead(col("doc_id"), 2).over(w))
      .withColumn("k3", lead(col("k"), 3).over(w))
      .withColumn("d3", lead(col("doc_id"), 3).over(w))
      .select(col("doc_id"), col("k"), explode(array(
        struct(lit(1).as("nd"), col("d1").as("id2"), col("k1").as("kb")),
        struct(lit(2).as("nd"), col("d2").as("id2"), col("k2").as("kb")),
        struct(lit(3).as("nd"), col("d3").as("id2"), col("k3").as("kb")))).as("p"))
      .filter(col("p.id2").isNotNull)
      .select(col("doc_id"), col("k"), col("p.nd").as("neighbor_dist"),
        col("p.id2").as("id2"), col("p.kb").as("kb"))
      .withColumn("ta", tri("k"))
      .withColumn("tb", tri("kb"))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("uni",
        (size(col("ta")) + size(col("tb"))).cast("long") - col("inter"))
      .select(least(col("doc_id"), col("id2")).as("doc_a"),
        greatest(col("doc_id"), col("id2")).as("doc_b"),
        col("neighbor_dist"),
        (col("inter").cast("double") / col("uni").cast("double")).as("jaccard"))
      .withColumn("is_dup", col("jaccard") >= 0.8)
      .orderBy("doc_a", "doc_b", "neighbor_dist")
  }
  private val q235Sql =
    """WITH keyed AS (
      |  SELECT doc_id,
      |    substr(regexp_replace(lower(COALESCE(text, '')), '[^a-z0-9]', '', 'g'), 1, 32) AS k
      |  FROM documents),
      |f AS (SELECT doc_id, k, substr(k, 1, 2) AS pfx FROM keyed WHERE length(k) >= 3),
      |led AS (
      |  SELECT doc_id, k,
      |    LEAD(k, 1) OVER w AS k1, LEAD(doc_id, 1) OVER w AS d1,
      |    LEAD(k, 2) OVER w AS k2, LEAD(doc_id, 2) OVER w AS d2,
      |    LEAD(k, 3) OVER w AS k3, LEAD(doc_id, 3) OVER w AS d3
      |  FROM f WINDOW w AS (PARTITION BY pfx ORDER BY k, doc_id)),
      |pairs AS (
      |  SELECT doc_id, k, 1 AS nd, d1 AS id2, k1 AS kb FROM led WHERE d1 IS NOT NULL
      |  UNION ALL
      |  SELECT doc_id, k, 2 AS nd, d2 AS id2, k2 AS kb FROM led WHERE d2 IS NOT NULL
      |  UNION ALL
      |  SELECT doc_id, k, 3 AS nd, d3 AS id2, k3 AS kb FROM led WHERE d3 IS NOT NULL),
      |tri AS (
      |  SELECT LEAST(doc_id, id2) AS doc_a, GREATEST(doc_id, id2) AS doc_b, nd,
      |    list_distinct(list_transform(generate_series(1, length(k) - 2),
      |      i -> substr(k, i, 3))) AS ta,
      |    list_distinct(list_transform(generate_series(1, length(kb) - 2),
      |      i -> substr(kb, i, 3))) AS tb
      |  FROM pairs),
      |sc AS (
      |  SELECT doc_a, doc_b, nd,
      |    CAST(len(list_intersect(ta, tb)) AS BIGINT) AS inter,
      |    CAST(len(ta) + len(tb) AS BIGINT)
      |      - CAST(len(list_intersect(ta, tb)) AS BIGINT) AS uni
      |  FROM tri)
      |SELECT doc_a, doc_b, CAST(nd AS INTEGER) AS neighbor_dist,
      |  CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jaccard,
      |  (CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE)) >= 0.8 AS is_dup
      |FROM sc ORDER BY doc_a, doc_b, neighbor_dist""".stripMargin

  // ------------------------------------------------------------------ q239

  /** q239 — MULTI-PASS sorted-neighborhood with rotated keys: the
    * classic recall fix q235's scaladoc names (Hernández & Stolfo 1995
    * §4.2 run several passes with different sort keys and union the
    * candidates). Single-pass SNM only pairs docs whose keys sort
    * adjacently — two near-identical docs whose keys diverge in the
    * FIRST characters land in different 2-char blocks and are never
    * candidates. Pass p here sorts by the key ROTATED left by
    * (p·11 mod len) characters (11 is coprime to the 32-char key cap,
    * so the three passes start the sort at well-spread offsets); a pair
    * differing only in a short prefix becomes ADJACENT in a rotated
    * pass where the shared substring leads the sort key. Pass 0 is
    * rotation 0 — exactly q235 — so multi-pass candidate recall is ≥
    * single-pass BY CONSTRUCTION (SnmMultipassSpec also pins it on
    * planted prefix-divergent near-dups), and verification is unchanged:
    * character-trigram Jaccard of the ORIGINAL keys at J ≥ 0.8.
    *
    * The SKEW DUAL, now cashed rather than noted: a corpus where one
    * boilerplate opener dominates pass 0's 2-char blocks (the q235
    * honesty caveat — one block re-creates the global sort) spreads
    * across rotated passes, because the rotation starts each key
    * mid-document where the shared opener no longer leads; the window
    * work of the skewed pass re-balances in the others, and the union
    * keeps every pair any pass saw.
    *
    * Scale shape: 3× q235's sort-shuffle, each keyed (pass, pfx, rk) —
    * the pass id is IN the partition key, so all three passes run as ONE
    * window over one shuffle, not three jobs; per-row work after the
    * sort is the same w−1 lead()s; the union is a (doc_a, doc_b) hash
    * aggregation over candidate pairs (≤ 3·(w−1)·n rows). Parity: the
    * rotation is pure ASCII substring algebra, identical in both
    * engines; min/count-distinct aggregates are exact integers. */
  private def q239(s: SparkSession, d: String): DataFrame = {
    val keyed = t(s, d, "documents")
      .select(col("doc_id"), expr(
        "substring(regexp_replace(lower(coalesce(text, '')), '[^a-z0-9]', ''), 1, 32)")
        .as("k"))
      .filter(length(col("k")) >= 3)
    val passes = keyed
      .select(col("doc_id"), col("k"), explode(expr("array(0, 1, 2)")).as("pass"))
      .withColumn("rot", (col("pass") * lit(11)) % length(col("k")))
      .withColumn("rk",
        concat(expr("substring(k, rot + 1)"), expr("substring(k, 1, rot)")))
      .withColumn("pfx", substring(col("rk"), 1, 2))
    val w = Window.partitionBy("pass", "pfx").orderBy("rk", "doc_id")
    val tri = (c: String) => array_distinct(expr(
      s"transform(sequence(1, length($c) - 2), i -> substring($c, i, 3))"))
    passes
      .withColumn("k1", lead(col("k"), 1).over(w))
      .withColumn("d1", lead(col("doc_id"), 1).over(w))
      .withColumn("k2", lead(col("k"), 2).over(w))
      .withColumn("d2", lead(col("doc_id"), 2).over(w))
      .withColumn("k3", lead(col("k"), 3).over(w))
      .withColumn("d3", lead(col("doc_id"), 3).over(w))
      .select(col("doc_id"), col("k"), col("pass"), explode(array(
        struct(lit(1).as("nd"), col("d1").as("id2"), col("k1").as("nk")),
        struct(lit(2).as("nd"), col("d2").as("id2"), col("k2").as("nk")),
        struct(lit(3).as("nd"), col("d3").as("id2"), col("k3").as("nk")))).as("p"))
      .filter(col("p.id2").isNotNull)
      .select(
        least(col("doc_id"), col("p.id2")).as("doc_a"),
        greatest(col("doc_id"), col("p.id2")).as("doc_b"),
        col("pass"), col("p.nd").as("nd"),
        when(col("doc_id") < col("p.id2"), col("k")).otherwise(col("p.nk")).as("ka"),
        when(col("doc_id") < col("p.id2"), col("p.nk")).otherwise(col("k")).as("kb"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(col("pass")).as("first_pass"),
        countDistinct(col("pass")).as("n_passes"),
        min(col("nd")).as("min_neighbor_dist"),
        min(col("ka")).as("ka"), min(col("kb")).as("kb"))
      .withColumn("ta", tri("ka"))
      .withColumn("tb", tri("kb"))
      .withColumn("inter", size(array_intersect(col("ta"), col("tb"))).cast("long"))
      .withColumn("uni",
        (size(col("ta")) + size(col("tb"))).cast("long") - col("inter"))
      .select(col("doc_a"), col("doc_b"), col("first_pass"), col("n_passes"),
        col("min_neighbor_dist"),
        (col("inter").cast("double") / col("uni").cast("double")).as("jaccard"))
      .withColumn("is_dup", col("jaccard") >= 0.8)
      .orderBy("doc_a", "doc_b")
  }
  private val q239Sql =
    """WITH keyed AS (
      |  SELECT doc_id,
      |    substr(regexp_replace(lower(COALESCE(text, '')), '[^a-z0-9]', '', 'g'), 1, 32) AS k
      |  FROM documents),
      |f AS (SELECT doc_id, k FROM keyed WHERE length(k) >= 3),
      |pr AS (
      |  SELECT doc_id, k, pass, (pass * 11) % length(k) AS rot
      |  FROM f, (SELECT unnest([0, 1, 2]) AS pass)),
      |g AS (
      |  SELECT doc_id, k, pass,
      |    substr(k, rot + 1) || substr(k, 1, rot) AS rk
      |  FROM pr),
      |h AS (SELECT doc_id, k, pass, rk, substr(rk, 1, 2) AS pfx FROM g),
      |led AS (
      |  SELECT doc_id, k, pass,
      |    LEAD(k, 1) OVER w AS k1, LEAD(doc_id, 1) OVER w AS d1,
      |    LEAD(k, 2) OVER w AS k2, LEAD(doc_id, 2) OVER w AS d2,
      |    LEAD(k, 3) OVER w AS k3, LEAD(doc_id, 3) OVER w AS d3
      |  FROM h WINDOW w AS (PARTITION BY pass, pfx ORDER BY rk, doc_id)),
      |pairs AS (
      |  SELECT doc_id, k, pass, 1 AS nd, d1 AS id2, k1 AS nk FROM led WHERE d1 IS NOT NULL
      |  UNION ALL
      |  SELECT doc_id, k, pass, 2 AS nd, d2 AS id2, k2 AS nk FROM led WHERE d2 IS NOT NULL
      |  UNION ALL
      |  SELECT doc_id, k, pass, 3 AS nd, d3 AS id2, k3 AS nk FROM led WHERE d3 IS NOT NULL),
      |canon AS (
      |  SELECT LEAST(doc_id, id2) AS doc_a, GREATEST(doc_id, id2) AS doc_b, pass, nd,
      |    CASE WHEN doc_id < id2 THEN k ELSE nk END AS ka,
      |    CASE WHEN doc_id < id2 THEN nk ELSE k END AS kb
      |  FROM pairs),
      |grp AS (
      |  SELECT doc_a, doc_b, CAST(MIN(pass) AS INTEGER) AS first_pass,
      |    CAST(COUNT(DISTINCT pass) AS BIGINT) AS n_passes,
      |    CAST(MIN(nd) AS INTEGER) AS min_neighbor_dist,
      |    MIN(ka) AS ka, MIN(kb) AS kb
      |  FROM canon GROUP BY doc_a, doc_b),
      |tri AS (
      |  SELECT doc_a, doc_b, first_pass, n_passes, min_neighbor_dist,
      |    list_distinct(list_transform(generate_series(1, length(ka) - 2),
      |      i -> substr(ka, i, 3))) AS ta,
      |    list_distinct(list_transform(generate_series(1, length(kb) - 2),
      |      i -> substr(kb, i, 3))) AS tb
      |  FROM grp),
      |sc AS (
      |  SELECT doc_a, doc_b, first_pass, n_passes, min_neighbor_dist,
      |    CAST(len(list_intersect(ta, tb)) AS BIGINT) AS inter,
      |    CAST(len(ta) + len(tb) AS BIGINT)
      |      - CAST(len(list_intersect(ta, tb)) AS BIGINT) AS uni
      |  FROM tri)
      |SELECT doc_a, doc_b, first_pass, n_passes, min_neighbor_dist,
      |  CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE) AS jaccard,
      |  (CAST(inter AS DOUBLE) / CAST(uni AS DOUBLE)) >= 0.8 AS is_dup
      |FROM sc ORDER BY doc_a, doc_b""".stripMargin

  // ------------------------------------------------------------------ q242

  /** q242 — LSH banding-scheme derivation card: [[LshConfig.schemeFor]]'s
    * SLA→(bands, rows) enumeration expressed AS A QUERY and held to the
    * DuckDB oracle, closing the round-12/13 "operationalize the knob
    * end-to-end" item: the driver-side derivation an index build uses
    * (`spark.graft.lsh.targetRecall`/`atJaccard` → `fromConf` →
    * `schemeFor` → persisted scheme metadata) is now AUDITABLE — this
    * card derives the same scheme for a grid of published SLA points in
    * both engines, and LshConfigSpec pins card ≡ schemeFor row by row,
    * so the three implementations (Scala driver, Spark plan, SQL) can
    * never drift apart silently.
    *
    * Parity mechanics: detection probability 1 − (1 − J^r)^b uses NO
    * libm pow — J^r and (1 − J^r)^b are ordered multiply folds
    * (aggregate ≡ list_reduce, the recallAt loop unrolled), so the
    * qualification comparisons see bit-identical doubles in both
    * engines. The candidate space is the full ≤[[LshConfig.MaxLanes]]
    * lanes grid (~65 k (r, b) pairs before the lane filter — plan-time
    * literal, corpus-independent); winner per SLA point is the
    * schemeFor objective verbatim: fewest lanes, ties to largest rows.
    * Scale: everything is a literal-spine row-local computation — the
    * card costs the same at sf0.001 and 100 TB. */
  private def q242(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sla = Seq((1, 0.9, 0.5), (2, 0.8, 0.7), (3, 0.95, 0.8), (4, 0.5, 0.3))
      .toDF("sla_id", "target_recall", "at_j")
    val max = LshConfig.MaxLanes
    sla
      .select(col("*"), explode(sequence(lit(1), lit(max))).as("r"))
      .select(col("*"), explode(sequence(lit(1), lit(max))).as("b"))
      .filter(col("r") * col("b") <= max)
      .withColumn("jr", expr(
        "aggregate(sequence(1, r), cast(1.0 as double), (a, x) -> a * at_j)"))
      .withColumn("det", lit(1.0) - expr(
        "aggregate(sequence(1, b), cast(1.0 as double), (a, x) -> a * (1.0 - jr))"))
      .withColumn("jrn", expr(
        "aggregate(sequence(1, r), cast(1.0 as double), (a, x) -> a * 0.1)"))
      .withColumn("noise", lit(1.0) - expr(
        "aggregate(sequence(1, b), cast(1.0 as double), (a, x) -> a * (1.0 - jrn))"))
      .filter(col("det") >= col("target_recall") && col("noise") <= lit(0.05))
      .groupBy(col("sla_id"), col("target_recall"), col("at_j"))
      .agg(min(struct((col("r") * col("b")).as("lanes"), (-col("r")).as("nr"),
        col("b").as("b"), col("r").as("r"),
        col("det").as("det"), col("noise").as("noise"))).as("w"))
      .select(col("sla_id"), col("target_recall"), col("at_j"),
        col("w.b").as("bands"), col("w.r").as("rows"),
        col("w.lanes").as("lanes"),
        col("w.det").as("recall_at_target"),
        col("w.noise").as("noise_recall"))
      .orderBy("sla_id")
  }
  private val q242Sql =
    s"""WITH sla AS (
       |  SELECT sla_id, CAST(target_recall AS DOUBLE) AS target_recall,
       |    CAST(at_j AS DOUBLE) AS at_j
       |  FROM (VALUES (1, 0.9, 0.5), (2, 0.8, 0.7),
       |               (3, 0.95, 0.8), (4, 0.5, 0.3))
       |    AS t(sla_id, target_recall, at_j)),
       |cand AS (
       |  SELECT sla_id, target_recall, at_j, r, b
       |  FROM sla,
       |    (SELECT unnest(generate_series(1, ${LshConfig.MaxLanes})) AS r),
       |    (SELECT unnest(generate_series(1, ${LshConfig.MaxLanes})) AS b)
       |  WHERE r * b <= ${LshConfig.MaxLanes}),
       |curve AS (
       |  SELECT sla_id, target_recall, at_j, r, b,
       |    list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
       |      list_transform(generate_series(1, r), x -> at_j)),
       |      (a, q) -> a * q) AS jr,
       |    -- 0.1 MUST be cast: a bare DuckDB 0.1 is DECIMAL(1,1) and the
       |    -- decimal fold truncates 0.1^r to 0, silently voiding the
       |    -- noise ceiling (observed: every 1-row scheme qualified)
       |    list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
       |      list_transform(generate_series(1, r), x -> CAST(0.1 AS DOUBLE))),
       |      (a, q) -> a * q) AS jrn
       |  FROM cand),
       |scored AS (
       |  SELECT sla_id, target_recall, at_j, r, b,
       |    CAST(1.0 AS DOUBLE) - list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
       |      list_transform(generate_series(1, b), x -> CAST(1.0 AS DOUBLE) - jr)),
       |      (a, q) -> a * q) AS det,
       |    CAST(1.0 AS DOUBLE) - list_reduce(list_prepend(CAST(1.0 AS DOUBLE),
       |      list_transform(generate_series(1, b), x -> CAST(1.0 AS DOUBLE) - jrn)),
       |      (a, q) -> a * q) AS noise
       |  FROM curve),
       |qualified AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY sla_id
       |      ORDER BY r * b, r DESC, b) AS rn
       |  FROM scored
       |  WHERE det >= target_recall AND noise <= 0.05)
       |SELECT CAST(sla_id AS INTEGER) AS sla_id, target_recall, at_j,
       |  CAST(b AS INTEGER) AS bands, CAST(r AS INTEGER) AS "rows",
       |  CAST(r * b AS INTEGER) AS lanes,
       |  det AS recall_at_target, noise AS noise_recall
       |FROM qualified WHERE rn = 1 ORDER BY sla_id""".stripMargin

  val all: Seq[Q] = Seq(
    Q("q235_sorted_neighborhood", q235, Some(q235Sql)),
    Q("q239_snm_multipass", q239, Some(q239Sql)),
    Q("q242_lsh_scheme_derivation", q242, Some(q242Sql)),
    Q("q26_dedup_exact", q26, Some(q26Sql)),
    Q("q134_split_decontam", q134, Some(q134Sql)),
    Q("q119_winnowing", q119, Some(q119Sql)),
    Q("q27_dedup_ngram_jaccard", q27, Some(q27Sql)),
    Q("q28_dedup_minhash_lsh", q28, Some(q28Sql)),
    Q("q29_simhash_sketch", q29, Some(q29Sql)),
    Q("q30_simhash_pairs", q30, Some(q30Sql)),
    Q("q89_contamination", q89, Some(q89Sql)),
    Q("q94_substring_dedup_spans", q94, Some(q94Sql)),
    Q("q112_incremental_dedup", q112, Some(q112Sql)),
    Q("q139_memorization_risk", q139, Some(q139Sql)),
    Q("q208_dedup_index_card", q208, Some(q208Sql)),
    Q("q209_lsh_curve", q209, Some(q209Sql)))
}
