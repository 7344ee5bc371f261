package graft.queries

import graft.Tables
import graft.operators.IndexStore
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (Array[Float] column):
  * brute-force cosine top-k as the exact baseline, and a random-hyperplane
  * LSH-bucketed variant as the scale path. No reference analog — this is the
  * training-data-pipeline extension required by the brief.
  *
  * Determinism: dot products / norms are ordered folds over the array
  * (`aggregate` in Spark, `list_reduce` in the DuckDB oracle) with each
  * float cast to double — bit-identical across engines, so even rank
  * boundaries agree without rounding.
  *
  * Scale design: brute-force is O(|Q|·|C|·dim) with the query side
  * broadcast — the right baseline shape when |Q| is small. The LSH variant
  * buckets by sign-bit signature so candidate generation is an equi-join on
  * the bucket key; at 1000 executors that's a plain shuffle join with no
  * all-pairs blowup.
  */
object VectorOps extends QueryModule {

  private def t(s: SparkSession, d: String, n: String) = Tables(s, d, n)

  /** array<float> → array<double> (codegen'd cast, not a lambda). */
  private val asDouble = "cast(embedding as array<double>)"

  /** Vector norms + dims via the native graft_l2norm expression
    * (graft.functions.L2NormD — codegen'd loop, ordered accumulation). */
  private def q31(s: SparkSession, d: String): DataFrame = {
    t(s, d, "embeddings")
      .select(col("vec_id"), col("label"),
        size(col("embedding")).as("dim"),
        expr(s"graft_l2norm($asDouble)").as("l2_norm"))
      .orderBy("vec_id")
  }
  private val q31Sql =
    """SELECT vec_id, label,
      |  CAST(len(embedding) AS INTEGER) AS dim,
      |  sqrt(list_reduce(list_prepend(0.0,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
      |    (a, b) -> a + b)) AS l2_norm
      |FROM embeddings ORDER BY vec_id""".stripMargin

  /** Scale knobs for the sketch-based ANN family, derived from corpus size
    * n (the count is one cheap scan over the already-checkpointed
    * unitVectors artifact):
    *
    *  - LSH bit-count: 2^bits buckets targeting ~2 vectors per bucket —
    *    bits = ceil(log2(n/2)) = bit_length(n−1) − 1, clamped to [4, 24].
    *    At n = 500 (sf0.001/sf0.01) this is exactly 8; at n = 10⁹ it
    *    yields 24 bits (16M buckets, ~60/bucket) instead of 256 buckets
    *    going quadratic within-bucket.
    *  - IVF codebook size: k = largest power of two ≤ √n, floored at 16 —
    *    the standard k ∝ √n rule that keeps per-cell candidate lists
    *    O(√n). n = 500 → 16; n = 2000 → 32; n = 10⁹ → 16384.
    *
    * Both are INTEGER-ONLY formulations (bit-length, not float log2 —
    * ceil(log(x)/log(2)) can land on 8.000000000000002 at power-of-two
    * boundaries and ceil across engines would disagree) so the DuckDB
    * oracles derive the IDENTICAL knobs via LENGTH(BIN(n−1)) and the
    * correctness gate holds at EVERY scale, not just the one whose
    * constants happen to be baked in. Fixed-point-pinned in
    * VectorOpsKnobsSpec. */
  def lshBitsFor(n: Long): Int = {
    val bitLen = 64 - java.lang.Long.numberOfLeadingZeros(math.max(n, 2L) - 1)
    math.min(24, math.max(4, bitLen - 1))
  }
  def ivfKFor(n: Long): Int =
    java.lang.Long.highestOneBit(math.max(16L, math.sqrt(n.toDouble).toLong)).toInt

  /** Brute-force cosine top-5 for query vectors vec_id < 8 against the whole
    * corpus: broadcast the (tiny) query side, ordered-fold dot products,
    * rank per query. RANK keeps boundary ties deterministically in both
    * engines. */
  /** Unit-normalized vectors: norm computed ONCE per vector (not per pair),
    * so the per-pair work is a single dot-product fold — 3× less lambda
    * work than naive cosine, and the same shape a real ANN system stores.
    * localCheckpoint'ed: Catalyst's CollapseProject would otherwise inline
    * the normalize-fold into every downstream lambda reference and
    * recompute it per pair (measured 5× blowup on the LSH query); the
    * checkpoint materializes once with lineage cut, outside the
    * CacheManager, and is reclaimed by the ContextCleaner afterwards.
    *
    * Shared per-(session, sf-dir) across the whole ANN family
    * (q32/q33/q40/q52) the way q27/q42 share verifiedPairs: a production
    * vector pipeline normalizes its corpus ONCE and every index consumes
    * the same artifact, so recomputing it per query both misrepresented
    * that cost structure and paid four redundant normalize+checkpoint
    * passes per bench run. Same immutability assumption and
    * stopped-session pruning as DedupOps.pairCache. */
  private val uvCache = new graft.SessionCache[DataFrame]
  private[queries] def unitVectors(s: SparkSession, d: String): DataFrame =
    uvCache.getOrBuild(s, d) {
      t(s, d, "embeddings")
        .withColumn("nrm", expr(s"graft_l2norm($asDouble)"))
        .select(col("vec_id"), col("label"), col("embedding"),
          expr("transform(embedding, x -> cast(x as double) / nrm)").as("ue"))
        .localCheckpoint(true)
    }

  private def q32(s: SparkSession, d: String): DataFrame = {
    val u = unitVectors(s, d)
    val q = u.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("ue").as("qu"))
    val c = u.select(col("vec_id").as("neighbor_id"), col("ue").as("cu"))
    val dot = expr("graft_dot(qu, cu)")
    val sims = broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), dot.as("cosine"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    sims.withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 5)
      .orderBy("query_id", "rnk", "neighbor_id")
  }
  private val q32Sql =
    """WITH e AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) AS nrm
      |  FROM embeddings),
      |u AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS ue FROM e),
      |q AS (SELECT vec_id AS query_id, ue AS qu FROM u WHERE vec_id < 8),
      |c AS (SELECT vec_id AS neighbor_id, ue AS cu FROM u),
      |sims AS (
      |  SELECT query_id, neighbor_id,
      |    list_reduce(list_prepend(0.0, list_transform(list_zip(qu, cu),
      |      p -> p[1] * p[2])), (a, b) -> a + b) AS cosine
      |  FROM q JOIN c ON query_id <> neighbor_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, cosine,
      |    CAST(RANK() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rnk
      |  FROM sims)
      |SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= 5
      |ORDER BY query_id, rnk, neighbor_id""".stripMargin

  /** Deterministic pseudo-random hyperplanes with integer-valued weights
    * (plane[p][d] = (p·97 + d·13) mod 7 − 3, seedless + reproducible);
    * bucket = `bits` sign bits over the RAW embedding — sign(dot) is
    * invariant under the positive per-vector scaling, so no need to touch
    * the normalized copy. Integer weights (not trig) are exactly
    * representable as doubles, and the dot product is an ordered IEEE fold
    * — so sign bits and buckets are bit-identical in the DuckDB oracle
    * (which trig hyperplanes could not guarantee at sign boundaries).
    * Shared by the LSH ANN (q33) and the candidate-union NN dedup (q40).
    * Evaluated by the native codegen'd LshBits expression (functions/
    * VectorExpressions.scala) — the interpreted aggregate/zip_with chain
    * it replaces never entered whole-stage codegen and dominated the
    * per-row cost of both queries. Bit-count comes from [[lshBitsFor]];
    * at the oracle scales it is exactly the 8 bits the oracles spell out. */
  private def lshBucketExpr(bits: Int): Column =
    expr(s"graft_lsh(embedding, $bits)")

  /** IVF codebook: k deterministic centroids (first-k unit vectors,
    * cid = vec_id) loaded to the driver ONCE and shipped as a literal —
    * the shape a production IVF index has (codebook trained offline via
    * [[trainCodebook]] and broadcast to executors; k × 64 doubles of
    * driver state, k ∝ √n via [[ivfKFor]], so even a 10⁹-vector corpus
    * ships ~8 MB). The ORACLED queries keep the seed codebook — the
    * DuckDB oracle can restate first-k selection but not k-means — while
    * trainCodebook is the spec-validated production path. Scoring
    * against a literal codebook is a pure row-local expression: no
    * crossJoin, hence no BroadcastNestedLoopJoin node anywhere in the
    * consuming plans (PlanHygieneSpec bans those fleet-wide). Every plan
    * shape here is k-independent. */
  private[queries] def codebook(u: DataFrame, k: Int): Column = {
    // collect-bound: vec_id < k filter — ≤ k rows, k ∝ √n via ivfKFor
    val rows: Seq[Seq[Double]] = u.filter(col("vec_id") < k)
      .select(col("vec_id"), col("ue"))
      .collect().sortBy(_.getLong(0)).map(_.getSeq[Double](1)).toSeq
    typedlit(rows)
  }

  /** Lloyd's k-means for the IVF coarse quantizer — the trainer the
    * [[codebook]] scaladoc has always pointed at ("production trains
    * k-means offline"). Spherical variant: assign each unit vector to its
    * max-cosine centroid (row-local scoring against the literal codebook —
    * no crossJoin, same shape as q52's assignment), recompute each cell's
    * centroid as the per-dimension mean, re-normalize to unit length.
    *
    * DETERMINISTIC by construction, which a naive implementation is not:
    * per-cell means accumulate as DYADIC FIXED-POINT integers —
    * floor(v · 2^26) is EXACT IEEE arithmetic (a power-of-two scale only
    * shifts the exponent; floor is exact), sums as an overflow-safe
    * exact BIGINT (|v| ≤ 1 ⇒ |term| ≤ 2^26, safe to 2^37 members per
    * cell), and the closing CAST/×/÷ are correctly-rounded IEEE ops —
    * so the result is bit-identical under ANY partitioning, AQE re-plan,
    * rerun, or ENGINE (a double→DECIMAL cast is not: Spark rounds the
    * exact binary expansion, DuckDB scales through float — they disagree
    * in the last ulp on full-precision doubles, observed at sf0.1 on
    * this very mean). The 2^-26 quantization (~1.5e-8) is far below any
    * distance a coarse quantizer resolves. Seeding is the first k unit
    * vectors (q52's seed codebook); iteration count is fixed. Empty
    * cells keep their previous centroid. Driver state is k×dim doubles
    * per iteration — independent of corpus size; the per-iteration work
    * is one row-local assignment + one (cell, dim)-keyed hash
    * aggregation, both linear. Spec: determinism across repartitionings,
    * monotone assignment quality vs the seed, unit-norm output; q215
    * oracles the whole recursion. */
  val MeanScale: Double = 67108864e0 // 2^26

  /** Lloyd refinement over an arbitrary (…, ue) unit-vector frame —
    * the engine [[trainCodebook]] wraps for the corpus table and
    * [[buildSemIndex]] uses when asked to train its quantizer. */
  private[graft] def lloydRefine(u: DataFrame, seed: Seq[Seq[Double]],
      iters: Int): Seq[Seq[Double]] = {
    var cb = seed
    val k = seed.size
    for (_ <- 1 to iters) {
      val assigned = u.select(col("ue"),
        element_at(sortedCells(typedlit(cb), k), 1)("cid").as("cell"))
      val means = assigned
        .select(col("cell"), posexplode(col("ue")).as(Seq("pos", "v")))
        .groupBy(col("cell"), col("pos"))
        .agg((sum(floor(col("v") * lit(MeanScale)).cast("long")).cast("double")
          / (lit(MeanScale) * count(lit(1)).cast("double"))).as("m"))
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x("m")).as("mean"))
        // collect-bound: grouped by cell id < k — ≤ k rows per iteration
        .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
      cb = cb.indices.map { c =>
        means.get(c).fold(cb(c)) { m =>
          val nrm = math.sqrt(m.foldLeft(0.0)((a, x) => a + x * x))
          if (nrm == 0.0) cb(c) else m.map(_ / nrm)
        }
      }
    }
    cb
  }

  def trainCodebook(s: SparkSession, d: String, k: Int, iters: Int): Seq[Seq[Double]] = {
    val u = unitVectors(s, d)
    // collect-bound: vec_id < k seed filter — ≤ k rows
    val seed: Seq[Seq[Double]] = u.filter(col("vec_id") < k)
      .select(col("vec_id"), col("ue"))
      .collect().sortBy(_.getLong(0)).map(_.getSeq[Double](1)).toSeq
    lloydRefine(u, seed, iters)
  }

  /** Per-row centroid scores {cc, cid} sorted (cc DESC, cid ASC): element 1
    * is the assigned cell, element 2 the second probe. The dot product is
    * the same ordered zip_with/aggregate fold as the oracle's list_reduce,
    * so assignments and probes are bit-identical in DuckDB. */
  private[queries] def sortedCells(cb: Column, k: Int): Column = {
    val scores = transform(sequence(lit(0), lit(k - 1)), c =>
      struct(
        call_function("graft_dot", col("ue"), element_at(cb, c + 1)).as("cc"),
        c.as("cid")))
    array_sort(scores, (a, b) =>
      when(a("cc") > b("cc"), -1).when(a("cc") < b("cc"), 1)
        .otherwise(a("cid") - b("cid")))
  }

  /** Random-hyperplane LSH ANN: candidates share a sign-bit bucket
    * (lshBucketExpr, bit-count ∝ log2(corpus) via lshBitsFor); exact
    * cosine within bucket, top-3 per query. */
  private def q33(s: SparkSession, d: String): DataFrame = {
    val u = unitVectors(s, d)
    val bucketed = u
      .select(col("vec_id"), col("ue"), lshBucketExpr(lshBitsFor(u.count())).as("bucket"))
      .localCheckpoint(true)
    val a = bucketed.select(col("bucket"), col("vec_id").as("query_id"), col("ue").as("qu"))
    val b = bucketed.select(col("bucket").as("bucket_b"), col("vec_id").as("neighbor_id"), col("ue").as("cu"))
    val dot = expr("graft_dot(qu, cu)")
    val sims = a.join(b, col("bucket") === col("bucket_b") && col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), dot.as("cosine"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    sims.withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 3)
      .orderBy("query_id", "rnk", "neighbor_id")
  }

  /** IVF (inverted-file) ANN — the second scale path beside q33's LSH: a
    * coarse quantizer assigns every corpus vector to its nearest centroid
    * cell once; a query probes only its nprobe=2 nearest cells, so search
    * cost is |Q|·k + |Q|·(corpus/k·nprobe) instead of |Q|·corpus. The
    * codebook (see [[codebook]]) is deterministic so the DuckDB oracle is
    * exact (production trains k-means; every plan shape below is identical,
    * only the codebook values differ). Cell assignment and probe selection
    * are row-local expressions against the literal codebook — no crossJoin
    * — and the candidate→corpus join is a shuffle join on vec_id, NOT a
    * broadcast of the corpus: the shape that survives a billion-vector
    * table. */
  private def q52(s: SparkSession, d: String): DataFrame = {
    val u = unitVectors(s, d)
    val k = ivfKFor(u.count())
    val sc = sortedCells(codebook(u, k), k)
    val assign = u.select(col("vec_id").as("neighbor_id"),
      element_at(sc, 1)("cid").as("cell"))
    val probes = u.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"),
        explode(slice(transform(sc, x => x("cid")), 1, 2)).as("cell"))
    val cand = probes.join(assign, "cell")
      .filter(col("query_id") =!= col("neighbor_id"))
    val qv = u.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("ue").as("qu"))
    val scored = cand
      .join(broadcast(qv), "query_id")
      .join(u.select(col("vec_id").as("neighbor_id"), col("ue").as("nu")), "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), expr("graft_dot(qu, nu)").as("cosine"))
    val w = Window.partitionBy(col("query_id")).orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rnk", rank().over(w)).filter(col("rnk") <= 3)
      .orderBy("query_id", "rnk", "neighbor_id")
  }
  private val q52Sql =
    """WITH params AS (
      |  SELECT GREATEST(16, 1 << (LENGTH(BIN(CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))) - 1)) AS k
      |  FROM embeddings),
      |e AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) AS nrm
      |  FROM embeddings),
      |u AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS ue FROM e),
      |cent AS (SELECT vec_id AS cid, ue AS cu FROM u WHERE vec_id < (SELECT k FROM params)),
      |cc AS (
      |  SELECT u.vec_id, cent.cid,
      |    list_reduce(list_prepend(0.0, list_transform(list_zip(u.ue, cent.cu),
      |      p -> p[1] * p[2])), (a, b) -> a + b) AS cc
      |  FROM u CROSS JOIN cent),
      |assign AS (
      |  SELECT vec_id, cid AS cell FROM (
      |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
      |    FROM cc) t WHERE rn = 1),
      |probes AS (
      |  SELECT query_id, cid AS cell FROM (
      |    SELECT vec_id AS query_id, cid, RANK() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rnk
      |    FROM cc WHERE vec_id < 8) t WHERE rnk <= 2),
      |cand AS (
      |  SELECT p.query_id, a.vec_id AS neighbor_id
      |  FROM probes p JOIN assign a ON p.cell = a.cell
      |  WHERE p.query_id <> a.vec_id),
      |scored AS (
      |  SELECT c.query_id, c.neighbor_id,
      |    list_reduce(list_prepend(0.0, list_transform(list_zip(q.ue, n.ue),
      |      p -> p[1] * p[2])), (a, b) -> a + b) AS cosine
      |  FROM cand c JOIN u q ON c.query_id = q.vec_id JOIN u n ON c.neighbor_id = n.vec_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, cosine,
      |    CAST(RANK() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rnk
      |  FROM scored)
      |SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= 3
      |ORDER BY query_id, rnk, neighbor_id""".stripMargin

  /** Embedding-cosine near-dup: every vector's best neighbor within a
    * CANDIDATE UNION — LSH bucket mates (q33's 8 hyperplanes) ∪ IVF
    * nprobe=2 cell mates (q52's codebook) ∪ the probed centroids
    * themselves — scored exactly, top-1 per vector. The dedup decision
    * (cosine ≥ τ) is then a filter on this table; near-identical vectors
    * collide in both sketches, so recall at the τ=0.9 decision boundary is
    * the LSH/IVF guarantee, and including each vector's probed centroids
    * makes coverage total (every vector emits a row — its second-probe
    * centroid is never itself).
    *
    * Scale shape: candidate generation is two equi-joins (bucket key, cell
    * key) + a projection — replacing the previous all-pairs |V|² self-join,
    * which was the fleet's one O(n²) plan. Candidate volume is governed by
    * bucket granularity (LSH bits, codebook size k), both now DERIVED from
    * corpus size ([[lshBitsFor]] / [[ivfKFor]]) so granularity scales with
    * the data instead of being a compile-time constant; all joins stay
    * hash/sort-merge —
    * PlanHygieneSpec asserts no CartesianProduct/BNL node survives here.
    * Top-1 per vector is a map-side hash aggregation (max(struct)), not a
    * window sort over the candidate pairs. */
  private def q40(s: SparkSession, d: String): DataFrame = {
    val u = unitVectors(s, d)
    val n = u.count()
    val sc = sortedCells(codebook(u, ivfKFor(n)), ivfKFor(n))
    // pcells = [assigned cell, second probe] — 16 ordered dots + a sort,
    // checkpointed once (CollapseProject would inline the fold into every
    // downstream reference — the q75 hazard, same mechanism).
    val cells = u.select(col("vec_id"),
        slice(transform(sc, x => x("cid").cast("bigint")), 1, 2).as("pcells"))
      .localCheckpoint(true)
    val assign = cells.select(col("vec_id").as("neighbor_id"),
      element_at(col("pcells"), 1).as("cell"))
    val probes = cells.select(col("vec_id"), explode(col("pcells")).as("cell"))
    val ivfPairs = probes.join(assign, "cell")
      .filter(col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"))
    // Probed centroids are corpus vectors (cid = vec_id) — 2 row-local
    // candidate pairs per vector, guaranteeing non-empty candidate sets.
    val centPairs = probes.filter(col("cell") =!= col("vec_id"))
      .select(col("vec_id"), col("cell").as("neighbor_id"))
    val bucketed = u.select(col("vec_id"), lshBucketExpr(lshBitsFor(n)).as("bucket"))
    val lshPairs = bucketed.join(
        bucketed.select(col("bucket").as("bucket_b"), col("vec_id").as("neighbor_id")),
        col("bucket") === col("bucket_b") && col("vec_id") =!= col("neighbor_id"))
      .select(col("vec_id"), col("neighbor_id"))
    val cand = lshPairs.union(ivfPairs).union(centPairs).distinct()
    val scored = cand
      .join(u.select(col("vec_id"), col("ue").as("qu")), "vec_id")
      .join(u.select(col("vec_id").as("neighbor_id"), col("ue").as("cu")), "neighbor_id")
      .select(col("vec_id"), col("neighbor_id"), expr("graft_dot(qu, cu)").as("cosine"))
    scored
      .groupBy(col("vec_id"))
      .agg(max(struct(col("cosine"), (-col("neighbor_id")).as("negid"))).as("best"))
      .select(col("vec_id"), (-col("best.negid")).as("neighbor_id"),
        col("best.cosine").as("cosine"),
        (col("best.cosine") >= 0.9).as("is_near_dup"))
      .orderBy("vec_id")
  }
  private val q40Sql =
    """WITH params AS (
      |  SELECT GREATEST(4, LEAST(24, LENGTH(BIN(GREATEST(COUNT(*), 2) - 1)) - 1)) AS bits,
      |    GREATEST(16, 1 << (LENGTH(BIN(CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))) - 1)) AS k
      |  FROM embeddings),
      |e AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) AS nrm
      |  FROM embeddings),
      |u AS (SELECT vec_id, embedding, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS ue FROM e),
      |b AS (
      |  SELECT vec_id,
      |    CAST(list_sum(list_transform(range(0, (SELECT bits FROM params)), p ->
      |      CASE WHEN list_reduce(list_prepend(0.0, list_transform(
      |          list_zip(embedding,
      |            list_transform(range(0, len(embedding)),
      |              dd -> CASE WHEN p < 8 THEN CAST((p * 97 + dd * 13) % 7 - 3 AS DOUBLE)
      |                    ELSE CAST(((p * 2654435761 + dd * 40503) >> 16) % 7 - 3 AS DOUBLE) END)),
      |          pr -> CAST(pr[1] AS DOUBLE) * pr[2])), (a, v) -> a + v) > 0
      |        THEN 1 << p ELSE 0 END)) AS INTEGER) AS bucket
      |  FROM u),
      |cent AS (SELECT vec_id AS cid, ue AS cu FROM u WHERE vec_id < (SELECT k FROM params)),
      |cc AS (
      |  SELECT u.vec_id, cent.cid,
      |    list_reduce(list_prepend(0.0, list_transform(list_zip(u.ue, cent.cu),
      |      p -> p[1] * p[2])), (a, b) -> a + b) AS cc
      |  FROM u CROSS JOIN cent),
      |ranked_cells AS (
      |  SELECT vec_id, cid,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
      |  FROM cc),
      |assign AS (SELECT vec_id, cid AS cell FROM ranked_cells WHERE rn = 1),
      |probes AS (SELECT vec_id, cid AS cell FROM ranked_cells WHERE rn <= 2),
      |cand AS (
      |  SELECT a.vec_id, c.vec_id AS neighbor_id
      |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id
      |  UNION
      |  SELECT p.vec_id, a.vec_id AS neighbor_id
      |  FROM probes p JOIN assign a ON p.cell = a.cell AND p.vec_id <> a.vec_id
      |  UNION
      |  SELECT vec_id, cell AS neighbor_id FROM probes WHERE cell <> vec_id),
      |scored AS (
      |  SELECT c.vec_id, c.neighbor_id,
      |    list_reduce(list_prepend(0.0, list_transform(list_zip(q.ue, n.ue),
      |      p -> p[1] * p[2])), (x, y) -> x + y) AS cosine
      |  FROM cand c JOIN u q ON c.vec_id = q.vec_id JOIN u n ON c.neighbor_id = n.vec_id),
      |ranked AS (
      |  SELECT vec_id, neighbor_id, cosine,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosine DESC, neighbor_id) AS rnk
      |  FROM scored)
      |SELECT vec_id, neighbor_id, cosine, cosine >= 0.9 AS is_near_dup
      |FROM ranked WHERE rnk = 1 ORDER BY vec_id""".stripMargin

  private val q33Sql =
    """WITH params AS (
      |  SELECT GREATEST(4, LEAST(24, LENGTH(BIN(GREATEST(COUNT(*), 2) - 1)) - 1)) AS bits
      |  FROM embeddings),
      |e AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) AS nrm
      |  FROM embeddings),
      |b AS (
      |  SELECT vec_id,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS ue,
      |    CAST(list_sum(list_transform(range(0, (SELECT bits FROM params)), p ->
      |      CASE WHEN list_reduce(list_prepend(0.0, list_transform(
      |          list_zip(embedding,
      |            list_transform(range(0, len(embedding)),
      |              dd -> CASE WHEN p < 8 THEN CAST((p * 97 + dd * 13) % 7 - 3 AS DOUBLE)
      |                    ELSE CAST(((p * 2654435761 + dd * 40503) >> 16) % 7 - 3 AS DOUBLE) END)),
      |          pr -> CAST(pr[1] AS DOUBLE) * pr[2])), (a, v) -> a + v) > 0
      |        THEN 1 << p ELSE 0 END)) AS INTEGER) AS bucket
      |  FROM e),
      |sims AS (
      |  SELECT a.vec_id AS query_id, c.vec_id AS neighbor_id,
      |    list_reduce(list_prepend(0.0, list_transform(list_zip(a.ue, c.ue),
      |      p -> p[1] * p[2])), (x, y) -> x + y) AS cosine
      |  FROM b a JOIN b c ON a.bucket = c.bucket AND a.vec_id <> c.vec_id),
      |ranked AS (
      |  SELECT query_id, neighbor_id, cosine,
      |    CAST(RANK() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rnk
      |  FROM sims)
      |SELECT query_id, neighbor_id, cosine, rnk FROM ranked WHERE rnk <= 3
      |ORDER BY query_id, rnk, neighbor_id""".stripMargin

  /** Scalar int8 quantization of embeddings (the storage format a 100 TB
    * vector corpus actually ships): per-vector min/max range, code =
    * floor((x-mn)/scale) with scale = (mx-mn)/255 — floor, not round,
    * because Spark HALF_UP and DuckDB HALF_EVEN disagree on ties while
    * floor of the identical IEEE quotient is bit-portable. Emits the code
    * checksum (proves the quantization itself matches, not just stats)
    * and the max reconstruction error, whose theoretical bound is one
    * scale step. min/max folds are order-independent-exact; everything
    * else is ordered IEEE arithmetic — hash-matched oracle.
    *
    * Two-projection shape with the checkpoint BETWEEN: mn/mx are
    * referenced inside per-element lambdas, and CollapseProject would
    * inline the whole min/max fold into every element (O(d²) per row —
    * the q27/q33 blowup, same mechanism). */
  private def q75(s: SparkSession, d: String): DataFrame = {
    val base = t(s, d, "embeddings")
      .select(col("vec_id"), expr(s"$asDouble").as("e"))
      .withColumn("mn", expr("aggregate(e, cast('Infinity' as double), (a, x) -> least(a, x))"))
      .withColumn("mx", expr("aggregate(e, cast('-Infinity' as double), (a, x) -> greatest(a, x))"))
      .filter(col("mx") > col("mn"))
      .localCheckpoint(true)
    base
      .withColumn("scale", (col("mx") - col("mn")) / 255.0)
      .select(col("vec_id"), size(col("e")).as("dim"), col("mn"), col("mx"),
        expr("aggregate(e, cast(0 as bigint), (a, x) -> a + cast(floor((x - mn) / scale) as bigint))")
          .as("code_sum"),
        expr("aggregate(e, cast(0.0 as double), (a, x) -> greatest(a, (x - mn) - floor((x - mn) / scale) * scale))")
          .as("max_err"))
      .orderBy("vec_id")
  }
  private val q75Sql =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |r AS (
      |  SELECT vec_id, e,
      |    list_aggregate(e, 'min') AS mn, list_aggregate(e, 'max') AS mx
      |  FROM e),
      |q AS (
      |  SELECT vec_id, e, mn, mx, (mx - mn) / 255.0 AS scale
      |  FROM r WHERE mx > mn)
      |SELECT vec_id, CAST(len(e) AS INTEGER) AS dim, mn, mx,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(e, x -> CAST(floor((x - mn) / scale) AS BIGINT))),
      |    (a, b) -> a + b) AS code_sum,
      |  list_reduce(list_prepend(0.0,
      |    list_transform(e, x -> (x - mn) - floor((x - mn) / scale) * scale)),
      |    (a, b) -> CASE WHEN b > a THEN b ELSE a END) AS max_err
      |FROM q ORDER BY vec_id""".stripMargin

  /** ANN over the int8 codes (q75's storage format): the hot loop is one
    * exact BIGINT dot over the codes (Σ cq·cn — the 4×-smaller, SIMD-able
    * arithmetic a 100 TB quantized corpus actually searches with); the
    * per-vector offset/scale algebra then reconstructs the approximate
    * cosine from that single integer dot plus four scalar terms:
    *   recon_dot = mn_q·mn_n·d + mn_q·sc_n·Σc_n + mn_n·sc_q·Σc_q
    *             + sc_q·sc_n·Σ(c_q·c_n)
    * (the expansion of dot(mn_q + sc_q·c_q, mn_n + sc_n·c_n)). Every
    * floating step is written in the identical association order in the
    * oracle SQL, so the scores — not just the rows — hash-match DuckDB
    * (q75's floor-code portability + ordered-IEEE precedent). The spec
    * measures top-k agreement against exact-cosine q32. Same
    * two-projection + checkpoint shape as q75 (CollapseProject would
    * inline the min/max folds into every element lambda). */
  private def q85(s: SparkSession, d: String): DataFrame = {
    val base = t(s, d, "embeddings")
      .select(col("vec_id"), expr(s"$asDouble").as("e"))
      .withColumn("mn", expr("aggregate(e, cast('Infinity' as double), (a, x) -> least(a, x))"))
      .withColumn("mx", expr("aggregate(e, cast('-Infinity' as double), (a, x) -> greatest(a, x))"))
      .filter(col("mx") > col("mn"))
      .localCheckpoint(true)
    val codes = base
      .withColumn("scale", (col("mx") - col("mn")) / 255.0)
      .select(col("vec_id"), col("mn"), col("scale"),
        expr("transform(e, x -> cast(floor((x - mn) / scale) as bigint))").as("c"),
        expr("graft_l2norm(e)").as("nrm"))
      .withColumn("sum_c", expr("aggregate(c, cast(0 as bigint), (s, x) -> s + x)"))
    val qc = codes.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("mn").as("mn_q"),
        col("scale").as("sc_q"), col("c").as("cq"),
        col("nrm").as("nrm_q"), col("sum_c").as("sum_cq"))
    val scored = codes
      .select(col("vec_id").as("neighbor_id"), col("mn").as("mn_n"),
        col("scale").as("sc_n"), col("c").as("cn"),
        col("nrm").as("nrm_n"), col("sum_c").as("sum_cn"))
      .join(broadcast(qc), col("query_id") =!= col("neighbor_id"))
      .withColumn("ip",
        expr("aggregate(zip_with(cq, cn, (a, b) -> a * b), cast(0 as bigint), (s, x) -> s + x)"))
      .withColumn("cos_approx", expr(
        "(mn_q * mn_n * size(cq) + mn_q * sc_n * sum_cn + mn_n * sc_q * sum_cq" +
          " + sc_q * sc_n * ip) / (nrm_q * nrm_n)"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos_approx").desc, col("neighbor_id"))
    scored.withColumn("rnk", rank().over(w)).filter(col("rnk") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("ip"),
        col("cos_approx"), col("rnk").cast("int").as("rnk"))
      .orderBy("query_id", "rnk", "neighbor_id")
  }
  private val q85Sql =
    """WITH e AS (
      |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |r AS (
      |  SELECT vec_id, e,
      |    list_aggregate(e, 'min') AS mn, list_aggregate(e, 'max') AS mx,
      |    sqrt(list_reduce(list_prepend(0.0, list_transform(e,
      |      x -> x * x)), (a, b) -> a + b)) AS nrm
      |  FROM e),
      |codes AS (
      |  SELECT vec_id, mn, (mx - mn) / 255.0 AS scale, nrm,
      |    list_transform(e, x -> CAST(floor((x - mn) / ((mx - mn) / 255.0)) AS BIGINT)) AS c
      |  FROM r WHERE mx > mn),
      |cs AS (
      |  SELECT vec_id, mn, scale, nrm, c,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT), c), (a, b) -> a + b) AS sum_c
      |  FROM codes),
      |scored AS (
      |  SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id,
      |    list_reduce(list_prepend(CAST(0 AS BIGINT),
      |      list_transform(list_zip(q.c, n.c), p -> p[1] * p[2])),
      |      (a, b) -> a + b) AS ip,
      |    q.mn AS mn_q, q.scale AS sc_q, q.nrm AS nrm_q, q.sum_c AS sum_cq,
      |    n.mn AS mn_n, n.scale AS sc_n, n.nrm AS nrm_n, n.sum_c AS sum_cn,
      |    len(q.c) AS dim
      |  FROM cs q JOIN cs n ON q.vec_id < 8 AND q.vec_id <> n.vec_id),
      |cosd AS (
      |  SELECT query_id, neighbor_id, ip,
      |    (mn_q * mn_n * dim + mn_q * sc_n * sum_cn + mn_n * sc_q * sum_cq
      |      + sc_q * sc_n * ip) / (nrm_q * nrm_n) AS cos_approx
      |  FROM scored),
      |ranked AS (
      |  SELECT query_id, neighbor_id, ip, cos_approx,
      |    CAST(RANK() OVER (PARTITION BY query_id ORDER BY cos_approx DESC, neighbor_id) AS INTEGER) AS rnk
      |  FROM cosd)
      |SELECT query_id, neighbor_id, ip, cos_approx, rnk FROM ranked WHERE rnk <= 3
      |ORDER BY query_id, rnk, neighbor_id""".stripMargin

  /** SemDeDup (Abbas et al. 2023, "SemDeDup: Data-efficient learning at
    * web-scale through semantic deduplication"): semantic near-dup removal
    * the paper's way — cluster the embedding space with the IVF coarse
    * quantizer, compute pairwise cosine ONLY within each cluster, and in
    * every ε-ball keep the member with the LOWEST cosine to its centroid
    * (the paper's keep-cluster-outliers policy, their §3 best variant);
    * a vector is removed when some same-cluster partner exceeds ε and
    * out-ranks it (lower centroid-sim wins, vec_id breaks exact ties).
    *
    * ε is DERIVED from the corpus, not baked in: the 99.9th percentile of
    * the within-cluster pair-cosine distribution (the q106
    * percentile-threshold idiom) — the paper tunes ε per corpus/dedup
    * budget, and a corpus-derived knob keeps the oracle exact at every
    * scale (these synthetic embeddings never reach the 0.9 cosine a
    * web-image corpus would, so a fixed ε would degenerate to a no-op).
    *
    * Scale shape: cluster assignment is row-local against the literal
    * codebook (q52's machinery); the pairwise stage is an EQUI-join on
    * the cell key — never all-pairs across the corpus — with expected
    * cell size n/k ≈ √n (k ∝ √n via [[ivfKFor]]), i.e. the paper's own
    * Σ|cell|² complexity, and the paper's answer at larger n is the same
    * knob (they run k = 110 000 clusters on LAION); a skewed cell is an
    * AQE skew-join split, not a plan change. The ε scalar and the victim
    * set are the only non-linear artifacts: ε via the enforced ≤1-row
    * [[graft.Scalars.withScalar]], victims a distinct-key left join.
    * Exactness: cosines are graft_dot ordered folds (bit-equal to the
    * oracle's list_reduce), and the removal verdict compares doubles the
    * two engines computed identically. */
  private def q114(s: SparkSession, d: String): DataFrame = {
    val u = unitVectors(s, d)
    val k = ivfKFor(u.count())
    val sc = sortedCells(codebook(u, k), k)
    val asg = u.select(col("vec_id"), col("ue"),
        element_at(sc, 1)("cid").cast("bigint").as("cell"),
        element_at(sc, 1)("cc").as("centroid_sim"))
      .localCheckpoint(true) // consumers: both pair sides + final output
    val a = asg.select(col("cell"), col("vec_id").as("va"),
      col("ue").as("ua"), col("centroid_sim").as("ca"))
    val b = asg.select(col("cell").as("cell_b"), col("vec_id").as("vb"),
      col("ue").as("ub"), col("centroid_sim").as("cb"))
    val pairs = a.join(b, col("cell") === col("cell_b") && col("va") < col("vb"))
      .select(col("va"), col("vb"), col("ca"), col("cb"),
        expr("graft_dot(ua, ub)").as("cos"))
      .localCheckpoint(true) // consumers: ε scalar + victim filter
    // ε through PctGate (pair-encoded ticket): the within-cell pair set
    // is Σ|cell|² ≈ n·√n — corpus-proportional, so the exact-percentile
    // buffer needs the same scale knob as the per-doc LM gates.
    val tau = PctGate.thresholdDfLazy(pairs, "cos", "0.999",
      "q114tau", "tau", keyExpr = "((va * 4194304) + vb)")
    val victims = graft.Scalars.withScalar(pairs, tau)
      .filter(col("cos") > col("tau"))
      .select(when(col("ca") > col("cb"), col("va"))
        .when(col("ca") < col("cb"), col("vb"))
        .otherwise(greatest(col("va"), col("vb"))).as("vec_id"))
      .distinct()
      .withColumn("rm", lit(true))
    graft.Scalars.withScalar(
        asg.select(col("vec_id"), col("cell"), col("centroid_sim")), tau)
      .join(victims, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"), col("centroid_sim"), col("tau"),
        coalesce(col("rm"), lit(false)).as("is_removed"))
      .orderBy("vec_id")
  }
  private def q114Sql: String =
    s"""WITH params AS (
      |  SELECT GREATEST(16, 1 << (LENGTH(BIN(CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))) - 1)) AS k
      |  FROM embeddings),
      |e AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) AS nrm
      |  FROM embeddings),
      |u AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS ue FROM e),
      |cent AS (SELECT vec_id AS cid, ue AS cu FROM u WHERE vec_id < (SELECT k FROM params)),
      |cc AS (
      |  SELECT u.vec_id, cent.cid,
      |    list_reduce(list_prepend(0.0, list_transform(list_zip(u.ue, cent.cu),
      |      p -> p[1] * p[2])), (a, b) -> a + b) AS cc
      |  FROM u CROSS JOIN cent),
      |rc AS (
      |  SELECT vec_id, cid, cc,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
      |  FROM cc),
      |asg AS (
      |  SELECT rc.vec_id, rc.cid AS cell, rc.cc AS centroid_sim, u.ue
      |  FROM rc JOIN u ON rc.vec_id = u.vec_id WHERE rn = 1),
      |pr AS (
      |  SELECT a.vec_id AS va, b.vec_id AS vb,
      |    a.centroid_sim AS ca, b.centroid_sim AS cb,
      |    list_reduce(list_prepend(0.0, list_transform(list_zip(a.ue, b.ue),
      |      p -> p[1] * p[2])), (x, y) -> x + y) AS cos
      |  FROM asg a JOIN asg b ON a.cell = b.cell AND a.vec_id < b.vec_id),
      |tauv AS (${PctGate.thresholdSql("pr", "cos", "0.999", "q114tau", "tau", keyExpr = "((va * 4194304) + vb)")}),
      |vict AS (
      |  SELECT DISTINCT CASE WHEN ca > cb THEN va
      |                       WHEN ca < cb THEN vb
      |                       ELSE GREATEST(va, vb) END AS vec_id
      |  FROM pr WHERE cos > (SELECT tau FROM tauv))
      |SELECT a.vec_id, a.cell, a.centroid_sim, (SELECT tau FROM tauv) AS tau,
      |  (v.vec_id IS NOT NULL) AS is_removed
      |FROM asg a LEFT JOIN vict v ON a.vec_id = v.vec_id
      |ORDER BY a.vec_id""".stripMargin

  /** q131 — hard-negative mining: for EVERY anchor vector, the top-3
    * most-similar vectors with a DIFFERENT label — the contrastive-
    * training data op (dense-retrieval training mines hard negatives
    * from an ANN index over the current embedding space, e.g. DPR /
    * ANCE; "hardest" = highest cosine among wrong-label candidates).
    * Mining runs for all anchors, so the exact all-pairs formulation is
    * off the table; candidates come from the anchor's IVF cell (the
    * q114 SemDeDup restriction — the ANN-index stand-in the production
    * loop uses), labels must differ, exact cosine ranks within the
    * survivors.
    *
    * Scale shape: cell assignment is row-local scoring against the
    * broadcast literal codebook (k ∝ √n, no crossJoin — PlanHygieneSpec
    * gates); the pair stage is ONE equi-join on the cell key with
    * Σ|cell|² ≈ n·√n work (SemDeDup's own complexity); per-anchor top-3
    * is a window over cell-bounded candidate lists, never the corpus.
    * Anchors whose cell has no wrong-label mate emit nothing — exactly
    * the production behavior (the miner widens nprobe, not the
    * guarantee). */
  private def q131(s: SparkSession, d: String): DataFrame = {
    val u = unitVectors(s, d)
    val k = ivfKFor(u.count())
    val sc = sortedCells(codebook(u, k), k)
    val assigned = u
      .select(col("vec_id"), col("label"), col("ue"),
        element_at(sc, 1)("cid").as("cell"))
      .localCheckpoint(true) // consumers: both sides of the cell join
    val pairs = assigned
      .select(col("cell"), col("vec_id").as("anchor_id"),
        col("label").as("anchor_label"), col("ue").as("au"))
      .join(assigned.select(col("cell"), col("vec_id").as("neg_id"),
        col("label").as("neg_label"), col("ue").as("nu")), Seq("cell"))
      .filter(col("anchor_label") =!= col("neg_label"))
      .select(col("anchor_id"), col("anchor_label"), col("neg_id"),
        col("neg_label"), expr("graft_dot(au, nu)").as("cosine"))
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cosine").desc, col("neg_id"))
    pairs.withColumn("rnk", rank().over(w)).filter(col("rnk") <= 3)
      .orderBy("anchor_id", "rnk", "neg_id")
  }
  private val q131Sql =
    """WITH params AS (
      |  SELECT GREATEST(16, 1 << (LENGTH(BIN(CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))) - 1)) AS k
      |  FROM embeddings),
      |e AS (
      |  SELECT vec_id, label, embedding,
      |    sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) AS nrm
      |  FROM embeddings),
      |u AS (SELECT vec_id, label,
      |  list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS ue FROM e),
      |cent AS (SELECT vec_id AS cid, ue AS cu FROM u WHERE vec_id < (SELECT k FROM params)),
      |cc AS (
      |  SELECT u.vec_id, cent.cid,
      |    list_reduce(list_prepend(0.0, list_transform(list_zip(u.ue, cent.cu),
      |      p -> p[1] * p[2])), (a, b) -> a + b) AS cc
      |  FROM u CROSS JOIN cent),
      |assign AS (
      |  SELECT vec_id, cid AS cell FROM (
      |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
      |    FROM cc) t WHERE rn = 1),
      |au AS (
      |  SELECT a.cell, u.vec_id, u.label, u.ue
      |  FROM assign a JOIN u ON a.vec_id = u.vec_id),
      |pairs AS (
      |  SELECT x.vec_id AS anchor_id, x.label AS anchor_label,
      |    y.vec_id AS neg_id, y.label AS neg_label,
      |    list_reduce(list_prepend(0.0, list_transform(list_zip(x.ue, y.ue),
      |      p -> p[1] * p[2])), (a, b) -> a + b) AS cosine
      |  FROM au x JOIN au y ON x.cell = y.cell AND x.label <> y.label),
      |ranked AS (
      |  SELECT anchor_id, anchor_label, neg_id, neg_label, cosine,
      |    CAST(RANK() OVER (PARTITION BY anchor_id ORDER BY cosine DESC, neg_id) AS INTEGER) AS rnk
      |  FROM pairs)
      |SELECT anchor_id, anchor_label, neg_id, neg_label, cosine, rnk
      |FROM ranked WHERE rnk <= 3
      |ORDER BY anchor_id, rnk, neg_id""".stripMargin

  /** q138 — SEMANTIC benchmark decontamination: flag corpus vectors whose
    * max cosine against any benchmark-set vector clears a threshold — the
    * embedding-level member of the decontamination family beside q89's
    * lexical n-gram overlap (n-gram checks miss paraphrases; embedding
    * similarity is the published countermeasure, e.g. the
    * paraphrase-contamination analyses of Yang et al. 2023, "Rethinking
    * Benchmark and Contamination with Rephrased Samples", which score
    * train-test pairs by embedding cosine before an LLM verdict).
    *
    * Benchmark set: vec_id % 50 = 0 plays the eval suite (deterministic,
    * so the oracle reproduces it). τ = 0.35 is calibrated to this
    * synthetic corpus's cosine tail (p90 of best-cosine ≈ 0.30, max
    * ≈ 0.45); a production deployment with a real encoder uses the
    * familiar ≈ 0.9.
    *
    * Scale shape: the q52/q131 literal-codebook idiom — benchmark
    * vectors are collected ONCE (bounded by construction: an eval suite
    * is thousands of rows, not corpus-sized; here |corpus|/50, sorted by
    * cid so the scoring fold's order is fixed) and shipped as a literal,
    * making the scoring a pure row-local expression: one corpus scan, no
    * join, no shuffle, no BNLJ node anywhere. Argmax over the literal is
    * a first-wins ordered fold (strict >, ascending cid), so ties break
    * to the lowest benchmark id — deterministic, restated by the
    * oracle's ROW_NUMBER. At a benchmark too large for a literal, the
    * same probe becomes q89's broadcast-join shape; the LSH/IVF
    * bucketed variants (q33/q52) bound the candidate set when even that
    * is too wide. */
  private def q138(s: SparkSession, d: String): DataFrame = {
    val u = unitVectors(s, d)
    // collect-bound: benchmark-set-sized (the % 50 slice plays a fixed
    // external benchmark); documented swap to q89's broadcast join when
    // the benchmark outgrows a literal
    val bench: Seq[(Long, Seq[Double])] = u.filter(col("vec_id") % 50 === 0)
      .select(col("vec_id"), col("ue"))
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    u.filter(col("vec_id") % 50 =!= 0)
      .withColumn("bm", typedlit(bench))
      .withColumn("best", expr(
        "aggregate(transform(bm, b -> struct(graft_dot(ue, b._2) as c, b._1 as cid))," +
          " struct(cast(-2e0 as double) as c, cast(-1 as bigint) as cid)," +
          " (acc, x) -> IF(x.c > acc.c, x, acc))"))
      .select(col("vec_id"), col("label"),
        col("best.cid").as("best_bench_id"),
        col("best.c").as("best_cosine"),
        (col("best.c") >= lit(0.35)).as("contaminated"))
      .orderBy("vec_id")
  }
  private val q138Sql =
    """WITH e AS (
      |  SELECT vec_id, label, embedding,
      |    sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) AS nrm
      |  FROM embeddings),
      |u AS (
      |  SELECT vec_id, label,
      |    list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS ue
      |  FROM e),
      |bm AS (SELECT vec_id AS cid, ue AS bu FROM u WHERE vec_id % 50 = 0),
      |c AS (SELECT vec_id, label, ue FROM u WHERE vec_id % 50 <> 0),
      |sims AS (
      |  SELECT c.vec_id, c.label, bm.cid,
      |    list_reduce(list_prepend(0.0, list_transform(list_zip(c.ue, bm.bu),
      |      p -> p[1] * p[2])), (a, b) -> a + b) AS cos
      |  FROM c, bm),
      |best AS (
      |  SELECT vec_id, label, cid, cos,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, cid) AS rk
      |  FROM sims)
      |SELECT vec_id, label, cid AS best_bench_id, cos AS best_cosine,
      |  cos >= 0.35 AS contaminated
      |FROM best WHERE rk = 1 ORDER BY vec_id""".stripMargin

  /** q141 — prototypicality pruning (Sorscher et al. 2022, "Beyond
    * neural scaling laws: beating power law scaling via data pruning" —
    * the SSL-prototypes metric; Tirumala et al. 2023's D4 composes it
    * with SemDeDup, whose q114 shares this exact assignment): score
    * every vector by cosine to its assigned cluster centroid and flag
    * the MOST prototypical quarter of each cluster for pruning — under
    * data abundance, easy/prototypical examples are the ones to drop.
    *
    * Per-cluster rank and count ride one cell-partitioned window pair
    * (cells ∝ √n via [[ivfKFor]], so ~√n rows per partition — balanced
    * by the same argument as q114/q131); the prune cut `rank ≤ n div 4`
    * is integer arithmetic, exact in both engines. Assignment is
    * row-local scoring against the literal seed codebook (the q52
    * discipline; [[trainCodebook]] is the production trainer). No pair
    * join at all — this is the cheapest member of the embedding-curation
    * family: one scan + one bounded-partition window. */
  private def q141(s: SparkSession, d: String): DataFrame = {
    val u = unitVectors(s, d)
    val k = ivfKFor(u.count())
    val sc = sortedCells(codebook(u, k), k)
    val asg = u.select(col("vec_id"),
      element_at(sc, 1)("cid").cast("bigint").as("cell"),
      element_at(sc, 1)("cc").as("proto_score"))
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("proto_score").desc, col("vec_id"))
    asg.withColumn("cell_rank", row_number().over(w).cast("bigint"))
      .withColumn("cell_n", count(lit(1)).over(Window.partitionBy(col("cell"))))
      .withColumn("pruned", col("cell_rank") <= expr("cell_n div 4"))
      .orderBy("vec_id")
  }
  private val q141Sql =
    """WITH params AS (
      |  SELECT GREATEST(16, 1 << (LENGTH(BIN(CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))) - 1)) AS k
      |  FROM embeddings),
      |e AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) AS nrm
      |  FROM embeddings),
      |u AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS ue FROM e),
      |cent AS (SELECT vec_id AS cid, ue AS cu FROM u WHERE vec_id < (SELECT k FROM params)),
      |cc AS (
      |  SELECT u.vec_id, cent.cid,
      |    list_reduce(list_prepend(0.0, list_transform(list_zip(u.ue, cent.cu),
      |      p -> p[1] * p[2])), (a, b) -> a + b) AS cc
      |  FROM u CROSS JOIN cent),
      |rc AS (
      |  SELECT vec_id, cid, cc,
      |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
      |  FROM cc),
      |asg AS (
      |  SELECT vec_id, CAST(cid AS BIGINT) AS cell, cc AS proto_score
      |  FROM rc WHERE rn = 1),
      |rnk AS (
      |  SELECT vec_id, cell, proto_score,
      |    CAST(ROW_NUMBER() OVER (PARTITION BY cell
      |      ORDER BY proto_score DESC, vec_id) AS BIGINT) AS cell_rank,
      |    CAST(COUNT(*) OVER (PARTITION BY cell) AS BIGINT) AS cell_n
      |  FROM asg)
      |SELECT vec_id, cell, proto_score, cell_rank, cell_n,
      |  cell_rank <= cell_n // 4 AS pruned
      |FROM rnk ORDER BY vec_id""".stripMargin

  /** q211 — incremental SEMANTIC dedup: q112's persisted-index pattern
    * one modality over. The base corpus's embeddings are indexed ONCE —
    * an IVF coarse quantizer (rank-ordered seed codebook, the q52
    * discipline), per-vector cell assignments with unit vectors (the
    * doc-store the cosine verify reads), and a THRESHOLD CALIBRATED AT
    * BUILD TIME (the 99.9th percentile of within-cell base-pair cosines,
    * q114's ε computed on the index side and persisted WITH the index —
    * production calibrates offline and ships τ as index metadata, so
    * probes never re-derive it). Each incoming batch then probes: assign
    * to a cell (row-local scoring against the ≤k-row centroid table),
    * cosine against that cell's base vectors only (equi-join on the cell
    * key — never all-pairs), argmax per probe (max cosine, ties to the
    * lowest base vec_id — the q109 min-struct idiom), verdict 'dup' iff
    * best cosine clears τ.
    *
    * Self-matches are EXCLUDED (base vec_id ≠ probe vec_id) for the same
    * retry-safety reason as probeDedupIndex — a replayed micro-batch
    * must re-admit its own partially-appended vectors. Batch q211's
    * splits are disjoint, so the filter is a no-op there.
    *
    * τ goes through [[PctGate]] with a pair-encoded ticket key (va·2²²+vb
    * is collision-free while vec_id < 2²², which the oracle scales
    * satisfy; a real deployment hashes the pair), so the calibration
    * survives a 10¹⁰-pair index without a corpus-sized percentile
    * buffer, branch-identically in both engines.
    *
    * Scale shape: index build is one row-local assignment pass + one
    * Σ|cell|² calibration join (SemDeDup's own complexity, paid once);
    * the probe shuffles only batch-sized keys; the centroid collect is
    * ≤ k rows (k ∝ √n). Shared verbatim with the STREAMING arm
    * (graft.streaming.SemStream probes micro-batches through
    * [[probeSemIndex]]), so stream ≡ batch verdicts hold by construction
    * — the DedupStream discipline. */
  private[graft] def unitize(df: DataFrame): DataFrame =
    df.withColumn("nrm", expr(s"graft_l2norm($asDouble)"))
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double) / nrm)").as("ue"))

  /** One-time base pass: persist cell assignments with unit vectors
    * and commit the centroids (first-k unit-vector seeds, optionally
    * Lloyd-refined — production trains the coarse quantizer;
    * `lloydIters = 0` keeps the q211-oracle seed codebook) and the
    * calibrated within-cell cosine threshold τ as the sem kind's
    * manifest metadata. Probes read the COMMITTED centroids, so a
    * refined index is probe-compatible by construction — the quantizer
    * choice is index metadata like the scheme and τ. */
  private[graft] def buildSemIndex(s: SparkSession, base: DataFrame,
      dir: String, lloydIters: Int = 0): Unit =
    // The pq and graph kinds were built from the old vectors: a rebuild
    // uncommits them with `sem`, so they read as absent until re-added.
    IndexStore.build(s, dir, "sem", drops = Seq("pq", "graph")) {
      val u = unitize(base).localCheckpoint(true)
      val k = ivfKFor(u.count())
      // collect-bound: orderBy(vec_id).limit(k) — ≤ k rows, k ∝ √n via ivfKFor
      val seed: Seq[Seq[Double]] = u.select(col("vec_id"), col("ue"))
        .orderBy(col("vec_id")).limit(k)
        .collect().map(_.getSeq[Double](1)).toSeq
      val rows = lloydRefine(u, seed, lloydIters)
      val sc = sortedCells(typedlit(rows), rows.size)
      val asg = u.select(col("vec_id"), col("ue"),
          element_at(sc, 1)("cid").cast("bigint").as("cell"))
        .localCheckpoint(true) // consumers: vector store sink + τ pairs
      // Vector store persists BUCKETED on the cell id (external bucketed
      // table — IndexStore): the probe's candidate join arrives at a
      // pre-partitioned index side, so only the batch's exploded
      // probe-cells shuffle. IndexColocationSpec pins the plan.
      val vectors = IndexStore.write(asg, dir, "vectors", Seq("cell"))
      val a = asg.select(col("cell"), col("vec_id").as("va"), col("ue").as("ua"))
      val b = asg.select(col("cell").as("cell_b"), col("vec_id").as("vb"),
        col("ue").as("ub"))
      val pairs = a.join(b, col("cell") === col("cell_b") && col("va") < col("vb"))
        .select(col("va"), col("vb"), expr("graft_dot(ua, ub)").as("cos"))
        .localCheckpoint(true) // consumers: count + threshold
      // collect-bound: groupless aggregate — 1 row (NULL with no pair)
      val tau = PctGate.thresholdDfLazy(pairs, "cos", "0.999", "q211tau",
          "tau", keyExpr = "((va * 4194304) + vb)").head()
      IndexStore.Kind(Map(vectors), centroids = rows,
        tau = Option.when(!tau.isNullAt(0))(tau.getDouble(0)))
    }

  /** Centroid rows of a committed semantic index (row i is centroid i) —
    * the ≤ k-row metadata every probe/prep ranks against, from the
    * manifest. */
  private[queries] def centroidRows(s: SparkSession,
      dir: String): Seq[Seq[Double]] =
    IndexStore.kind(s, dir, "sem").centroids

  /** The centroids as a ≤ k-row (cid, cu) frame, broadcast by the
    * residual joins. */
  private def centroidFrame(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    centroidRows(s, dir).zipWithIndex.map { case (c, i) => (i.toLong, c) }
      .toDF("cid", "cu")
  }

  /** The committed τ of a semantic index as a DOUBLE literal — NULL when
    * the index has no within-cell pair, so no probe clears it. */
  private def tauLit(s: SparkSession, dir: String): Column =
    typedlit(IndexStore.kind(s, dir, "sem").tau)

  /** Probe a batch of (vec_id, embedding) against a persisted semantic
    * index: (vec_id, cell, verdict, match_vec, best_cos, tau) per batch
    * vector, unordered. Work ∝ batch × its probed cells' occupancy.
    *
    * `nprobe` is the standard IVF recall lever: a single-cell probe
    * misses a duplicate whose copy sits across a Voronoi boundary
    * (quantizer assigns the probe to cell A, its near-copy lives in
    * adjacent cell B). Probing the top-nprobe cells by centroid
    * similarity multiplies candidate work ~nprobe× and recovers exactly
    * those boundary pairs — q213 publishes the trade. The reported
    * `cell` stays the PRIMARY (rank-1) assignment at every nprobe, so
    * nprobe = 1 output is byte-identical to the pre-knob shape. */
  private[graft] def probeSemIndex(s: SparkSession, batch: DataFrame,
      dir: String, nprobe: Int = 1): DataFrame = {
    val rows: Seq[Seq[Double]] = centroidRows(s, dir)
    val sc = sortedCells(typedlit(rows), rows.size)
    val assigned = unitize(batch)
      .select(col("vec_id"), col("ue").as("pu"), sc.as("cells"))
      .select(col("vec_id"), col("pu"),
        element_at(col("cells"), 1)("cid").cast("bigint").as("cell"),
        expr(s"transform(slice(cells, 1, $nprobe), c -> cast(c.cid as bigint))")
          .as("probe_cells"))
      .localCheckpoint(true) // consumers: pair join + output spine
    // Tombstoned base vectors are invisible to the probe (matches
    // against taken-down content must not fire); None when the index
    // has no tombstones — the common case pays nothing.
    val idx = IndexStore.dropTombstoned(
      IndexStore.read(s, dir, "vectors")
        .select(col("cell"), col("vec_id").as("base_vec"), col("ue").as("bu")),
      "base_vec", IndexStore.tombstones(s, dir))
    val best = assigned
      .select(col("vec_id"), col("pu"), explode(col("probe_cells")).as("cell"))
      .join(idx, Seq("cell"))
      .filter(col("base_vec") =!= col("vec_id")) // retry self-pair guard
      .select(col("vec_id"), col("base_vec"),
        expr("graft_dot(pu, bu)").as("cos"))
      .groupBy(col("vec_id"))
      .agg(min(struct((-col("cos")).as("nc"), col("base_vec").as("base_vec"))).as("w"))
      .select(col("vec_id"), col("w.base_vec").as("match_vec"),
        (-col("w.nc")).as("best_cos"))
    assigned.select(col("vec_id"), col("cell"), tauLit(s, dir).as("tau"))
      .join(best, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cell"),
        when(col("best_cos") > col("tau"), lit("dup"))
          .otherwise(lit("novel")).as("verdict"),
        when(col("best_cos") > col("tau"), col("match_vec")).as("match_vec"),
        col("best_cos"), col("tau"))
  }

  /** Fold a batch's NOVEL vectors into the vector store (append-only;
    * centroids and τ are index metadata, recalibrated offline — exactly
    * how production IVF indexes age). Duplicate rows from at-least-once
    * replays wash out in the probe's argmax. */
  private[graft] def appendToSemIndex(s: SparkSession, novel: DataFrame,
      dir: String): Unit = {
    val rows: Seq[Seq[Double]] = centroidRows(s, dir)
    val sc = sortedCells(typedlit(rows), rows.size)
    val assigned = unitize(novel)
      .select(col("vec_id"), col("ue"),
        element_at(sc, 1)("cid").cast("bigint").as("cell"))
    IndexStore.append(assigned, dir, "vectors")
    // IVFADC parity: an index carrying PQ artifacts encodes the novel
    // vectors' residuals with the FROZEN permutation + codebooks (and
    // FROZEN learned rotation, when the build chose one — index metadata
    // ages like the centroids and τ, recalibrated offline).
    if (hasPq(s, dir)) {
      val (dims, cb, rot) = loadPqMeta(s, dir)
      val resid0 = assigned
        .join(broadcast(centroidFrame(s, dir)), col("cell") === col("cid"))
        .select(col("vec_id"), col("cell"),
          zip_with(col("ue"), col("cu"), (a, b) => a - b).as("ue"))
      val resid = rot.fold(resid0)(r => opqRotate(resid0, r))
      val enc0 = withPqCodes(resid, dims, cb)
        .select(col("vec_id") +: col("cell") +:
          dims.indices.map(j => col(s"code$j")): _*)
      // Baked-attribute parity: a codes table built with a filter column
      // keeps it through appends — the novel batch's own label when the
      // ingest carries one, NULL otherwise (NULL never matches a filter
      // predicate, so an unlabeled append is conservatively invisible to
      // filtered probes rather than silently mislabeled).
      val enc = if (IndexStore.read(s, dir, "codes")
          .columns.contains("label")) {
        if (novel.columns.contains("label"))
          enc0.join(novel.select(col("vec_id"),
            col("label").cast("int").as("label")), Seq("vec_id"), "left")
        else enc0.withColumn("label", lit(null).cast("int"))
      } else enc0
      IndexStore.append(enc, dir, "codes")
    }
    // Navigable-graph parity: wire novel nodes in cell-locally — out-edges
    // to each node's top-degree cell neighbors plus the REVERSE edges that
    // make the novel nodes reachable (the DiskANN insert discipline: a
    // neighbor's out-degree may overflow its bound until compaction
    // re-trims; existing rows are never rewritten in place).
    if (hasGraph(s, dir)) {
      // Wire against the LIVE, DEDUPED node set (the probeGraphIndex node
      // filter applied at insert time): a pending-tombstone neighbor must
      // not consume the novel node's out-degree budget or receive the
      // reverse edges that make it reachable — compaction removes such
      // edge rows WITHOUT replacement, which would leave the node
      // permanently under-connected even though alive neighbors existed.
      // Same for at-least-once duplicate rows in the float store: the
      // probe's argmax washes them out, but cellEdges' per-src row_number
      // trim runs BEFORE any (src, dst) dedup, so duplicate neighbor rows
      // would occupy multiple top-degree slots that compaction's
      // dropDuplicates then deletes unreplaced. A tombstoned NOVEL vector
      // (retire-before-arrival) is likewise not wired: its rows die at
      // compaction anyway and its reverse edges would squat on live
      // neighbors' degree slots until then.
      val tombs = IndexStore.tombstones(s, dir)
      val all = IndexStore.dropTombstoned(
          IndexStore.read(s, dir, "vectors"),
          "vec_id", tombs)
        .dropDuplicates("vec_id")
        .select(col("vec_id"), col("ue"), col("cell"))
      val live = IndexStore.dropTombstoned(assigned, "vec_id", tombs)
        .withColumn("cell2", element_at(sc, 2)("cid").cast("bigint"))
      val out = graphEdges(live, all)
        .localCheckpoint(true) // consumers: forward append + reverse append
      // A reversed edge keeps its kind: the reverse of a within-cell edge
      // joins two same-cell nodes, the reverse of a cross edge two
      // different-cell nodes — so compaction's per-kind re-trim budgets
      // the reverse rows against the right bound.
      val back = out.select(col("dst").as("src"), col("src").as("dst"),
        col("ecos"), col("kind"))
      IndexStore.append(out.unionByName(back), dir, "gedges")
    }
  }

  /** Compact the semantic index: one [[IndexStore.compact]] pass
    * rewrites each committed table minus the tombstoned vectors.
    *  - vectors, codes: one row per vec_id (rows for a vec_id are
    *    identical by construction — ue is a pure function of the
    *    embedding, cell of ue + the frozen centroids, the code of both —
    *    so at-least-once replays append verbatim duplicates); a taken-down
    *    vector leaves the float and code stores together (IvfAdcSpec);
    *  - gedges: edges with a tombstoned endpoint (either direction) go,
    *    re-appended pairs dedup, and each (src, kind) re-trims to its
    *    kind's bound by (ecos, dst) — the append arm's temporary
    *    overflow ends here. The trim partitions by kind so a node's
    *    within-cell neighbors can never crowd out its cross-cell escape
    *    edge (almost always the lowest-cosine row, which a single-bound
    *    trim would lose).
    * Probe verdicts are invariant: the probe's per-probe argmax already
    * collapses duplicate index rows and already skips tombstoned base
    * vectors (SemCompactionSpec / SemTtlSpec pin it bit-for-bit). */
  private[graft] def compactSemIndex(s: SparkSession, dir: String): Unit = {
    val oneRow = IndexStore.Compaction(Seq("vec_id"), _.dropDuplicates("vec_id"))
    val w = Window.partitionBy(col("src"), col("kind"))
      .orderBy(col("ecos").desc, col("dst"))
    IndexStore.compact(s, dir, Map("vectors" -> oneRow, "codes" -> oneRow,
      "gedges" -> IndexStore.Compaction(Seq("src", "dst"),
        _.dropDuplicates("src", "dst")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= when(col("kind") === 0, lit(WithinDegree))
            .otherwise(lit(CrossDegree)))
          .drop("rn"))))
  }

  /** The q211 base-corpus semantic index (vec_id % 5 ≠ 0 split), built
    * ONCE per (session, corpus) and shared by every consumer — q211's
    * probe and q212's health card read the same on-disk artifact
    * (the q112/q208 builtBaseIndex discipline). */
  private val semIdxCache = new graft.SessionCache[String]
  private def builtSemIndex(s: SparkSession, d: String): String =
    semIdxCache.getOrBuild(s, d) {
      val dir = graft.Scratch.dir("semidx", s, d)
      buildSemIndex(s,
        t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
          .filter(col("vec_id") % 5 =!= 0), dir)
      dir
    }

  private def q211(s: SparkSession, d: String): DataFrame = {
    val dir = builtSemIndex(s, d)
    val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    probeSemIndex(s, e.filter(col("vec_id") % 5 === 0), dir)
      .orderBy("vec_id")
  }
  /** The base-index CTE chain shared by the q211 probe oracle and the
    * q212 health-card oracle — the SQL restatement of buildSemIndex. */
  private def semIndexCtes: String = {
    val thr = PctGate.thresholdSql("pairs", "cos", "0.999", "q211tau",
      "tau", keyExpr = "((va * 4194304) + vb)")
    s"""params AS (
       |  SELECT GREATEST(16, 1 << (LENGTH(BIN(CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))) - 1)) AS k
       |  FROM embeddings WHERE vec_id % 5 <> 0),
       |e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) AS nrm
       |  FROM embeddings),
       |u AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS ue FROM e),
       |buni AS (SELECT vec_id, ue FROM u WHERE vec_id % 5 <> 0),
       |cent AS (
       |  SELECT cid, cu FROM (
       |    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, ue AS cu
       |    FROM buni) t WHERE cid < (SELECT k FROM params)),
       |bcc AS (
       |  SELECT b.vec_id, cent.cid,
       |    list_reduce(list_prepend(0.0, list_transform(list_zip(b.ue, cent.cu),
       |      p -> p[1] * p[2])), (a, x) -> a + x) AS cc
       |  FROM buni b CROSS JOIN cent),
       |bassign AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
       |    FROM bcc) t WHERE rn = 1),
       |pairs AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb,
       |    list_reduce(list_prepend(0.0, list_transform(list_zip(ua.ue, ub.ue),
       |      p -> p[1] * p[2])), (x, y) -> x + y) AS cos
       |  FROM bassign a JOIN bassign b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  JOIN buni ua ON ua.vec_id = a.vec_id
       |  JOIN buni ub ON ub.vec_id = b.vec_id),
       |tauv AS ($thr)""".stripMargin
  }

  private def q211Sql: String = {
    s"""WITH $semIndexCtes,
       |puni AS (SELECT vec_id, ue FROM u WHERE vec_id % 5 = 0),
       |pcc AS (
       |  SELECT p.vec_id, cent.cid,
       |    list_reduce(list_prepend(0.0, list_transform(list_zip(p.ue, cent.cu),
       |      q -> q[1] * q[2])), (a, x) -> a + x) AS cc
       |  FROM puni p CROSS JOIN cent),
       |passign AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
       |    FROM pcc) t WHERE rn = 1),
       |scored AS (
       |  SELECT p.vec_id, b.vec_id AS base_vec,
       |    list_reduce(list_prepend(0.0, list_transform(list_zip(pu.ue, bu.ue),
       |      q -> q[1] * q[2])), (a, x) -> a + x) AS cos
       |  FROM passign p JOIN bassign b ON b.cell = p.cell AND b.vec_id <> p.vec_id
       |  JOIN puni pu ON pu.vec_id = p.vec_id
       |  JOIN buni bu ON bu.vec_id = b.vec_id),
       |best AS (
       |  SELECT vec_id, base_vec AS match_vec, cos AS best_cos FROM (
       |    SELECT vec_id, base_vec, cos,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cos DESC, base_vec) AS rn
       |    FROM scored) t WHERE rn = 1)
       |SELECT p.vec_id, CAST(p.cell AS BIGINT) AS cell,
       |  CASE WHEN b.best_cos > (SELECT tau FROM tauv) THEN 'dup'
       |       ELSE 'novel' END AS verdict,
       |  CASE WHEN b.best_cos > (SELECT tau FROM tauv) THEN b.match_vec
       |       END AS match_vec,
       |  b.best_cos, (SELECT tau FROM tauv) AS tau
       |FROM passign p LEFT JOIN best b USING (vec_id)
       |ORDER BY p.vec_id""".stripMargin
  }

  /** q212 — semantic-index health card (q208's analog for the q211 IVF
    * index): operational metrics computed FROM the persisted artifact —
    * vector-store size, centroid count, occupied cells, the max cell
    * occupancy, and the Σ n·(n−1)/2 within-cell pair budget that prices
    * BOTH the ε recalibration join and the worst-case probe fan-in. One
    * hot cell (embedding-space boilerplate: near-zero vectors, template
    * pages) is the semantic index's quadratic failure mode exactly as a
    * degenerate band signature is the lexical one — `max_cell_share` is
    * the alarm that fires before it. Aggregations over index-sized
    * tables; exact integers + one division + the persisted τ. */
  private def q212(s: SparkSession, d: String): DataFrame = {
    val dir = builtSemIndex(s, d) // shared with q211 — one build per corpus
    // bucketed-by-cell store: this groupBy runs exchange-free
    val occ = IndexStore.read(s, dir, "vectors")
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
    val card = occ.agg(
      sum(col("n")).as("n_vectors"),
      count(lit(1)).as("n_cells_used"),
      max(col("n")).as("max_cell_vectors"),
      expr("sum(n * (n - 1)) div 2").as("cell_pair_budget"))
    card.select(col("n_vectors"),
        lit(centroidRows(s, dir).size.toLong).as("k"), col("n_cells_used"),
        col("max_cell_vectors"), col("cell_pair_budget"),
        (col("max_cell_vectors").cast("double") /
          nullif(col("n_vectors"), lit(0)).cast("double")).as("max_cell_share"),
        tauLit(s, dir).as("tau"))
  }
  private def q212Sql: String =
    s"""WITH $semIndexCtes,
       |occ AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n FROM bassign GROUP BY cell),
       |card AS (
       |  SELECT CAST(SUM(n) AS BIGINT) AS n_vectors,
       |    CAST(COUNT(*) AS BIGINT) AS n_cells_used,
       |    CAST(MAX(n) AS BIGINT) AS max_cell_vectors,
       |    CAST(SUM(n * (n - 1)) // 2 AS BIGINT) AS cell_pair_budget
       |  FROM occ),
       |kv AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM cent)
       |SELECT c.n_vectors, kv.k, c.n_cells_used, c.max_cell_vectors,
       |  c.cell_pair_budget,
       |  CAST(c.max_cell_vectors AS DOUBLE) / CAST(nullif(c.n_vectors, 0) AS DOUBLE)
       |    AS max_cell_share,
       |  (SELECT tau FROM tauv) AS tau
       |FROM card c, kv""".stripMargin

  /** q213 — nprobe boundary-recall card: the IVF recall lever priced on
    * this corpus. A single-cell probe misses duplicates whose copies sit
    * across a Voronoi boundary; probing the top-2 cells recovers them at
    * ~2× candidate work. The card runs q211's probe split at nprobe = 1
    * and nprobe = 2 against the shared index and publishes both dup
    * counts, the boundary dups only nprobe = 2 finds, and the EXACT
    * scored-pair work of each setting (probe-cell occupancy sums — the
    * number the capacity plan multiplies by batch rate). q209 is this
    * card's lexical twin: both turn a recall/cost knob into an audited
    * number instead of a default.
    *
    * Scale shape: two probes (each batch-sized work, candidate join on
    * the cell key) + one occupancy aggregation over the index —
    * everything else is ≤2-row reshapes. */
  private def q213(s: SparkSession, d: String): DataFrame = {
    val dir = builtSemIndex(s, d)
    val e = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") % 5 === 0)
    def dups(nprobe: Int, name: String): DataFrame =
      probeSemIndex(s, e, dir, nprobe)
        .agg(count(when(col("verdict") === "dup", 1)).as(name))
    // Scored-pair work: per probe vector, the occupancy of its rank-1
    // (and rank-2) cells — the candidate-join cardinality each setting
    // pays. Self-pairs are absent by split disjointness.
    val rows: Seq[Seq[Double]] = centroidRows(s, dir)
    val sc = sortedCells(typedlit(rows), rows.size)
    val probed = unitize(e)
      .select(col("vec_id"),
        posexplode(transform(slice(sc, 1, 2), c => c("cid").cast("bigint"))))
      .select(col("vec_id"), col("pos").as("rank"), col("col").as("cell"))
    val occ = IndexStore.read(s, dir, "vectors")
      .groupBy(col("cell")).agg(count(lit(1)).as("occ_n"))
    val work = probed.join(occ, Seq("cell"), "left")
      .agg(sum(when(col("rank") === 0, coalesce(col("occ_n"), lit(0L))))
          .as("scored_pairs_n1"),
        sum(coalesce(col("occ_n"), lit(0L))).as("scored_pairs_n2"))
    Seq(dups(2, "dup_n2"), work).foldLeft(dups(1, "dup_n1"))(graft.Scalars.withScalar)
      .select(col("dup_n1"), col("dup_n2"),
        (col("dup_n2") - col("dup_n1")).as("boundary_dups"),
        col("scored_pairs_n1"), col("scored_pairs_n2"),
        (col("scored_pairs_n2").cast("double") /
          nullif(col("scored_pairs_n1"), lit(0L)).cast("double")).as("cost_ratio"),
        tauLit(s, dir).as("tau"))
  }
  private def q213Sql: String =
    s"""WITH $semIndexCtes,
       |puni AS (SELECT vec_id, ue FROM u WHERE vec_id % 5 = 0),
       |pcc AS (
       |  SELECT p.vec_id, cent.cid,
       |    list_reduce(list_prepend(0.0, list_transform(list_zip(p.ue, cent.cu),
       |      q -> q[1] * q[2])), (a, x) -> a + x) AS cc
       |  FROM puni p CROSS JOIN cent),
       |pranked AS (
       |  SELECT vec_id, cid AS cell, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
       |  FROM pcc),
       |occ AS (SELECT cell, CAST(COUNT(*) AS BIGINT) AS occ_n FROM bassign GROUP BY cell),
       |work AS (
       |  SELECT CAST(SUM(CASE WHEN p.rn = 1 THEN COALESCE(o.occ_n, 0) ELSE 0 END) AS BIGINT) AS scored_pairs_n1,
       |    CAST(SUM(COALESCE(o.occ_n, 0)) AS BIGINT) AS scored_pairs_n2
       |  FROM pranked p LEFT JOIN occ o USING (cell) WHERE p.rn <= 2),
       |scored AS (
       |  SELECT p.vec_id, p.rn,
       |    list_reduce(list_prepend(0.0, list_transform(list_zip(pu.ue, bu.ue),
       |      q -> q[1] * q[2])), (a, x) -> a + x) AS cos
       |  FROM pranked p JOIN bassign b ON b.cell = p.cell AND b.vec_id <> p.vec_id
       |  JOIN puni pu ON pu.vec_id = p.vec_id
       |  JOIN buni bu ON bu.vec_id = b.vec_id
       |  WHERE p.rn <= 2),
       |d1 AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS dup_n1 FROM (
       |    SELECT vec_id FROM scored WHERE rn = 1 GROUP BY vec_id
       |    HAVING MAX(cos) > (SELECT tau FROM tauv))),
       |d2 AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS dup_n2 FROM (
       |    SELECT vec_id FROM scored GROUP BY vec_id
       |    HAVING MAX(cos) > (SELECT tau FROM tauv)))
       |SELECT d1.dup_n1, d2.dup_n2, d2.dup_n2 - d1.dup_n1 AS boundary_dups,
       |  w.scored_pairs_n1, w.scored_pairs_n2,
       |  CAST(w.scored_pairs_n2 AS DOUBLE) / CAST(nullif(w.scored_pairs_n1, 0) AS DOUBLE)
       |    AS cost_ratio,
       |  (SELECT tau FROM tauv) AS tau
       |FROM d1, d2, work w""".stripMargin

  /** q214 — dedup modality-agreement matrix: q112's lexical verdicts
    * joined to q211's semantic verdicts on the SAME probe split (item
    * ids align across the documents/embeddings tables; probe docs
    * without an embedding land in a 'no_embedding' bucket rather than
    * silently dropping). The matrix is the PARAPHRASE AUDIT a curation
    * team reads before trusting either index alone: the (novel, dup)
    * cell is the semantic-only mass — near-meaning rewrites MinHash
    * banding cannot see; (exact/near, novel) is the lexical-only mass —
    * templated shells whose embeddings spread. Reuses both siblings
    * through the SparkEntry registry (their index builds are already
    * SessionCache-memoized), so the card is a composition test of two
    * independently hash-verified chains — the q95 discipline. Matrix is
    * ≤ 9 rows; one broadcast-scalar division for shares. */
  private def q214(s: SparkSession, d: String): DataFrame = {
    val lex = graft.SparkEntry.queries("q112_incremental_dedup")(s, d)
      .select(col("doc_id"), col("verdict").as("lex_verdict"))
    val sem = graft.SparkEntry.queries("q211_incremental_semdedup")(s, d)
      .select(col("vec_id").as("doc_id"), col("verdict").as("sem_verdict"))
    val m = lex.join(sem, Seq("doc_id"), "left")
      .groupBy(col("lex_verdict"),
        coalesce(col("sem_verdict"), lit("no_embedding")).as("sem_verdict"))
      .agg(count(lit(1)).as("n"))
      .localCheckpoint(true) // consumers: matrix rows + total scalar
    graft.Scalars.withScalar(m, m.agg(sum(col("n")).as("total")))
      .select(col("lex_verdict"), col("sem_verdict"), col("n"),
        (col("n").cast("double") / col("total").cast("double")).as("share"))
      .orderBy("lex_verdict", "sem_verdict")
  }
  private def q214Sql: String = {
    val lexSql = DedupOps.oracleSql("q112_incremental_dedup")
    s"""WITH lex AS ($lexSql),
       |sem AS ($q211Sql),
       |m AS (
       |  SELECT l.verdict AS lex_verdict,
       |    COALESCE(s.verdict, 'no_embedding') AS sem_verdict,
       |    CAST(COUNT(*) AS BIGINT) AS n
       |  FROM lex l LEFT JOIN sem s ON s.vec_id = l.doc_id
       |  GROUP BY 1, 2)
       |SELECT lex_verdict, sem_verdict, n,
       |  CAST(n AS DOUBLE) / CAST((SELECT SUM(n) FROM m) AS DOUBLE) AS share
       |FROM m ORDER BY lex_verdict, sem_verdict""".stripMargin
  }

  /** q215 — Lloyd-refined codebook quality card: the ORACLED proof that
    * [[trainCodebook]] (decimal-exact spherical k-means, spec-validated
    * since its round) actually improves the quantizer the ANN family
    * ships. One row per iteration (0 = the q52 first-k seed codebook,
    * then each Lloyd round): occupied cells, max cell occupancy, and the
    * corpus-mean cosine-to-own-centroid — the number k-means maximizes.
    * Production trains the IVF coarse quantizer exactly this way; the
    * card is what a data team reads to pick the iteration budget.
    *
    * Bit-parity: assignment cosines are the q178 fold; per-(cell, dim)
    * means accumulate as exact dyadic fixed-point BIGINTs (see
    * [[trainCodebook]] — order-independent, partitioning-proof AND
    * engine-proof, the reason the oracle can restate the whole
    * recursion); normalization is an element-ordered fold; the
    * corpus-mean cosine is a TWO-LEVEL ordered fold (per-cell by vec_id,
    * then across ≤k cell sums by cell — the q92 decomposition, so no
    * corpus-sized collect_list buffer exists at any scale).
    *
    * Scale shape: per iteration one row-local assignment pass + one
    * (cell, dim)-keyed hash agg + a k·dim driver collect (k ∝ √n); the
    * card re-runs lower iteration counts rather than snapshotting
    * intermediate codebooks — 0+1+2 = 3 assignment passes total, the
    * price of reusing the production trainer verbatim. */
  private def q215(s: SparkSession, d: String): DataFrame = {
    val u = unitVectors(s, d)
    val k = ivfKFor(u.count())
    val cards = (0 to 2).map { it =>
      val sc = sortedCells(typedlit(trainCodebook(s, d, k, it)), k)
      u.select(col("vec_id"),
          element_at(sc, 1)("cid").cast("int").as("cell"),
          element_at(sc, 1)("cc").as("own_cos"))
        .groupBy(col("cell"))
        .agg(count(lit(1)).as("n"),
          expr("aggregate(array_sort(collect_list(struct(vec_id, own_cos)))," +
            " cast(0 as double), (acc, x) -> acc + x.own_cos)").as("cell_sum"))
        .agg(count(lit(1)).as("n_cells_used"),
          max(col("n")).as("max_cell_vectors"),
          sum(col("n")).as("n_total"),
          expr("aggregate(array_sort(collect_list(struct(cell, cell_sum)))," +
            " cast(0 as double), (acc, x) -> acc + x.cell_sum)").as("total_sum"))
        .select(lit(it).as("iter"), col("n_cells_used"), col("max_cell_vectors"),
          (col("total_sum") / col("n_total").cast("double")).as("mean_own_cos"))
    }
    cards.reduce(_.unionAll(_)).orderBy("iter")
  }
  private def q215Sql: String = {
    // One Lloyd round in SQL: assignment against cent$i, decimal-exact
    // per-(cell, dim) means, element-ordered normalization, empty/zero
    // cells inheriting the previous centroid — cent${i+1}.
    def dot(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), p -> p[1] * p[2])), (x, y) -> x + y)"
    def assign(i: Int) =
      s"""sc$i AS (
         |  SELECT u.vec_id, c.cid, ${dot("u.ue", "c.cu")} AS cc
         |  FROM u CROSS JOIN cent$i c),
         |a$i AS (
         |  SELECT vec_id, cid AS cell, cc AS own_cos FROM (
         |    SELECT vec_id, cid, cc,
         |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
         |    FROM sc$i) WHERE rn = 1)""".stripMargin
    def refine(i: Int) =
      s"""m$i AS (
         |  SELECT cell, i AS pos,
         |    CAST(SUM(CAST(FLOOR(ue[i] * 67108864e0) AS BIGINT)) AS DOUBLE)
         |      / (67108864e0 * CAST(COUNT(*) AS DOUBLE)) AS m
         |  FROM (SELECT a.cell, u.ue, unnest(generate_series(1, len(u.ue))) AS i
         |        FROM a$i a JOIN u ON u.vec_id = a.vec_id)
         |  GROUP BY cell, i),
         |mn$i AS (
         |  SELECT cell, mean,
         |    sqrt(list_reduce(list_prepend(0.0, list_transform(mean, x -> x * x)), (x, y) -> x + y)) AS nrm
         |  FROM (SELECT cell, list(m ORDER BY pos) AS mean FROM m$i GROUP BY cell)),
         |cent${i + 1} AS (
         |  SELECT c.cid,
         |    CASE WHEN mn.nrm IS NOT NULL AND mn.nrm <> 0
         |         THEN list_transform(mn.mean, x -> x / mn.nrm) ELSE c.cu END AS cu
         |  FROM cent$i c LEFT JOIN mn$i mn ON mn.cell = c.cid)""".stripMargin
    def stats(i: Int) =
      s"""st$i AS (
         |  SELECT CAST($i AS INTEGER) AS iter,
         |    CAST(COUNT(*) AS BIGINT) AS n_cells_used,
         |    CAST(MAX(n) AS BIGINT) AS max_cell_vectors,
         |    list_reduce(list_prepend(0.0, list(cell_sum ORDER BY cell)), (x, y) -> x + y)
         |      / CAST(SUM(n) AS DOUBLE) AS mean_own_cos
         |  FROM (
         |    SELECT cell, CAST(COUNT(*) AS BIGINT) AS n,
         |      list_reduce(list_prepend(0.0, list(own_cos ORDER BY vec_id)), (x, y) -> x + y) AS cell_sum
         |    FROM a$i GROUP BY cell))""".stripMargin
    s"""WITH params AS (
       |  SELECT GREATEST(16, 1 << (LENGTH(BIN(CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))) - 1)) AS k
       |  FROM embeddings),
       |e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) AS nrm
       |  FROM embeddings),
       |u AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS ue FROM e),
       |cent0 AS (SELECT CAST(vec_id AS INTEGER) AS cid, ue AS cu FROM u WHERE vec_id < (SELECT k FROM params)),
       |${assign(0)},
       |${refine(0)},
       |${assign(1)},
       |${refine(1)},
       |${assign(2)},
       |${stats(0)},
       |${stats(1)},
       |${stats(2)}
       |SELECT * FROM st0 UNION ALL SELECT * FROM st1 UNION ALL SELECT * FROM st2
       |ORDER BY iter""".stripMargin
  }

  /** q218 — τ staleness card: is the semantic index's build-time
    * calibration still valid for the corpus it now serves? The persisted
    * τ was the 99.9th-percentile within-cell cosine of the BASE split;
    * as refresh folds new material in, the within-cell cosine
    * distribution drifts and a stale τ silently turns into
    * over-merging (τ too low for the denser cells) or recall loss (τ
    * too high). The card recalibrates the SAME statistic over the FULL
    * embedding set assigned to the PERSISTED centroids — the state a
    * day of streaming refresh leaves behind — and publishes indexed τ,
    * current τ, absolute and relative drift, and the recalibrate flag
    * at the 1% relative threshold. This is the trigger for the offline
    * recalibration job the SemStream scaladoc names; q212/q213/q218 are
    * the semantic index's full observability set (cost, recall,
    * staleness).
    *
    * Scale shape: one row-local assignment pass over the corpus + the
    * Σ|cell|² within-cell pair join (SemDeDup's own complexity — this
    * card costs what one recalibration costs, which is the point);
    * τ recomputation goes through [[PctGate]] with the pair-encoded
    * ticket, so the percentile buffer is bounded at any corpus size. */
  private def q218(s: SparkSession, d: String): DataFrame = {
    val dir = builtSemIndex(s, d)
    val rows: Seq[Seq[Double]] = centroidRows(s, dir)
    val sc = sortedCells(typedlit(rows), rows.size)
    val au = unitize(t(s, d, "embeddings").select(col("vec_id"), col("embedding")))
      .select(col("vec_id"), col("ue"),
        element_at(sc, 1)("cid").cast("bigint").as("cell"))
      .localCheckpoint(true) // consumers: both sides of the pair join
    val a = au.select(col("cell"), col("vec_id").as("va"), col("ue").as("ua"))
    val b = au.select(col("cell").as("cell_b"), col("vec_id").as("vb"),
      col("ue").as("ub"))
    val pairs = a.join(b, col("cell") === col("cell_b") && col("va") < col("vb"))
      .select(col("va"), col("vb"), expr("graft_dot(ua, ub)").as("cos"))
      .localCheckpoint(true) // consumers: count + threshold
    val tauC = PctGate.thresholdDfLazy(pairs, "cos", "0.999",
      "q218tau", "tau_current", keyExpr = "((va * 4194304) + vb)")
    tauC.withColumn("tau_indexed", tauLit(s, dir))
      .select(col("tau_indexed"), col("tau_current"),
        (col("tau_current") - col("tau_indexed")).as("drift"),
        // CASE-guarded division (the q237/q238 discipline): a degenerate
        // index whose calibrated τ is 0 (single-vector cells → no
        // within-cell pair → NULL/0 τ) yields a NULL rel_drift and NULL
        // recalibrate flag, never Infinity/NaN.
        when(col("tau_indexed") =!= 0.0,
          abs(col("tau_current") - col("tau_indexed")) /
            abs(col("tau_indexed"))).as("rel_drift"))
      .withColumn("recalibrate", col("rel_drift") > lit(0.01))
  }
  private def q218Sql: String = {
    val thr = PctGate.thresholdSql("apairs", "cos", "0.999", "q218tau",
      "tau_current", keyExpr = "((va * 4194304) + vb)")
    s"""WITH $semIndexCtes,
       |aasg AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT u.vec_id, cent.cid,
       |      list_reduce(list_prepend(0.0, list_transform(list_zip(u.ue, cent.cu),
       |        p -> p[1] * p[2])), (a, x) -> a + x) AS cc,
       |      ROW_NUMBER() OVER (PARTITION BY u.vec_id ORDER BY
       |        list_reduce(list_prepend(0.0, list_transform(list_zip(u.ue, cent.cu),
       |          p -> p[1] * p[2])), (a, x) -> a + x) DESC, cid) AS rn
       |    FROM u CROSS JOIN cent) t WHERE rn = 1),
       |apairs AS (
       |  SELECT a.vec_id AS va, b.vec_id AS vb,
       |    list_reduce(list_prepend(0.0, list_transform(list_zip(ua.ue, ub.ue),
       |      p -> p[1] * p[2])), (x, y) -> x + y) AS cos
       |  FROM aasg a JOIN aasg b ON a.cell = b.cell AND a.vec_id < b.vec_id
       |  JOIN u ua ON ua.vec_id = a.vec_id
       |  JOIN u ub ON ub.vec_id = b.vec_id),
       |tcur AS ($thr)
       |SELECT (SELECT tau FROM tauv) AS tau_indexed,
       |  (SELECT tau_current FROM tcur) AS tau_current,
       |  ((SELECT tau_current FROM tcur) - (SELECT tau FROM tauv)) AS drift,
       |  CASE WHEN (SELECT tau FROM tauv) <> 0 THEN
       |    (abs((SELECT tau_current FROM tcur) - (SELECT tau FROM tauv)) /
       |      abs((SELECT tau FROM tauv))) END AS rel_drift,
       |  (CASE WHEN (SELECT tau FROM tauv) <> 0 THEN
       |    (abs((SELECT tau_current FROM tcur) - (SELECT tau FROM tauv)) /
       |      abs((SELECT tau FROM tauv))) END) > 0.01 AS recalibrate""".stripMargin
  }

  // ---------------------------------------------------------------- q221

  /** q221 — top-principal-component power-iteration card, ORACLED
    * end-to-end: the dimensionality-reduction trainer beside the Lloyd
    * quantizer trainer (q215). Production embedding indexes rotate /
    * whiten before quantizing (Optimized Product Quantization, Ge et al.
    * 2013; PCA preprocessing is standard ahead of IVF/PQ at billion
    * scale) — the dominant component and its explained-variance share
    * are the card a data team reads to decide whether rotation is worth
    * a re-index. Von Mises power iteration on the CENTERED Gram operator
    * without ever materializing the d×d matrix: per iteration one
    * corpus pass computes y = Σᵢ cxᵢ·(cxᵢᵀv) (row-local [[graft_dot]]
    * against the literal v, then a (pos)-keyed hash aggregation), and
    * the d-sized y normalizes driver-side — the Lloyd-loop shape, state
    * = d doubles per iteration, never corpus-proportional.
    *
    * Bit-parity: the mean vector and every y accumulate as dyadic
    * fixed-point BIGINTs (floor(v·2^26), [[MeanScale]] discipline —
    * exact, order-free, engine-proof); centering is one correctly-
    * rounded subtraction per element; dots are the [[graft_dot]]
    * ordered fold = the oracle's list_reduce(list_prepend(0.0, ...));
    * λ (the Rayleigh value), ‖y‖, and the normalization divide are the
    * identical fixed-order folds and correctly-rounded ops on both
    * sides (IEEE sqrt is correctly rounded in both engines); the seed
    * is the exact constant vector 1/√d. Degenerate guards mirror both
    * sides: a zero y keeps the previous direction (the Lloyd empty-cell
    * rule), a zero trace reports explained = 0.
    *
    * 100 TB shape: iteration cost is O(n·d) — the matvec form, chosen
    * over the one-pass O(n·d²) Gram accumulation precisely because at
    * production d (512-4096) the Gram explode is 3 orders costlier per
    * row and its d² hash-agg keys shuffle d²/d = d× more bytes; T
    * passes over a columnar scan beat one pass of d× width. The
    * per-pos aggregation is map-side-combined; driver state d doubles. */
  private[queries] def powerCard(s: SparkSession, d: String,
      iters: Int): Seq[(Int, Int, Double, Double, Double)] = {
    val dyV = 67108864e0
    val x = t(s, d, "embeddings")
      .select(expr("transform(embedding, v -> cast(v as double))").as("x"))
      .localCheckpoint(true) // consumers: dim probe, mean, centering
    // collect-bound: groupless aggregate — 1 row (corpus dimensionality)
    val dim = x.agg(coalesce(max(size(col("x"))), lit(0)).as("d"))
      .collect()(0).getInt(0)
    val mean = x.select(posexplode(col("x")).as(Seq("pos", "v")))
      .groupBy("pos")
      .agg((sum(floor(col("v") * lit(dyV)).cast("long")).cast("double")
        / (lit(dyV) * count(lit(1)).cast("double"))).as("m"))
      // collect-bound: grouped by element position — ≤ d rows
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    val mu = (0 until dim).map(p => mean.getOrElse(p, 0e0))
    val cx = x.select(zip_with(col("x"), typedlit(mu),
        (a, b) => a - b).as("cx"))
      .localCheckpoint(true) // consumers: trace + every iteration
    // collect-bound: groupless aggregate — 1 row (centered trace)
    val traceFp = cx.agg(coalesce(sum(floor(
        call_function("graft_dot", col("cx"), col("cx")) * lit(dyV))
        .cast("long")), lit(0L)).as("t"))
      .collect()(0).getLong(0)
    val trace = traceFp.toDouble / dyV
    var v: Seq[Double] =
      if (dim == 0) Seq.empty
      else Seq.fill(dim)(1e0 / math.sqrt(dim.toDouble))
    (1 to iters).flatMap { it =>
      val yfp = cx
        .select(posexplode(col("cx")).as(Seq("pos", "cv")),
          call_function("graft_dot", col("cx"), typedlit(v)).as("s"))
        .groupBy("pos")
        .agg(sum(floor((col("cv") * col("s")) * lit(dyV)).cast("long"))
          .as("yfp"))
        // collect-bound: grouped by element position — ≤ d rows per iter
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val y = (0 until dim).map(p => yfp.getOrElse(p, 0L).toDouble / dyV)
      val lam = v.zip(y).foldLeft(0e0)((a, p) => a + p._1 * p._2)
      val nrm = math.sqrt(y.foldLeft(0e0)((a, e) => a + e * e))
      v = if (nrm == 0e0) v else y.map(_ / nrm)
      val explained = if (trace == 0e0) 0e0 else lam / trace
      (0 until dim).map(p => (it, p, v(p), lam, explained))
    }
  }

  private def q221(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    powerCard(s, d, iters = 3)
      .toDF("iter", "pos", "v", "lam", "explained")
      .orderBy("iter", "pos")
  }
  private def q221Sql: String = {
    val dy = "67108864e0"
    def dot(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), p -> p[1] * p[2])), (x, y) -> x + y)"
    // Each iteration's y/v CTEs sit on the full corpus chain and are
    // referenced more than once — MATERIALIZED (the q216 lesson), or the
    // corpus pass re-evaluates 3^t times through inlining.
    def iter(tn: Int): String =
      s"""sc$tn AS (SELECT c.cx, ${dot("c.cx", "v.vl")} AS s FROM c CROSS JOIN v${tn - 1} v),
         |y$tn AS MATERIALIZED (
         |  SELECT i AS pos,
         |    CAST(SUM(CAST(FLOOR((cx[i] * s) * $dy) AS BIGINT)) AS BIGINT) AS yfp
         |  FROM (SELECT cx, s, unnest(generate_series(1, len(cx))) AS i FROM sc$tn)
         |  GROUP BY i),
         |yl$tn AS MATERIALIZED (
         |  SELECT list(CAST(yfp AS DOUBLE) / $dy ORDER BY pos) AS yl FROM y$tn),
         |nl$tn AS MATERIALIZED (
         |  SELECT yl, ${dot("yl", "yl")} AS n2,
         |    (SELECT ${dot("v.vl", "y.yl")} FROM v${tn - 1} v CROSS JOIN yl$tn y) AS lam
         |  FROM yl$tn),
         |v$tn AS MATERIALIZED (
         |  SELECT CASE WHEN sqrt(n2) = 0e0 THEN (SELECT vl FROM v${tn - 1})
         |    ELSE list_transform(yl, e -> e / sqrt(n2)) END AS vl, lam
         |  FROM nl$tn),
         |card$tn AS (
         |  SELECT CAST($tn AS INTEGER) AS iter, CAST(i - 1 AS INTEGER) AS pos,
         |    v.vl[i] AS v, v.lam AS lam,
         |    CASE WHEN (SELECT tr FROM trc) = 0e0 THEN 0e0
         |      ELSE v.lam / (SELECT tr FROM trc) END AS explained
         |  FROM v$tn v CROSS JOIN
         |    (SELECT unnest(generate_series(1, (SELECT d FROM dd))) AS i))""".stripMargin
    s"""WITH xs AS MATERIALIZED (
       |  SELECT list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
       |  FROM embeddings),
       |dd AS (SELECT COALESCE(MAX(len(x)), 0) AS d FROM xs),
       |mm AS (
       |  SELECT i AS pos,
       |    CAST(SUM(CAST(FLOOR(x[i] * $dy) AS BIGINT)) AS DOUBLE)
       |      / ($dy * CAST(COUNT(*) AS DOUBLE)) AS m
       |  FROM (SELECT x, unnest(generate_series(1, len(x))) AS i FROM xs)
       |  GROUP BY i),
       |ml AS (SELECT list(m ORDER BY pos) AS ml FROM mm),
       |c AS MATERIALIZED (
       |  SELECT list_transform(list_zip(x, m.ml), p -> p[1] - p[2]) AS cx
       |  FROM xs CROSS JOIN ml m),
       |trc AS MATERIALIZED (
       |  SELECT CAST(COALESCE(SUM(CAST(FLOOR(${dot("cx", "cx")} * $dy) AS BIGINT)), 0) AS DOUBLE) / $dy AS tr
       |  FROM c),
       |v0 AS (
       |  SELECT list_transform(generate_series(1, d), i -> 1e0 / sq) AS vl
       |  FROM (SELECT d, sqrt(CAST(d AS DOUBLE)) AS sq FROM dd)),
       |${iter(1)},
       |${iter(2)},
       |${iter(3)}
       |SELECT iter, pos, v, lam, explained
       |FROM (SELECT * FROM card1 UNION ALL SELECT * FROM card2
       |      UNION ALL SELECT * FROM card3)
       |ORDER BY iter, pos""".stripMargin
  }

  // ------------------------------------------------------------ q240/q241

  /** Product quantization (Jégou, Douze & Schmid 2011, "Product
    * Quantization for Nearest Neighbor Search") — the billion-scale
    * memory tier completing the LSH (q33) / IVF (q52) / scalar-int8
    * (q85) ANN family: split each unit vector into [[PqM]] sub-vectors,
    * quantize each against a [[PqKsub]]-entry sub-codebook, store m
    * one-byte codes per vector (64 dims × 4 bytes → 4 bytes: 64× less
    * memory than float32), and score queries ASYMMETRICALLY (ADC): the
    * query stays exact, each (subspace, code) pair's contribution is a
    * table lookup, so approx cosine = Σ_j LUT_j[code_j] — m adds per
    * candidate instead of d multiply-adds.
    *
    * The subspace DECOMPOSITION is variance-balanced à la OPQ (Ge, He,
    * Ke & Sun 2013, "Optimized Product Quantization"): dimensions are
    * ranked by corpus second moment and dealt round-robin across the m
    * subspaces — a PERMUTATION is an orthogonal rotation, so this is
    * OPQ restricted to permutation matrices (the paper's non-parametric
    * initialization family), chosen because it is EXACTLY restatable in
    * the DuckDB oracle: the moment ranks use the q215 dyadic fixed-point
    * idiom (floor(v²·2^26) summed as BIGINT — no IEEE accumulation
    * order anywhere), so both engines derive the identical permutation
    * at every scale. Lloyd-trained sub-codebooks are the production
    * path ([[trainPqCodebooks]] — PqSpec pins monotone distortion,
    * determinism, and drop-in ADC search; the oracled queries keep the
    * seed books, the q52 discipline); a LEARNED rotation (Ge et al.'s
    * parametric OPQ over [[q221]]'s PCA machinery) is the next rung of
    * the same ladder and would slot in where the permutation does.
    *
    * Oracle parity mechanics: sub-codebooks are the first-ksub unit
    * vectors' sub-vectors (the q52 seed-codebook discipline — SQL can
    * restate first-k, not k-means); assignment argmin and ADC dots are
    * ordered folds ≡ list_reduce; the ADC sum runs in subspace order in
    * BOTH engines (Spark: aggregate over sequence(0,m−1); SQL:
    * list_reduce over list(· ORDER BY sub)) — the scores hash-match, not
    * just the ranks.
    *
    * Scale shape: permutation + codebook are driver literals (≤ dim +
    * ksub collected rows); encoding is ROW-LOCAL inside the scan's
    * codegen span (zero shuffles — the q29 sketch discipline); search
    * is the q32/q85 broadcast-query shape over the CODES table (the
    * 64×-smaller artifact a real deployment scans), m lookup-adds per
    * pair. */
  private val PqM = 4
  private val PqKsub = 16
  private val pqCache =
    new graft.SessionCache[(Seq[Seq[Int]], Seq[Seq[Seq[Double]]])]

  /** (dimension permutation as m rank-ordered sub-lists, m × ksub seed
    * sub-codebooks), derived once per (session, corpus). */
  private[queries] def pqArtifacts(s: SparkSession,
      d: String): (Seq[Seq[Int]], Seq[Seq[Seq[Double]]]) =
    pqCache.getOrBuild(s, d) {
      val u = unitVectors(s, d)
      // collect-bound: one row per embedding dimension — ≤ dim rows
      val ranked = u.select(posexplode(col("ue")).as(Seq("pos", "v")))
        .groupBy(col("pos"))
        .agg(sum(floor(col("v") * col("v") * lit(MeanScale)).cast("long"))
          .as("s2"))
        .collect().map(r => (r.getInt(0), r.getLong(1)))
        .sortBy { case (p, s2) => (-s2, p) }
      val dims: Seq[Seq[Int]] = (0 until PqM).map(j =>
        ranked.indices.collect { case r if r % PqM == j => ranked(r)._1 }.toSeq)
      // collect-bound: seed rows vec_id < ksub — ≤ 16 rows
      val seeds = u.filter(col("vec_id") < PqKsub)
        .select(col("vec_id"), col("ue"))
        .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
      val cb: Seq[Seq[Seq[Double]]] =
        dims.map(dj => seeds.map { case (_, ue) => dj.map(ue(_)) }.toSeq)
      (dims, cb)
    }

  /** Attach the m permuted sub-vectors pv0..pv{m−1} (row-local literal
    * index gather). `src` names the gathered column — "ue" everywhere
    * except the learned-rotation probe, which gathers from the ROTATED
    * query while the coarse ranking keeps reading the raw `ue`. */
  private[queries] def withPqSubvectors(df: DataFrame,
      dims: Seq[Seq[Int]], src: String = "ue"): DataFrame =
    dims.zipWithIndex.foldLeft(df) { case (acc, (dj, j)) =>
      acc.withColumn(s"pv$j",
        transform(typedlit(dj), ix => element_at(col(src), ix + lit(1))))
    }

  /** Attach code_j (argmin sub-L2², ties to the smaller centroid id —
    * the sortedCells comparator) and its quantization error cerr_j. */
  private[queries] def withPqCodes(df: DataFrame, dims: Seq[Seq[Int]],
      cb: Seq[Seq[Seq[Double]]]): DataFrame =
    dims.indices.foldLeft(withPqSubvectors(df, dims)) { (acc, j) =>
      // Score exactly the codewords the book HAS — a small corpus can
      // seed fewer than ksub (element_at past the literal's end would
      // null the distance and corrupt the argmin).
      val scores = transform(sequence(lit(0), lit(cb(j).size - 1)), c =>
        struct(
          aggregate(
            zip_with(col(s"pv$j"), element_at(typedlit(cb(j)), c + lit(1)),
              (a, b) => (a - b) * (a - b)),
            lit(0.0), (accv, x) => accv + x).as("d2"),
          c.as("cid")))
      val best = element_at(array_sort(scores, (a, b) =>
        when(a("d2") < b("d2"), -1).when(a("d2") > b("d2"), 1)
          .otherwise(a("cid") - b("cid"))), 1)
      acc.withColumn(s"code$j", best("cid").cast("int"))
        .withColumn(s"cerr$j", best("d2"))
    }

  /** Per-subspace L2 Lloyd refinement of the seed sub-codebooks — the
    * production trainer the oracled q240/q241 point at (the
    * [[trainCodebook]] discipline applied to PQ): assign codes row-local
    * against the current literal codebooks, recompute each (code, pos)
    * mean as a dyadic fixed-point exact integer (bit-stable under any
    * partitioning/AQE — the [[MeanScale]] idiom; PQ centroids are plain
    * L2 means, no renormalization), empty codes keep their previous
    * centroid. Driver state is m·ksub·dim doubles per iteration. Lloyd
    * never increases total distortion, and PqSpec pins monotonicity,
    * determinism, and that the refined books drop straight into the ADC
    * search. */
  private[queries] def trainPqCodebooks(s: SparkSession, d: String,
      iters: Int): Seq[Seq[Seq[Double]]] = {
    val (dims, seed) = pqArtifacts(s, d)
    refinePqBooks(unitVectors(s, d).select(col("vec_id"), col("ue")),
      dims, seed, iters)
  }

  /** The Lloyd loop itself, over an arbitrary (vec_id, ue) frame — raw
    * unit vectors for [[trainPqCodebooks]], IVF cell RESIDUALS for
    * [[addPqToSemIndex]]'s production rung. Same determinism contract. */
  private[queries] def refinePqBooks(frame: DataFrame, dims: Seq[Seq[Int]],
      seed: Seq[Seq[Seq[Double]]], iters: Int): Seq[Seq[Seq[Double]]] = {
    var cb = seed
    for (_ <- 1 to iters) {
      val coded = withPqCodes(frame, dims, cb)
      cb = dims.indices.map { j =>
        // collect-bound: grouped by code id < ksub — ≤ 16 rows per subspace
        val means = coded
          .select(col(s"code$j").as("c"), posexplode(col(s"pv$j")).as(Seq("pos", "v")))
          .groupBy(col("c"), col("pos"))
          .agg((sum(floor(col("v") * lit(MeanScale)).cast("long")).cast("double")
            / (lit(MeanScale) * count(lit(1)).cast("double"))).as("m"))
          .groupBy(col("c"))
          .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
            x => x("m")).as("mean"))
          // collect-bound: one row per code id < ksub — ≤ 16 rows
          .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
        cb(j).indices.map(c => means.getOrElse(c, cb(j)(c)).toSeq).toSeq
      }
    }
    cb
  }

  /** Corpus-mean total quantization error under the given sub-codebooks
    * (the q241 distortion metric, reusable against trained books). */
  private[queries] def pqDistortion(s: SparkSession, d: String,
      cb: Seq[Seq[Seq[Double]]]): Double = {
    val (dims, _) = pqArtifacts(s, d)
    val coded = withPqCodes(unitVectors(s, d).select(col("vec_id"), col("ue")),
      dims, cb)
    val tot = dims.indices.map(j => col(s"cerr$j")).reduce(_ + _)
    val r = coded.agg(sum(floor(tot * lit(MeanScale)).cast("long")).as("efp"),
      count(lit(1)).as("n")).head()
    r.getLong(0).toDouble / MeanScale / r.getLong(1).toDouble
  }

  /** The ADC top-3 body over an arbitrary (vec_id, ue) frame — raw unit
    * vectors for [[pqTop3]] (the oracled q240/q241 path), OPQ-ROTATED
    * unit vectors for the learned-rotation arm ([[trainOpq]] — rotation
    * preserves dots, so the same search runs unchanged in the rotated
    * space). Queries are the vec_id < 8 split of the frame itself. */
  private[queries] def adcTop3(frame: DataFrame, dims: Seq[Seq[Int]],
      cb: Seq[Seq[Seq[Double]]]): DataFrame = {
    val coded = withPqCodes(frame.select(col("vec_id"), col("ue")), dims, cb)
      .select(col("vec_id").as("neighbor_id"),
        array(dims.indices.map(j => col(s"code$j")): _*).as("cd"))
    val q = withPqSubvectors(
        frame.filter(col("vec_id") < 8).select(col("vec_id"), col("ue")), dims)
      .select(col("vec_id").as("query_id"),
        array(dims.indices.map { j =>
          // LUT over exactly the codewords the book has (see withPqCodes)
          transform(sequence(lit(0), lit(cb(j).size - 1)), c =>
            call_function("graft_dot", col(s"pv$j"),
              element_at(typedlit(cb(j)), c + lit(1))))
        }: _*).as("lut"))
    val scored = broadcast(q)
      .join(coded, col("query_id") =!= col("neighbor_id"))
      .withColumn("adc_cos", expr(
        s"aggregate(sequence(0, ${PqM - 1}), cast(0.0 as double), " +
          "(acc, j) -> acc + lut[j][cd[j]])"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_cos").desc, col("neighbor_id"))
    scored.withColumn("rnk", rank().over(w)).filter(col("rnk") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("adc_cos"),
        col("rnk").cast("int").as("rnk"))
  }

  /** The ADC top-3 search both q240 and q241 rank (q32's broadcast-query
    * shape over the codes table). `cbOverride` lets the spec drive the
    * SAME search with Lloyd-trained books; the oracled queries keep the
    * seed books. */
  private[queries] def pqTop3(s: SparkSession, d: String,
      cbOverride: Option[Seq[Seq[Seq[Double]]]] = None): DataFrame = {
    val (dims, seedCb) = pqArtifacts(s, d)
    adcTop3(unitVectors(s, d), dims, cbOverride.getOrElse(seedCb))
  }

  private def q240(s: SparkSession, d: String): DataFrame =
    pqTop3(s, d).orderBy("query_id", "rnk", "neighbor_id")

  /** Shared oracle CTE chain: permutation → sub-vectors → seed
    * sub-codebooks → codes (argmin L2², ties to smaller cid) → query
    * LUTs → subspace-ordered ADC fold → RANK ≤ 3. */
  private def pqCtes: String =
    s"""e AS (
      |  SELECT vec_id, embedding,
      |    sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
      |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) AS nrm
      |  FROM embeddings),
      |u AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS ue FROM e),
      |dimspine AS (
      |  SELECT unnest(generate_series(1, (SELECT MAX(len(ue)) FROM u))) AS p),
      |m2 AS (
      |  SELECT p, CAST(SUM(CAST(floor(ue[p] * ue[p] * 67108864.0) AS BIGINT)) AS BIGINT) AS s2
      |  FROM u CROSS JOIN dimspine GROUP BY p),
      |rankeddim AS (
      |  SELECT p, ROW_NUMBER() OVER (ORDER BY s2 DESC, p) - 1 AS r FROM m2),
      |dl AS (
      |  SELECT CAST(r % $PqM AS INTEGER) AS sub, list(p ORDER BY r) AS dims
      |  FROM rankeddim GROUP BY r % $PqM),
      |pv AS (
      |  SELECT u.vec_id, dl.sub, list_transform(dl.dims, ix -> u.ue[ix]) AS pv
      |  FROM u CROSS JOIN dl),
      |cent AS (
      |  SELECT t.cid, p.sub, p.pv AS cv
      |  FROM (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid
      |        FROM u WHERE vec_id < $PqKsub) t
      |  JOIN pv p ON p.vec_id = t.vec_id),
      |d2t AS (
      |  SELECT p.vec_id, p.sub, c.cid,
      |    list_reduce(list_prepend(0.0, list_transform(list_zip(p.pv, c.cv),
      |      z -> (z[1] - z[2]) * (z[1] - z[2]))), (a, b) -> a + b) AS d2
      |  FROM pv p JOIN cent c ON c.sub = p.sub),
      |codes AS (
      |  SELECT vec_id, sub, cid AS code, d2 FROM (
      |    SELECT vec_id, sub, cid, d2,
      |      ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
      |    FROM d2t) t WHERE rn = 1),
      |lut AS (
      |  SELECT p.vec_id AS query_id, c.sub, c.cid,
      |    list_reduce(list_prepend(0.0, list_transform(list_zip(p.pv, c.cv),
      |      z -> z[1] * z[2])), (a, b) -> a + b) AS dotv
      |  FROM pv p JOIN cent c ON c.sub = p.sub
      |  WHERE p.vec_id < 8),
      |contrib AS (
      |  SELECT l.query_id, c.vec_id AS neighbor_id, c.sub, l.dotv
      |  FROM codes c JOIN lut l ON l.sub = c.sub AND l.cid = c.code
      |  WHERE l.query_id <> c.vec_id),
      |score AS (
      |  SELECT query_id, neighbor_id,
      |    list_reduce(list_prepend(0.0, list(dotv ORDER BY sub)), (a, b) -> a + b) AS adc_cos
      |  FROM contrib GROUP BY query_id, neighbor_id),
      |pq3 AS (
      |  SELECT query_id, neighbor_id, adc_cos, rnk FROM (
      |    SELECT query_id, neighbor_id, adc_cos,
      |      CAST(RANK() OVER (PARTITION BY query_id ORDER BY adc_cos DESC, neighbor_id) AS INTEGER) AS rnk
      |    FROM score) t WHERE rnk <= 3)""".stripMargin

  private def q240Sql: String =
    s"""WITH $pqCtes
       |SELECT query_id, neighbor_id, adc_cos, rnk FROM pq3
       |ORDER BY query_id, rnk, neighbor_id""".stripMargin

  /** q241 — PQ recall/distortion card (the q213 audited-knob idiom):
    * recall@3 of the ADC search against q32's exact cosine top-3 on the
    * same queries and tie-rule, mean per-vector quantization error
    * (subspace-ordered sum, corpus mean via the dyadic fixed-point
    * accumulator — no IEEE accumulation order), and codebook occupancy
    * (distinct (sub, code) pairs used vs m·ksub) — the number that says
    * whether ksub was sized to the corpus. All joins are
    * 8-query-bounded or (sub, code)-keyed; the card is ≤ 1 row. */
  private def q241(s: SparkSession, d: String): DataFrame = {
    val (dims, cb) = pqArtifacts(s, d)
    val u = unitVectors(s, d)
    val coded = withPqCodes(u.select(col("vec_id"), col("ue")), dims, cb)
      .localCheckpoint(true) // consumers: error card + occupancy
    val totErr = dims.indices.map(j => col(s"cerr$j")).reduce(_ + _)
    val err = coded.agg(
      sum(floor(totErr * lit(MeanScale)).cast("long")).as("efp"),
      count(lit(1)).as("n_vectors"))
    val used = coded
      .select(posexplode(array(dims.indices.map(j => col(s"code$j")): _*))
        .as(Seq("sub", "code")))
      .agg(countDistinct(col("sub"), col("code")).as("codes_used"))
    val exact3 = {
      val q = u.filter(col("vec_id") < 8)
        .select(col("vec_id").as("query_id"), col("ue").as("qu"))
      val c = u.select(col("vec_id").as("neighbor_id"), col("ue").as("cu"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(expr("graft_dot(qu, cu)").desc, col("neighbor_id"))
      broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
        .withColumn("rnk", rank().over(w)).filter(col("rnk") <= 3)
        .select(col("query_id"), col("neighbor_id"))
    }
    val overlap = pqTop3(s, d).select(col("query_id"), col("neighbor_id"))
      .join(exact3, Seq("query_id", "neighbor_id"))
      .agg(count(lit(1)).as("overlap"))
    val nq = u.filter(col("vec_id") < 8)
      .agg(count(lit(1)).as("n_queries"))
    Seq(used, overlap, nq).foldLeft(err)(graft.Scalars.withScalar)
      .select(col("n_vectors"), col("n_queries"),
        (col("overlap").cast("double") /
          (lit(3.0) * col("n_queries").cast("double"))).as("recall_at3"),
        (col("efp").cast("double") / lit(MeanScale) /
          col("n_vectors").cast("double")).as("mean_code_err"),
        col("codes_used"), lit(PqM * PqKsub).as("codes_total"))
  }
  // toterr's CASE chain and codes_total are INTERPOLATED from PqM/PqKsub
  // (the q242Sql MaxLanes discipline) — the chain folds left like the
  // Spark side's dims.indices.map(cerr).reduce(_ + _), so changing either
  // constant keeps oracle parity instead of silently breaking it.
  private def pqToterrSql: String =
    (0 until PqM).map(j => s"MAX(CASE WHEN sub = $j THEN d2 END)")
      .reduce((a, b) => s"($a + $b)")
  private def q241Sql: String =
    s"""WITH $pqCtes,
       |verr AS (
       |  SELECT vec_id,
       |    $pqToterrSql AS toterr
       |  FROM codes GROUP BY vec_id),
       |errfp AS (
       |  SELECT CAST(SUM(CAST(floor(toterr * 67108864.0) AS BIGINT)) AS BIGINT) AS efp,
       |    CAST(COUNT(*) AS BIGINT) AS n_vectors
       |  FROM verr),
       |used AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS codes_used
       |  FROM (SELECT DISTINCT sub, code FROM codes)),
       |ex3 AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |      RANK() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_reduce(list_prepend(0.0, list_transform(list_zip(q.ue, c.ue),
       |          z -> z[1] * z[2])), (a, b) -> a + b) DESC, c.vec_id) AS rnk
       |    FROM (SELECT vec_id, ue FROM u WHERE vec_id < 8) q
       |    JOIN u c ON q.vec_id <> c.vec_id) t
       |  WHERE rnk <= 3),
       |ov AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS overlap
       |  FROM pq3 JOIN ex3 USING (query_id, neighbor_id)),
       |nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM u WHERE vec_id < 8)
       |SELECT e.n_vectors, nq.n_queries,
       |  CAST(ov.overlap AS DOUBLE) / (3.0 * CAST(nq.n_queries AS DOUBLE)) AS recall_at3,
       |  CAST(e.efp AS DOUBLE) / 67108864.0 / CAST(e.n_vectors AS DOUBLE) AS mean_code_err,
       |  used.codes_used, CAST(${PqM * PqKsub} AS INTEGER) AS codes_total
       |FROM errfp e, used, ov, nq""".stripMargin

  // ------------------------------------------- learned-rotation OPQ (spec)

  /** Parametric OPQ (Ge, He, Ke & Sun 2013, "Optimized Product
    * Quantization", §4 — the Gaussian-assumption closed form): learn a
    * FULL orthogonal rotation R from the corpus second-moment structure,
    * allocate principal directions to the m subspaces by EIGENVALUE
    * ALLOCATION (balance the per-subspace variance product), then Lloyd
    * sub-codebooks in the rotated space. This is the "next rung" the
    * q240 scaladoc ladder names above the permutation arm: a permutation
    * is OPQ restricted to axis swaps; the learned R also MIXES
    * dimensions, so correlated coordinates land in the same subspace and
    * the product-quantizer independence assumption gets closer to true.
    *
    * Division of labor (the q52 / trainPqCodebooks seed-vs-trained
    * discipline): the ORACLED queries q240/q241/q243/q244 keep the
    * SQL-restatable permutation arm; the learned rotation is the
    * spec-owned production rung (OpqSpec pins orthogonality, dot
    * preservation, distortion ≤ the permutation arm under the same Lloyd
    * budget, drop-in ADC, and bit-determinism).
    *
    * TRAINING — block subspace iteration on the uncentered second-moment
    * operator A = Σᵢ ueᵢ·ueᵢᵀ (PQ quantizes ue itself and ADC scores raw
    * dots, so the moment about the ORIGIN — not the covariance — is the
    * distortion-relevant operator; for unit vectors trace(A) = n, the
    * spec's mass-conservation pin). Each iteration is ONE corpus pass
    * (the q221 matvec discipline generalized from 1 to d directions):
    * row-locally score sₖ = ue·vₖ against the literal V, hash-aggregate
    * floor(ue_pos·sₖ·2²⁶) keyed by (k, pos) — dyadic fixed point, exact,
    * partitioning/AQE-proof — then re-orthonormalize the d×d result
    * driver-side by modified Gram-Schmidt (deterministic: no RNG, seed
    * V₀ = I, rank-deficiency falls back to the smallest canonical basis
    * vector with a non-degenerate residual, so R is ALWAYS full-rank
    * orthogonal). Driver state is d² doubles; iteration cost O(n·d²) —
    * the same asymptotic as encoding itself, and 1/T of running q221's
    * single-direction loop d times with deflation.
    *
    * 100 TB shape: T corpus passes total (T = `iters`, not d·T); the
    * (k, pos) aggregation carries d² ≤ 4096-at-dim-64 keys with map-side
    * combine; nothing corpus-proportional ever reaches the driver. */
  private[queries] def trainOpqRotation(s: SparkSession, d: String,
      iters: Int = 4): (Seq[Seq[Double]], Seq[Double]) =
    trainRotation(unitVectors(s, d).select(col("ue")), iters)

  /** The subspace-iteration loop itself, over an arbitrary frame with an
    * `ue` array column — raw unit vectors for [[trainOpqRotation]], IVF
    * cell RESIDUALS for [[addPqToSemIndex]]'s learned-rotation arm (the
    * refinePqBooks frame-generic discipline). For non-unit inputs Σλ =
    * trace = Σ‖x‖², not n; the allocation only reads relative λ. */
  private[queries] def trainRotation(frame: DataFrame,
      iters: Int): (Seq[Seq[Double]], Seq[Double]) = {
    val u = frame.select(col("ue"))
    // collect-bound: groupless aggregate — 1 row (corpus dimensionality)
    val dim = u.agg(coalesce(max(size(col("ue"))), lit(0)).as("d"))
      .collect()(0).getInt(0)
    if (dim == 0) return (Seq.empty, Seq.empty)
    // Modified Gram-Schmidt with canonical-basis fallback: always
    // returns an orthonormal set of `dim` rows (driver-side, d² state).
    def orthonormalize(rows: Seq[Seq[Double]]): Seq[Seq[Double]] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[Seq[Double]]
      def residual(x: Seq[Double]): Seq[Double] =
        out.foldLeft(x) { (w, q) =>
          val p = w.zip(q).foldLeft(0e0)((a, z) => a + z._1 * z._2)
          w.zip(q).map { case (wi, qi) => wi - p * qi }
        }
      rows.foreach { r =>
        var w = residual(r)
        var nrm = math.sqrt(w.foldLeft(0e0)((a, e) => a + e * e))
        if (nrm <= 1e-9) {
          // rank-deficient direction: smallest canonical eₚ that keeps R
          // full rank (its residual against the found set is non-tiny)
          val p = (0 until dim).find { i =>
            val e = Seq.tabulate(dim)(j => if (j == i) 1e0 else 0e0)
            val res = residual(e)
            math.sqrt(res.foldLeft(0e0)((a, x) => a + x * x)) > 1e-6
          }.getOrElse(0)
          w = residual(Seq.tabulate(dim)(j => if (j == p) 1e0 else 0e0))
          nrm = math.sqrt(w.foldLeft(0e0)((a, e) => a + e * e))
        }
        out += w.map(_ / nrm)
      }
      out.toSeq
    }
    var v: Seq[Seq[Double]] =
      Seq.tabulate(dim, dim)((i, j) => if (i == j) 1e0 else 0e0)
    for (_ <- 1 to iters) {
      val yfp = u
        .select(col("ue"), transform(typedlit(v),
          r => call_function("graft_dot", col("ue"), r)).as("sv"))
        .select(posexplode(col("ue")).as(Seq("pos", "cv")), col("sv"))
        .select(col("pos"), col("cv"),
          posexplode(col("sv")).as(Seq("k", "sk")))
        .groupBy(col("k"), col("pos"))
        .agg(sum(floor(col("cv") * col("sk") * lit(MeanScale)).cast("long"))
          .as("yfp"))
        // collect-bound: one row per (direction, position) — ≤ d² rows
        .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
      val y = Seq.tabulate(dim, dim)((k, p) =>
        yfp.getOrElse((k, p), 0L).toDouble / MeanScale)
      v = orthonormalize(y)
    }
    // Rayleigh eigenvalues λₖ = vₖᵀA·vₖ = Σᵢ (ueᵢ·vₖ)² — one final
    // fixed-point pass; Σλₖ = trace(A) = n for unit vectors.
    val lamFp = u
      .select(posexplode(transform(typedlit(v), r => {
        val s0 = call_function("graft_dot", col("ue"), r); s0 * s0
      })).as(Seq("k", "s2")))
      .groupBy(col("k"))
      .agg(sum(floor(col("s2") * lit(MeanScale)).cast("long")).as("lfp"))
      // collect-bound: one row per direction — ≤ d rows
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val lams = Seq.tabulate(dim)(k =>
      lamFp.getOrElse(k, 0L).toDouble / MeanScale)
    (v, lams)
  }

  /** Eigenvalue allocation (Ge et al. 2013 §4.2): deal the rotated
    * coordinates (= principal directions) to the m subspaces so the
    * per-subspace variance PRODUCTS balance — sort by λ descending,
    * greedily give each to the not-yet-full subspace with the smallest
    * log-product. Subspace capacities match the permutation arm's
    * (so distortion comparisons are like-for-like); within a subspace
    * the coordinates sort ascending for a stable sub-vector layout. */
  private[queries] def opqAllocate(lams: Seq[Double]): Seq[Seq[Int]] = {
    val caps = Array.tabulate(PqM)(j => lams.indices.count(_ % PqM == j))
    val logp = Array.fill(PqM)(0e0)
    val used = Array.fill(PqM)(0)
    val out = Array.fill(PqM)(Vector.empty[Int])
    lams.zipWithIndex.sortBy { case (l, i) => (-l, i) }.foreach {
      case (l, i) =>
        val j = (0 until PqM).filter(jj => used(jj) < caps(jj))
          .minBy(jj => (logp(jj), jj))
        out(j) :+= i
        used(j) += 1
        // Portable ln (not Math.log): the q255 oracle restates this
        // greedy fold, and a last-ulp log disagreement between the JVM
        // and DuckDB's libm could flip a near-tie allocation.
        logp(j) += LmOps.lnPosDriver(math.max(l, 1e-12))
    }
    out.map(_.sorted: Seq[Int]).toSeq
  }

  /** Rotate a (vec_id, ue) frame into the learned basis — row-local
    * (literal R, codegen'd graft_dot per output coordinate); R is
    * orthogonal so ⟨Rx, Ry⟩ = ⟨x, y⟩ and rotated vectors stay unit. */
  private[queries] def opqRotate(df: DataFrame,
      rot: Seq[Seq[Double]]): DataFrame =
    df.withColumn("ue", transform(typedlit(rot),
      r => call_function("graft_dot", col("ue"), r)))

  /** The full learned-rotation OPQ trainer: rotation + eigenvalue
    * allocation + Lloyd sub-codebooks in the rotated space (seeds =
    * first-ksub rotated vectors, the pqArtifacts discipline). Returns
    * (R, λ, subspace allocation, books); search = [[adcTop3]] over
    * [[opqRotate]]d frames with these artifacts. */
  private[queries] def trainOpq(s: SparkSession, d: String,
      rotIters: Int = 4, lloydIters: Int = 1):
      (Seq[Seq[Double]], Seq[Double], Seq[Seq[Int]], Seq[Seq[Seq[Double]]]) = {
    val (rot, lams) = trainOpqRotation(s, d, rotIters)
    val dims = opqAllocate(lams)
    val rotated = opqRotate(
      unitVectors(s, d).select(col("vec_id"), col("ue")), rot)
      .localCheckpoint(true) // consumers: seeds + Lloyd passes
    // collect-bound: seed rows vec_id < ksub — ≤ 16 rows
    val seeds = rotated.filter(col("vec_id") < PqKsub)
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    val seedCb: Seq[Seq[Seq[Double]]] =
      dims.map(dj => seeds.map { case (_, ue) => dj.map(ue(_)).toSeq }.toSeq)
    val cb = refinePqBooks(rotated, dims, seedCb, lloydIters)
    (rot, lams, dims, cb)
  }

  /** Corpus-mean total quantization error of an arbitrary (vec_id, ue)
    * frame under the given decomposition — [[pqDistortion]] generalized
    * so the permutation arm and the rotated arm measure through the
    * SAME code path (OpqSpec's like-for-like comparison). */
  private[queries] def frameDistortion(frame: DataFrame, dims: Seq[Seq[Int]],
      cb: Seq[Seq[Seq[Double]]]): Double = {
    val coded = withPqCodes(frame.select(col("vec_id"), col("ue")), dims, cb)
    val tot = dims.indices.map(j => col(s"cerr$j")).reduce(_ + _)
    val r = coded.agg(sum(floor(tot * lit(MeanScale)).cast("long")).as("efp"),
      count(lit(1)).as("n")).head()
    r.getLong(0).toDouble / MeanScale / r.getLong(1).toDouble
  }

  // ------------------------------------------------------------ q243/q244

  /** IVFADC — the composed billion-scale ANN index (Jégou, Douze &
    * Schmid 2011 §IV: IVF coarse quantizer + product quantization of the
    * CELL RESIDUALS, searched with an asymmetric distance computation
    * over only the probed cells' codes). Rounds 11-14 proved the three
    * parts separately — q52's coarse cells, q240's PQ, IndexStore's
    * bucketed persistence; this section composes them into the one
    * deployable artifact a production vector store actually ships:
    *
    *  - BUILD ([[addPqToSemIndex]]): on top of an existing semantic
    *    index (buildSemIndex's centroids + cell-bucketed `vectors`),
    *    compute each indexed vector's residual r = ue − c_cell, derive
    *    the variance-balanced dimension permutation from the RESIDUAL
    *    second moments (the q240 dyadic fixed-point idiom — both engines
    *    derive the identical permutation), seed m sub-codebooks from the
    *    ZERO codeword + the first ksub−1 NON-CENTROID residuals in
    *    vec_id order — the k smallest base ids ARE the centroids, so
    *    their residuals are zero and seeding from them would collapse
    *    every codeword to zero and ADC to coarse-only scoring
    *    (SQL-restatable; Lloyd refinement via [[refinePqBooks]] is the
    *    spec-owned production rung, the q52 seed-vs-trained
    *    discipline), and commit the permutation and books
    *    (driver-literal-sized metadata) in the pq kind's manifest entry
    *    beside the `codes` table — (vec_id, cell, code0..m−1), ~m bytes
    *    of payload per vector vs d·4 for floats — an IndexStore EXTERNAL
    *    BUCKETED table on `cell`, the probe-join key.
    *  - PROBE ([[probeIvfAdcTop3]]): a query ranks the ≤k centroids
    *    row-locally (literal codebook, no crossJoin), keeps its top
    *    [[IvfAdcNprobe]] (cell, coarse-dot) pairs, builds its m×ksub ADC
    *    LUT once (LUT_j[c] = ⟨q_subvec_j, cb_j[c]⟩ — the FULL query
    *    sub-vector, not a residual: ⟨q, c + r̃⟩ = ⟨q, c⟩ + ⟨q, r̃⟩, so
    *    approx cosine = coarse + Σ_j LUT_j[code_j] with zero per-cell
    *    LUT work), then joins the exploded probe cells against the
    *    codes table. The index side arrives bucket-partitioned on
    *    `cell` — no index-side Exchange even under forced shuffle joins
    *    (IndexColocationSpec's ivfadc arm) — and the per-candidate work
    *    is m lookup-adds over the 64×-smaller codes artifact.
    *  - LIFECYCLE: [[appendToSemIndex]] encodes novel vectors with the
    *    FROZEN permutation + codebooks (index metadata ages like the
    *    centroids and τ — recalibrated offline, never drifted online);
    *    [[IndexStore.tombstone]] takedowns suppress code rows at the next probe
    *    and [[compactSemIndex]] physically removes them in the same
    *    locked pass that compacts `vectors` (IvfAdcSpec pins all three).
    *
    * Oracle parity mechanics are the q211 + q240 chains composed:
    * residual subtraction is an element-ordered zip in both engines,
    * moments/means are dyadic fixed-point BIGINTs, argmin ties go to the
    * smaller code id, the ADC sum is coarse + a subspace-ordered fold —
    * scores hash-match, not just ranks. q243 probes the held-out split
    * (vec_id % 5 = 0, < [[IvfAdcQueryBound]]) through the PERSISTED
    * artifact; q244 is its recall/distortion/occupancy card vs the exact
    * within-split top-3.
    *
    * Scale shape: build is one residual pass + one (pos)-keyed and one
    * (code, pos)-keyed hash agg (collects ≤ dim + m·ksub rows); probe
    * work ∝ |Q| · (nprobe cells' occupancy) · m; nothing anywhere is
    * all-pairs or corpus-collected. */
  private val IvfAdcNprobe = 2
  private val IvfAdcQueryBound = 40

  /** Residual frame (vec_id, cell, ue := unit vector − own-cell
    * centroid) of a persisted semantic index — the PQ training/encoding
    * input. Centroid side is ≤ k rows, broadcast. */
  private[queries] def semResiduals(s: SparkSession, dir: String): DataFrame =
    IndexStore.read(s, dir, "vectors")
      .join(broadcast(centroidFrame(s, dir)), col("cell") === col("cid"))
      .select(col("vec_id"), col("cell"),
        zip_with(col("ue"), col("cu"), (a, b) => a - b).as("ue"))

  /** Extend a built semantic index with the IVFADC artifacts: residual
    * permutation + sub-codebooks (the pq kind's `pqDims`/`pqBooks` in
    * the manifest) and the cell-bucketed `codes` table. The oracled q243
    * build passes `lloydIters = 1` (one refinement round, restated in [[ivfAdcCtes]]
    * as unrolled CTEs); production sizes the budget freely
    * ([[refinePqBooks]]).
    *
    * `learnedRotation = true` composes the OPQ trainer into the
    * deployable artifact (the spec-owned rung — the oracled q243/q244/
    * q247 keep the permutation build): residuals are rotated into the
    * basis [[trainRotation]] learns from THEIR second moments, subspaces
    * come from [[opqAllocate]] over the residual eigenvalues, and the
    * rotation is committed as `pqRotation` beside the books — probes
    * rotate the QUERY once per query (⟨q, r⟩ = ⟨Rq, Rr⟩, so the LUT is
    * built from the rotated query against codewords living in the
    * rotated space; the coarse ⟨q, c⟩ term keeps the raw query). Appends
    * encode with the frozen rotation exactly like the frozen books.
    *
    * `attrs` (vec_id → label) BAKES a filter attribute into the codes
    * rows at build time — +4 bytes beside the m code bytes per vector —
    * which is what makes q249's pre-filter arm JOIN-FREE: at 100 TB a
    * candidates-sized attribute join is the filtered probe's dominant
    * cost, while a baked column rides the codes scan for nothing. The
    * attribute ages like every other index artifact (frozen at build,
    * appended rows bake their own value or NULL when the ingest doesn't
    * carry one — NULL never matches a filter, the conservative
    * verdict). */
  private[graft] def addPqToSemIndex(s: SparkSession, dir: String,
      lloydIters: Int = 0, learnedRotation: Boolean = false,
      attrs: Option[DataFrame] = None, rotIters: Int = 4): Unit =
    IndexStore.build(s, dir, "pq") {
      val resid0 = semResiduals(s, dir)
        .localCheckpoint(true) // consumers: rotation/moments + seeds + codes
      val rotOpt: Option[(Seq[Seq[Double]], Seq[Double])] =
        if (learnedRotation) Some(trainRotation(resid0, iters = rotIters))
        else None
      val resid = rotOpt.fold(resid0) { case (r, _) =>
        opqRotate(resid0, r).localCheckpoint(true) // same consumers, rotated
      }
      val dims: Seq[Seq[Int]] = rotOpt match {
        case Some((_, lams)) => opqAllocate(lams)
        case None =>
          // collect-bound: one row per embedding dimension — ≤ dim rows
          val ranked = resid.select(posexplode(col("ue")).as(Seq("pos", "v")))
            .groupBy(col("pos"))
            .agg(sum(floor(col("v") * col("v") * lit(MeanScale)).cast("long"))
              .as("s2"))
            .collect().map(r => (r.getInt(0), r.getLong(1)))
            .sortBy { case (p, s2) => (-s2, p) }
          (0 until PqM).map(j =>
            ranked.indices.collect { case r if r % PqM == j => ranked(r)._1 }.toSeq)
      }
      // Seed books: the ZERO codeword + the first ksub−1 NON-CENTROID
      // residuals by vec_id. The k smallest base vec_ids ARE the seed
      // centroids (buildSemIndex), so their residuals are exactly zero —
      // naively seeding from the first ksub rows would make every codeword
      // the zero vector and collapse ADC to coarse-only scoring (the
      // degeneracy IvfAdcSpec's codes_used pin now guards). Codeword 0
      // stays the zero vector on purpose: centroid-exact vectors encode to
      // it with zero error, preserving the ADC identity tests.
      val k = centroidRows(s, dir).size
      // collect-bound: k + ksub − 1 rows — k ∝ √n, the centroid-collect bound
      val seedRows: Seq[Seq[Double]] = resid.select(col("vec_id"), col("ue"))
        .orderBy(col("vec_id")).limit(k + PqKsub - 1)
        .collect().drop(k).map(_.getSeq[Double](1).toSeq).toSeq
      val seedCb: Seq[Seq[Seq[Double]]] =
        dims.map(dj => Seq.fill(dj.size)(0.0) +: seedRows.map(re => dj.map(re(_)).toSeq))
      val cb = refinePqBooks(resid.select(col("vec_id"), col("ue")), dims,
        seedCb, lloydIters)
      val codes0 = withPqCodes(resid, dims, cb)
        .select(col("vec_id") +: col("cell") +:
          dims.indices.map(j => col(s"code$j")): _*)
      val codes = attrs.fold(codes0)(a => codes0.join(
        a.select(col("vec_id"), col("label").cast("int").as("label")),
        Seq("vec_id"), "left"))
      val codesT = IndexStore.write(codes, dir, "codes", Seq("cell"))
      IndexStore.Kind(Map(codesT), pqDims = dims, pqBooks = cb,
        pqRotation = rotOpt.map(_._1))
    }

  /** (permutation/allocation, sub-codebooks, optional learned rotation)
    * of a committed IVFADC index, from the manifest. A small corpus can
    * carry fewer than ksub codewords per sub (the zero codeword + the
    * non-centroid seeds it had). */
  private def loadPqMeta(s: SparkSession, dir: String):
      (Seq[Seq[Int]], Seq[Seq[Seq[Double]]], Option[Seq[Seq[Double]]]) = {
    val k = IndexStore.kind(s, dir, "pq")
    (k.pqDims, k.pqBooks, k.pqRotation)
  }

  /** The index's residuals in its CODING basis (rotated when built with
    * the learned rotation) with code/cerr columns attached — shared by
    * the q244 card and [[ivfAdcDistortion]]. */
  private def encodedResiduals(s: SparkSession, dir: String,
      dims: Seq[Seq[Int]], cb: Seq[Seq[Seq[Double]]],
      rot: Option[Seq[Seq[Double]]]): DataFrame =
    withPqCodes(rot.fold(semResiduals(s, dir))(r =>
      opqRotate(semResiduals(s, dir), r)), dims, cb)

  /** Corpus-mean residual quantization error of a persisted IVFADC index
    * under its own persisted books (the q244 metric; PqSpec-style
    * monotonicity checks compare seed vs Lloyd builds through it). */
  private[queries] def ivfAdcDistortion(s: SparkSession, dir: String): Double = {
    val (dims, cb, rot) = loadPqMeta(s, dir)
    val coded = encodedResiduals(s, dir, dims, cb, rot)
    val tot = dims.indices.map(j => col(s"cerr$j")).reduce(_ + _)
    val r = coded.agg(sum(floor(tot * lit(MeanScale)).cast("long")).as("efp"),
      count(lit(1)).as("n")).head()
    r.getLong(0).toDouble / MeanScale / r.getLong(1).toDouble
  }

  private[graft] def hasPq(s: SparkSession, dir: String): Boolean =
    IndexStore.has(s, dir, "pq")

  /** The full ADC-scored candidate frame (query_id, neighbor_id,
    * adc_cos) of a batch against a persisted IVFADC index — every
    * (query, probed-cell occupant) pair, BEFORE the top-k cut. Shared by
    * [[probeIvfAdcTop3]] (ranks it) and q247's sweep card (counts it:
    * the frame's size IS the per-nprobe scored-pair work). */
  private[queries] def ivfAdcScoredCands(s: SparkSession, batch: DataFrame,
      dir: String, nprobe: Int): DataFrame =
    ivfAdcScoredRanked(s, batch, dir, nprobe).drop("cell_rank")

  /** [[ivfAdcScoredCands]] with the probed cell's RANK (1 = the query's
    * best coarse cell) kept on every candidate row — the hybrid probe
    * seeds one graph beam per probed cell at that cell's ADC argmax, so
    * it needs to know which cell a candidate came from; the plain
    * ADC consumers drop the column. */
  private[queries] def ivfAdcScoredRanked(s: SparkSession, batch: DataFrame,
      dir: String, nprobe: Int): DataFrame = {
    val cRows: Seq[Seq[Double]] = centroidRows(s, dir)
    val (dims, cb, rot) = loadPqMeta(s, dir)
    val sc = sortedCells(typedlit(cRows), cRows.size)
    // Learned-rotation index: the LUT gathers from the ROTATED query
    // (⟨q, r⟩ = ⟨Rq, Rr⟩ — codewords live in the rotated space), the
    // coarse ⟨q, c⟩ ranking keeps the raw query. One rotation per query.
    val qFrame = rot.fold(withPqSubvectors(unitize(batch), dims)) { r =>
      withPqSubvectors(
        unitize(batch).withColumn("uer", transform(typedlit(r),
          rr => call_function("graft_dot", col("ue"), rr))),
        dims, src = "uer")
    }
    val probes = qFrame
      .select(col("vec_id").as("query_id"),
        posexplode(slice(sc, 1, nprobe)).as(Seq("pos", "pc")),
        array(dims.indices.map { j =>
          // LUT over exactly the codewords the book has (see withPqCodes)
          transform(sequence(lit(0), lit(cb(j).size - 1)), c =>
            call_function("graft_dot", col(s"pv$j"),
              element_at(typedlit(cb(j)), c + lit(1))))
        }: _*).as("lut"))
      .select(col("query_id"), (col("pos") + 1).as("cell_rank"),
        col("pc")("cid").cast("bigint").as("cell"),
        col("pc")("cc").as("coarse"), col("lut"))
    val codesDf = IndexStore.dropTombstoned(
      IndexStore.read(s, dir, "codes"),
      "vec_id", IndexStore.tombstones(s, dir))
    // A baked filter attribute (see addPqToSemIndex) rides the codes
    // scan into the candidate frame — downstream filtered probes read
    // it for free instead of paying a candidates-sized attribute join.
    val baked =
      if (codesDf.columns.contains("label")) Seq(col("label")) else Nil
    val idx = codesDf
      .select(Seq(col("cell"), col("vec_id").as("neighbor_id"),
        array(dims.indices.map(j => col(s"code$j")): _*).as("cd")) ++
        baked: _*)
    probes.join(idx, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc_cos", col("coarse") + expr(
        s"aggregate(sequence(0, ${PqM - 1}), cast(0.0 as double), " +
          "(acc, j) -> acc + lut[j][cd[j]])"))
      .select(Seq(col("query_id"), col("cell_rank"), col("neighbor_id"),
        col("adc_cos")) ++ baked: _*)
  }

  /** [[ivfAdcScoredCands]] at every nprobe of `nprobes` from ONE scoring
    * at the largest: (nprobe, query_id, neighbor_id, adc_cos). Arm np is
    * its cell_rank ≤ np prefix — the same top-np probed cells, so exactly
    * an nprobe-np scoring's rows, every adc_cos bit-identical. */
  private[queries] def ivfAdcNprobeArms(s: SparkSession, batch: DataFrame,
      dir: String, nprobes: Seq[Int]): DataFrame =
    ivfAdcScoredRanked(s, batch, dir, nprobes.max)
      .localCheckpoint(true) // consumers: every arm's prefix
      .select(explode(typedlit(nprobes.toList)).as("nprobe"),
        col("query_id"), col("cell_rank"), col("neighbor_id"), col("adc_cos"))
      .filter(col("cell_rank") <= col("nprobe"))
      .drop("cell_rank")

  /** ADC top-3 of a query batch against a persisted IVFADC index:
    * (query_id, neighbor_id, adc_cos, rnk), unordered. Tombstoned base
    * vectors are invisible (the probeSemIndex discipline). */
  private[graft] def probeIvfAdcTop3(s: SparkSession, batch: DataFrame,
      dir: String, nprobe: Int = IvfAdcNprobe): DataFrame = {
    val scored = ivfAdcScoredCands(s, batch, dir, nprobe)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_cos").desc, col("neighbor_id"))
    scored.withColumn("rnk", rank().over(w)).filter(col("rnk") <= 3)
      .select(col("query_id"), col("neighbor_id"), col("adc_cos"),
        col("rnk").cast("int").as("rnk"))
  }

  /** The shared q243/q244 IVFADC index: the q211 semantic index extended
    * with PQ artifacts, once per (session, corpus). */
  private val ivfadcCache = new graft.SessionCache[String]
  private def builtIvfAdc(s: SparkSession, d: String): String =
    ivfadcCache.getOrBuild(s, d) {
      val dir = builtSemIndex(s, d)
      // One Lloyd round over the seed books, restated in the oracle as
      // the unrolled rcodes0 → per-(sub, code, pos) fixed-point mean →
      // rcent chain (the q215 unrolled-iteration discipline): seed
      // residual books on synthetic corpora are weak enough that raw-seed
      // ADC ranks WORSE than coarse-only ties — one assignment/mean pass
      // is what makes the LUT term signal instead of noise. The label
      // column bakes into the codes rows (+4 B/vector) so q249's
      // pre-filter arm is join-free; q243/q244/q247 ignore it.
      addPqToSemIndex(s, dir, lloydIters = 1,
        attrs = Some(t(s, d, "embeddings")
          .select(col("vec_id"), col("label"))))
      dir
    }

  private def ivfAdcQueries(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") % 5 === 0 && col("vec_id") < IvfAdcQueryBound)

  private def q243(s: SparkSession, d: String): DataFrame =
    probeIvfAdcTop3(s, ivfAdcQueries(s, d), builtIvfAdc(s, d))
      .orderBy("query_id", "rnk", "neighbor_id")

  /** The residual-PQ CTE chain on top of [[semIndexCtes]] (resid →
    * permutation → sub-vectors → seed books → rcodes) plus the probe
    * side (coarse ranks, query LUT, candidate ADC scores → adc3) — the
    * SQL restatement of addPqToSemIndex + probeIvfAdcTop3. */
  private def ivfAdcCtes: String =
    s"""$semIndexCtes,
       |$ivfAdcTailCtes""".stripMargin

  /** The IVFADC chain WITHOUT the leading [[semIndexCtes]] — split out
    * so q253's hybrid oracle can compose it with [[graphTailCtes]] over
    * ONE shared sem-index chain (both artifacts ride the same index
    * dir in the engine, so the oracle restates them over the same base
    * CTEs). */
  private def ivfAdcTailCtes: String =
    s"""resid AS (
       |  SELECT a.vec_id, a.cell,
       |    list_transform(list_zip(b.ue, c.cu), z -> z[1] - z[2]) AS re
       |  FROM bassign a JOIN buni b ON b.vec_id = a.vec_id
       |  JOIN cent c ON c.cid = a.cell),
       |rdimspine AS (
       |  SELECT unnest(generate_series(1, (SELECT MAX(len(re)) FROM resid))) AS p),
       |rm2 AS (
       |  SELECT p, CAST(SUM(CAST(floor(re[p] * re[p] * 67108864.0) AS BIGINT)) AS BIGINT) AS s2
       |  FROM resid CROSS JOIN rdimspine GROUP BY p),
       |rrank AS (SELECT p, ROW_NUMBER() OVER (ORDER BY s2 DESC, p) - 1 AS r FROM rm2),
       |rdl AS (
       |  SELECT CAST(r % $PqM AS INTEGER) AS sub, list(p ORDER BY r) AS dims
       |  FROM rrank GROUP BY r % $PqM),
       |rpv AS (
       |  SELECT resid.vec_id, resid.cell, rdl.sub,
       |    list_transform(rdl.dims, ix -> resid.re[ix]) AS pv
       |  FROM resid CROSS JOIN rdl),
       |rcent0 AS (
       |  SELECT 0 AS cid, rdl.sub, list_transform(rdl.dims, ix -> 0e0) AS cv
       |  FROM rdl
       |  UNION ALL
       |  SELECT CAST(t.rn - (SELECT k FROM params) AS INTEGER) AS cid,
       |    p.sub, p.pv AS cv
       |  FROM (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
       |        FROM resid) t
       |  JOIN rpv p ON p.vec_id = t.vec_id
       |  WHERE t.rn > (SELECT k FROM params)
       |    AND t.rn <= (SELECT k FROM params) + ${PqKsub - 1}),
       |rd20 AS (
       |  SELECT p.vec_id, p.sub, c.cid,
       |    list_reduce(list_prepend(0.0, list_transform(list_zip(p.pv, c.cv),
       |      z -> (z[1] - z[2]) * (z[1] - z[2]))), (a, b) -> a + b) AS d2
       |  FROM rpv p JOIN rcent0 c ON c.sub = p.sub),
       |rcodes0 AS (
       |  SELECT vec_id, sub, cid AS code FROM (
       |    SELECT vec_id, sub, cid, d2,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
       |    FROM rd20) t WHERE rn = 1),
       |rsublen AS (SELECT sub, MAX(len(pv)) AS l FROM rpv GROUP BY sub),
       |rposs AS (SELECT sub, unnest(generate_series(1, l)) AS pos FROM rsublen),
       |rm1 AS (
       |  SELECT r.sub, r.code AS cid, s.pos,
       |    CAST(SUM(CAST(floor(p.pv[s.pos] * 67108864.0) AS BIGINT)) AS DOUBLE)
       |      / (67108864.0 * CAST(COUNT(*) AS DOUBLE)) AS m
       |  FROM rcodes0 r
       |  JOIN rpv p ON p.vec_id = r.vec_id AND p.sub = r.sub
       |  JOIN rposs s ON s.sub = r.sub
       |  GROUP BY r.sub, r.code, s.pos),
       |rcent AS (
       |  SELECT c0.sub, c0.cid, COALESCE(m.cv, c0.cv) AS cv
       |  FROM rcent0 c0 LEFT JOIN (
       |    SELECT sub, cid, list(m ORDER BY pos) AS cv FROM rm1 GROUP BY sub, cid) m
       |  ON m.sub = c0.sub AND m.cid = c0.cid),
       |rd2 AS (
       |  SELECT p.vec_id, p.cell, p.sub, c.cid,
       |    list_reduce(list_prepend(0.0, list_transform(list_zip(p.pv, c.cv),
       |      z -> (z[1] - z[2]) * (z[1] - z[2]))), (a, b) -> a + b) AS d2
       |  FROM rpv p JOIN rcent c ON c.sub = p.sub),
       |rcodes AS (
       |  SELECT vec_id, cell, sub, cid AS code, d2 FROM (
       |    SELECT vec_id, cell, sub, cid, d2,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
       |    FROM rd2) t WHERE rn = 1),
       |qv AS (SELECT vec_id, ue FROM u WHERE vec_id % 5 = 0 AND vec_id < $IvfAdcQueryBound),
       |qcc AS (
       |  SELECT q.vec_id, cent.cid,
       |    list_reduce(list_prepend(0.0, list_transform(list_zip(q.ue, cent.cu),
       |      z -> z[1] * z[2])), (a, x) -> a + x) AS cc
       |  FROM qv q CROSS JOIN cent),
       |qprobe AS (
       |  SELECT vec_id, cid AS cell, cc FROM (
       |    SELECT vec_id, cid, cc,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
       |    FROM qcc) t WHERE rn <= $IvfAdcNprobe),
       |qpv AS (
       |  SELECT q.vec_id, rdl.sub, list_transform(rdl.dims, ix -> q.ue[ix]) AS pv
       |  FROM qv q CROSS JOIN rdl),
       |qlut AS (
       |  SELECT p.vec_id AS query_id, c.sub, c.cid,
       |    list_reduce(list_prepend(0.0, list_transform(list_zip(p.pv, c.cv),
       |      z -> z[1] * z[2])), (a, b) -> a + b) AS dotv
       |  FROM qpv p JOIN rcent c ON c.sub = p.sub),
       |cand AS (
       |  SELECT p.vec_id AS query_id, p.cc AS coarse, r.vec_id AS neighbor_id
       |  FROM qprobe p
       |  JOIN (SELECT DISTINCT vec_id, cell FROM rcodes) r ON r.cell = p.cell
       |  WHERE r.vec_id <> p.vec_id),
       |contrib AS (
       |  SELECT c.query_id, c.neighbor_id, c.coarse, rc.sub, l.dotv
       |  FROM cand c JOIN rcodes rc ON rc.vec_id = c.neighbor_id
       |  JOIN qlut l ON l.query_id = c.query_id AND l.sub = rc.sub AND l.cid = rc.code),
       |ascore AS (
       |  SELECT query_id, neighbor_id,
       |    MIN(coarse) + list_reduce(list_prepend(0.0, list(dotv ORDER BY sub)),
       |      (a, b) -> a + b) AS adc_cos
       |  FROM contrib GROUP BY query_id, neighbor_id),
       |adc3 AS (
       |  SELECT query_id, neighbor_id, adc_cos, rnk FROM (
       |    SELECT query_id, neighbor_id, adc_cos,
       |      CAST(RANK() OVER (PARTITION BY query_id ORDER BY adc_cos DESC, neighbor_id) AS INTEGER) AS rnk
       |    FROM ascore) t WHERE rnk <= 3)""".stripMargin

  private def q243Sql: String =
    s"""WITH $ivfAdcCtes
       |SELECT query_id, neighbor_id, adc_cos, rnk FROM adc3
       |ORDER BY query_id, rnk, neighbor_id""".stripMargin

  /** Exact within-split cosine top-3 of the held-out queries under the
    * q32 tie rule — the recall reference shared by q244 and q247. */
  private def ivfAdcExactTop3(s: SparkSession, d: String): DataFrame = {
    val u = unitVectors(s, d)
    val qv = u.filter(col("vec_id") % 5 === 0 && col("vec_id") < IvfAdcQueryBound)
      .select(col("vec_id").as("query_id"), col("ue").as("qu"))
    val base = u.filter(col("vec_id") % 5 =!= 0)
      .select(col("vec_id").as("neighbor_id"), col("ue").as("cu"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(expr("graft_dot(qu, cu)").desc, col("neighbor_id"))
    broadcast(qv).join(base, col("query_id") =!= col("neighbor_id"))
      .withColumn("rnk", rank().over(w)).filter(col("rnk") <= 3)
      .select(col("query_id"), col("neighbor_id"))
  }

  /** q244 — IVFADC recall/distortion/occupancy card (the q241 idiom for
    * the COMPOSED index): recall@3 of the persisted-index ADC probe vs
    * the exact within-split cosine top-3 on the same held-out queries
    * and tie rule, corpus-mean residual quantization error (dyadic
    * fixed-point — no IEEE accumulation order), and (sub, code)
    * occupancy vs m·ksub. */
  private def q244(s: SparkSession, d: String): DataFrame = {
    val dir = builtIvfAdc(s, d)
    val (dims, cb, rot) = loadPqMeta(s, dir)
    val coded = encodedResiduals(s, dir, dims, cb, rot)
      .localCheckpoint(true) // consumers: error card + occupancy
    val totErr = dims.indices.map(j => col(s"cerr$j")).reduce(_ + _)
    val err = coded.agg(
      sum(floor(totErr * lit(MeanScale)).cast("long")).as("efp"),
      count(lit(1)).as("n_vectors"))
    val used = coded
      .select(posexplode(array(dims.indices.map(j => col(s"code$j")): _*))
        .as(Seq("sub", "code")))
      .agg(countDistinct(col("sub"), col("code")).as("codes_used"))
    val exact3 = ivfAdcExactTop3(s, d)
    val overlap = probeIvfAdcTop3(s, ivfAdcQueries(s, d), dir)
      .select(col("query_id"), col("neighbor_id"))
      .join(exact3, Seq("query_id", "neighbor_id"))
      .agg(count(lit(1)).as("overlap"))
    val nq = ivfAdcQueries(s, d).agg(count(lit(1)).as("n_queries"))
    Seq(used, overlap, nq).foldLeft(err)(graft.Scalars.withScalar)
      .select(col("n_vectors"), col("n_queries"),
        (col("overlap").cast("double") /
          (lit(3.0) * col("n_queries").cast("double"))).as("recall_at3"),
        (col("efp").cast("double") / lit(MeanScale) /
          col("n_vectors").cast("double")).as("mean_code_err"),
        col("codes_used"), lit(PqM * PqKsub).as("codes_total"))
  }

  private def q244Sql: String =
    s"""WITH $ivfAdcCtes,
       |verr AS (
       |  SELECT vec_id, $pqToterrSql AS toterr
       |  FROM rcodes GROUP BY vec_id),
       |errfp AS (
       |  SELECT CAST(SUM(CAST(floor(toterr * 67108864.0) AS BIGINT)) AS BIGINT) AS efp,
       |    CAST(COUNT(*) AS BIGINT) AS n_vectors
       |  FROM verr),
       |used AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS codes_used
       |  FROM (SELECT DISTINCT sub, code FROM rcodes)),
       |ex3 AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
       |      RANK() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_reduce(list_prepend(0.0, list_transform(list_zip(q.ue, b.ue),
       |          z -> z[1] * z[2])), (a, x) -> a + x) DESC, b.vec_id) AS rnk
       |    FROM qv q JOIN buni b ON q.vec_id <> b.vec_id) t
       |  WHERE rnk <= 3),
       |ov AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS overlap
       |  FROM adc3 JOIN ex3 USING (query_id, neighbor_id)),
       |nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM qv)
       |SELECT e.n_vectors, nq.n_queries,
       |  CAST(ov.overlap AS DOUBLE) / (3.0 * CAST(nq.n_queries AS DOUBLE)) AS recall_at3,
       |  CAST(e.efp AS DOUBLE) / 67108864.0 / CAST(e.n_vectors AS DOUBLE) AS mean_code_err,
       |  used.codes_used, CAST(${PqM * PqKsub} AS INTEGER) AS codes_total
       |FROM errfp e, used, ov, nq""".stripMargin

  // ---------------------------------------------------------------- q247

  /** q247 — IVFADC nprobe recall/cost sweep (the q213/q209 knob-pricing
    * idiom applied to the COMPOSED index): for nprobe ∈ {1, 2, 3}, the
    * recall@3 of the persisted-index ADC probe vs the exact within-split
    * top-3 AND the scored-pair work that recall costs — the size of the
    * (query, probed-cell occupant) candidate frame, i.e. Σ probed-cell
    * occupancy over the query batch, the number a deployment multiplies
    * by m LUT-adds to price a probe. q244 fixes nprobe at the default
    * and reports quantization quality; this card is the LEVER beside it:
    * an operator reads the recall step between rows to pick the smallest
    * nprobe that clears their SLA, exactly how q213 prices the plain IVF
    * probe. Candidates come from the SAME [[ivfAdcScoredCands]] frame
    * the production probe ranks, so the priced work is the executed
    * work, not a model of it.
    *
    * Scale shape: ONE probe pass over the bucketed codes table at the
    * largest nprobe (|Q|·occupancy-proportional, zero index-side
    * Exchange) whose cell_rank prefixes are the three arms
    * ([[ivfAdcNprobeArms]]), + the one exact-top-3 reference the recall
    * needs anyway; per-arm counts come from grouped aggregates over that
    * one frame. */
  private def q247(s: SparkSession, d: String): DataFrame = {
    val dir = builtIvfAdc(s, d)
    val exact3 = ivfAdcExactTop3(s, d)
      .localCheckpoint(true) // consumers: the overlap join; keeps the exact
      // baseline's audited theta-join out of the card's plan
    val nq = ivfAdcQueries(s, d).agg(count(lit(1)).as("n_queries"))
    val nprobes = 1 to 3
    val armed = ivfAdcNprobeArms(s, ivfAdcQueries(s, d), dir, nprobes)
    val pairs = armed.groupBy(col("nprobe"))
      .agg(count(lit(1)).as("scored_pairs"))
    val w = Window.partitionBy(col("nprobe"), col("query_id"))
      .orderBy(col("adc_cos").desc, col("neighbor_id"))
    val overlap = armed.withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= 3)
      .select(col("nprobe"), col("query_id"), col("neighbor_id"))
      .join(exact3, Seq("query_id", "neighbor_id"))
      .groupBy(col("nprobe")).agg(count(lit(1)).as("overlap"))
    import s.implicits._
    graft.Scalars.withScalar(nprobes.toList.toDF("nprobe")
        .join(pairs, Seq("nprobe"), "left")
        .join(overlap, Seq("nprobe"), "left"), nq)
      .select(col("nprobe"), col("n_queries"),
        coalesce(col("scored_pairs"), lit(0L)).as("scored_pairs"),
        (coalesce(col("overlap"), lit(0L)).cast("double") /
          (lit(3.0) * col("n_queries").cast("double"))).as("recall_at3"))
      .orderBy("nprobe")
  }

  /** Per-nprobe restatement of the probe chain: the shared CTEs (qcc
    * coarse dots, qlut, rcodes) are nprobe-independent; each arm re-cuts
    * qcc at its own rank bound and re-runs candidate → contrib → score →
    * top-3 under arm-suffixed names. */
  private def q247Sql: String = {
    def arm(np: Int): String =
      s"""cand$np AS (
         |  SELECT p.vec_id AS query_id, p.cc AS coarse, r.vec_id AS neighbor_id
         |  FROM (SELECT vec_id, cid AS cell, cc FROM (
         |          SELECT vec_id, cid, cc,
         |            ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
         |          FROM qcc) t WHERE rn <= $np) p
         |  JOIN (SELECT DISTINCT vec_id, cell FROM rcodes) r ON r.cell = p.cell
         |  WHERE r.vec_id <> p.vec_id),
         |sp$np AS (SELECT CAST(COUNT(*) AS BIGINT) AS scored_pairs FROM cand$np),
         |contribx$np AS (
         |  SELECT c.query_id, c.neighbor_id, c.coarse, rc.sub, l.dotv
         |  FROM cand$np c JOIN rcodes rc ON rc.vec_id = c.neighbor_id
         |  JOIN qlut l ON l.query_id = c.query_id AND l.sub = rc.sub AND l.cid = rc.code),
         |ascorex$np AS (
         |  SELECT query_id, neighbor_id,
         |    MIN(coarse) + list_reduce(list_prepend(0.0, list(dotv ORDER BY sub)),
         |      (a, b) -> a + b) AS adc_cos
         |  FROM contribx$np GROUP BY query_id, neighbor_id),
         |top3x$np AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      RANK() OVER (PARTITION BY query_id ORDER BY adc_cos DESC, neighbor_id) AS rnk
         |    FROM ascorex$np) t WHERE rnk <= 3),
         |ov$np AS (
         |  SELECT CAST(COUNT(*) AS BIGINT) AS overlap
         |  FROM top3x$np JOIN ex3 USING (query_id, neighbor_id))""".stripMargin
    def row(np: Int): String =
      s"""SELECT CAST($np AS INTEGER) AS nprobe, nq.n_queries, sp$np.scored_pairs,
         |  CAST(ov$np.overlap AS DOUBLE) / (3.0 * CAST(nq.n_queries AS DOUBLE)) AS recall_at3
         |FROM sp$np, ov$np, nq""".stripMargin
    s"""WITH $ivfAdcCtes,
       |ex3 AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
       |      RANK() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_reduce(list_prepend(0.0, list_transform(list_zip(q.ue, b.ue),
       |          z -> z[1] * z[2])), (a, x) -> a + x) DESC, b.vec_id) AS rnk
       |    FROM qv q JOIN buni b ON q.vec_id <> b.vec_id) t
       |  WHERE rnk <= 3),
       |nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM qv),
       |${arm(1)},
       |${arm(2)},
       |${arm(3)}
       |${row(1)}
       |UNION ALL
       |${row(2)}
       |UNION ALL
       |${row(3)}
       |ORDER BY nprobe""".stripMargin
  }

  // ------------------------------------------------------------ q245/q246

  /** Graph-ANN (the carried round-13 stretch, completing the
    * LSH/IVF/PQ/graph quartet): a BOUNDED-DEGREE neighbor graph built
    * from the IVF cells' candidate pairs — each vector keeps its
    * [[GraphDegree]] best within-cell neighbors by cosine, so
    * construction is the q114/q52 cell-local equi-join (Σ|cell|² pairs,
    * never all-pairs) plus one per-source window — searched GREEDILY:
    * start at the query's own cell's smallest-id member and hop
    * [[GraphHops]] times, each hop moving to the best of {current} ∪
    * out-neighbors(current) by true cosine (monotone by construction —
    * the current node competes). This is the NSW/DiskANN search shape
    * with the budget made explicit: a FIXED hop count, which is what
    * lets the DuckDB oracle restate the whole search as unrolled CTEs
    * (the q215/q221 unrolled-iteration discipline) and what a
    * latency-bound production deployment actually configures.
    *
    * q245 is the per-query greedy trace (found neighbor, its true
    * cosine, the exact top-1 under the q32 tie rule, hit bit); q246 the
    * aggregate card: recall@1, graph size/degree, and the build-pair
    * budget vs the IVF probe cost it replaces — the number PLANS.md
    * compares. Entry fallback for singleton cells is the corpus' two
    * smallest ids (2-row bounded collect), restated via a LIMIT-2 CTE.
    *
    * Scale shape: edges are cell-bounded pairs + a per-src window (one
    * shuffle each); the greedy frontier is |Q|·(1+degree) rows per hop
    * with |Q| broadcast — hop joins touch edge/vector tables only on
    * equi-keys. Degree and hops are constants, so plan size is fixed.
    *
    * The [[GraphDegree]] budget is SPLIT (round 16): [[WithinDegree]]
    * best neighbors in the node's own IVF cell plus [[CrossDegree]]
    * best neighbor in its SECOND-ranked centroid cell — the HNSW/
    * DiskANN long-range-link idea expressed in the cell vocabulary. A
    * purely within-cell graph decomposes into per-cell components, so a
    * query entering a wrong cell (quantizer boundary error) could never
    * escape regardless of beam width; the cross edge points along the
    * node's own second-best Voronoi direction, exactly the boundary the
    * entry error crosses. The cross pair frame joins each node against
    * its rank-2 cell's members, so the build budget stays
    * Σ|cell_i|·|cell_j| over ADJACENT pairs — still never all-pairs. */
  private val GraphDegree = 4
  private val WithinDegree = 3
  private val CrossDegree = 1
  private val GraphHops = 3

  /** (assignments with unit vectors, bounded-degree edge list) over the
    * full corpus — shared by q245/q246/q248, built once per (session,
    * corpus): the edge window is the Σ|cell|² pair pass, and before the
    * cache each card consumer re-paid it (q246 twice — its own parts plus
    * the trace's). Both frames are eagerly localCheckpointed, the uvCache
    * discipline. */
  private val graphPartsCache = new graft.SessionCache[(DataFrame, DataFrame)]
  private[queries] def graphAnnParts(s: SparkSession,
      d: String): (DataFrame, DataFrame) = graphPartsCache.getOrBuild(s, d) {
    val u = unitVectors(s, d)
    val k = ivfKFor(u.count())
    val sc = sortedCells(codebook(u, k), k)
    val asg = u.select(col("vec_id"), col("ue"),
        element_at(sc, 1)("cid").as("cell"),
        element_at(sc, 2)("cid").as("cell2"))
      .localCheckpoint(true) // consumers: both pair sides + entry + hops
    val edges = graphEdges(asg, asg)
      .select(col("src"), col("dst"))
      .localCheckpoint(true) // consumers: every hop + the card's count
    (asg, edges)
  }

  /** Bounded-degree out-edges of `a` against `b` by cosine — the
    * construction shared by the ad-hoc q245 graph, the persisted
    * `gedges` build, and its append arm: per-src top-[[WithinDegree]]
    * within the node's own cell (kind 0) plus top-[[CrossDegree]] in its
    * second-ranked centroid cell (kind 1, the escape edge a wrong-cell
    * entry needs to leave its component). The `a` side carries
    * (vec_id, ue, cell, cell2); the `b` side (vec_id, ue, cell). The two
    * arms can never emit the same (src, dst): a dst matches the within
    * arm through src's rank-1 cell and the cross arm through its rank-2
    * cell, and those cell ids are distinct by construction. ecos and
    * kind ride along so compaction can re-trim each kind to its own
    * bound without re-scoring. */
  private def graphEdges(a0: DataFrame, b0: DataFrame): DataFrame = {
    val b = b0.select(col("cell").as("cell_b"), col("vec_id").as("dst"),
      col("ue").as("du"))
    def arm(joinCell: String, bound: Int, kind: Int): DataFrame = {
      val a = a0.select(col(joinCell).as("jc"), col("vec_id").as("src"),
        col("ue").as("su"))
      val w = Window.partitionBy(col("src"))
        .orderBy(col("ecos").desc, col("dst"))
      a.join(b, col("jc") === col("cell_b") && col("src") =!= col("dst"))
        .select(col("src"), col("dst"), expr("graft_dot(su, du)").as("ecos"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= bound)
        .select(col("src"), col("dst"), col("ecos"),
          lit(kind).as("kind"))
    }
    arm("cell", WithinDegree, 0).unionByName(arm("cell2", CrossDegree, 1))
  }

  /** Final beam frontier after [[GraphHops]] hops — ≤`width` rows per
    * query, plus the summed per-hop expansion count (the candidate
    * scorings the search paid, q248's cost axis). `width = 1` IS the
    * greedy search of q245: each hop expands every frontier node's
    * out-edges, dedups (a node reachable from two frontier members must
    * occupy ONE beam slot, not two), and keeps the top-`width` by
    * (gcos, node). The dedup is exact even on the double gcos column:
    * duplicates are the SAME (query, node) pair scored by the same
    * codegen'd expression, so the rows are bit-identical within an
    * engine. A one-arm call of [[beamSearch]]. */
  private[queries] def graphBeamFrontier(s: SparkSession, asg: DataFrame,
      edges: DataFrame, width: Int,
      needCost: Boolean = true): (DataFrame, DataFrame) = {
    val (frontier, cost) = beamSearch(s, asg, edges,
      Seq(GraphConfig.Scheme(1, width, GraphHops)), needCost)
    (frontier.drop("arm"), cost.drop("arm"))
  }

  /** The single-entry ad-hoc beam over the vec_id < 8 split of the graph
    * itself, for every arm of `arms` at once — the q245/q248 search
    * shape: entry = the query's own cell's smallest-id member (the cell
    * rule over a one-cell ranking), LIMIT-2 corpus fallback for
    * singleton cells, then [[beamCore]]. A node equal to a query's own id
    * is never entered or returned (the q243 held-out discipline). */
  private def beamSearch(s: SparkSession, asg: DataFrame, edges: DataFrame,
      arms: Seq[GraphConfig.Scheme],
      needCost: Boolean = true): (DataFrame, DataFrame) = {
    val qv = asg.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("ue").as("qu"),
        array(col("cell")).as("qcells"))
    graphArms(s, GraphProbePrep(qv, asg, edges, lowestTwo(asg)), arms,
      needCost)
  }

  /** The two smallest node ids: the LIMIT-2 entry fallback. */
  private def lowestTwo(nodes: DataFrame): Seq[Long] =
    // collect-bound: two smallest ids — 2 rows (entry fallback)
    nodes.select(col("vec_id")).orderBy(col("vec_id")).limit(2)
      .collect().map(_.getLong(0)).toSeq

  /** The beam engine proper, over an ARBITRARY entry frame (arm,
    * query_id, qu, beam, node) — one INDEPENDENT beam per (arm, query,
    * beam): retention partitions by all three keys, so a multi-entry
    * probe's walks never compete for each other's slots (an entry whose
    * cell scores poorly at hop 1 must still get to walk — it may hold the
    * only path to the true neighbor; that independence is what makes
    * `entries` the graph twin of IVF's nprobe rather than a wider shared
    * beam), and neither do the arms. Arm i searches at `arms(i)`'s width
    * and hops; at hop t only arms with hops ≥ t expand, and a finished
    * arm's frontier (already distinct, within its width) passes the cut
    * unchanged. Every hop is one job for all arms.
    *
    * Returns the final frontiers (≤ width rows per beam) plus the cost
    * frame (arm, scored_cands): each arm's summed executed expansion
    * count — the cost axis q248/q252 price, one grouped collect per hop. */
  private def beamCore(s: SparkSession, entry: DataFrame, asg: DataFrame,
      edges: DataFrame, arms: Seq[GraphConfig.Scheme],
      needCost: Boolean = true): (DataFrame, DataFrame) = {
    val nu = asg.select(col("vec_id").as("node"), col("ue").as("nu"))
    val width = element_at(typedlit(arms.map(_.width).toList), col("arm") + 1)
    var frontier = entry.join(nu, "node")
      .select(col("arm"), col("query_id"), col("qu"), col("beam"),
        col("node"), expr("graft_dot(qu, nu)").as("gcos"))
    val scored = Array.fill(arms.size)(0L)
    for (t <- 1 to arms.map(_.hops).max) {
      // Only arms with hops left expand. No filter while all are: pushed
      // into the un-checkpointed hop-1 frontier, it would stop its two
      // reads from reusing the entry plan's exchanges.
      val live = arms.indices.filter(arms(_).hops >= t)
      val expanding =
        if (live.size == arms.size) frontier
        else frontier.filter(col("arm").isin(live: _*))
      // The expansion join is the expensive half of a hop (frontier ⨝
      // edges ⨝ ue-lookup + one graft_dot per candidate). When the
      // caller prices the walk, materialize it ONCE via an eager
      // checkpoint so the cost count and the next frontier both read the
      // checkpointed blocks instead of re-evaluating the join (round-18
      // shape ran the join twice per hop: once under the eager count,
      // once under the next-frontier checkpoint — the round-18 verdict's
      // "fold the per-hop count into the checkpoint materialization"
      // item, guide §1.2/§2.4: don't compute things twice). When the
      // caller DISCARDS the cost (probeGraphIndex, the top-3 searches,
      // the build-time scheme sweep's recall-only arms), `next` is nb's
      // only consumer — skip both the checkpoint and the count: one
      // evaluation, one job per hop, nothing for a cost frame to pin
      // (the r18 ADVICE "gate the eager count behind needCost" note).
      val nb0 = expanding.join(edges, col("node") === col("src"))
        .filter(col("dst") =!= col("query_id"))
        .join(nu.withColumnRenamed("node", "dst"), "dst")
        .select(col("arm"), col("query_id"), col("qu"), col("beam"),
          col("dst").as("node"),
          expr("graft_dot(qu, nu)").as("gcos"))
      val nb =
        if (needCost) nb0.localCheckpoint(true) // consumers: count + next
        else nb0
      // collect-bound: grouped by arm — at most arms.size rows per hop,
      // over already-materialized blocks. The expansion count stays EAGER
      // so the returned cost frame holds no reference to intermediate
      // frontiers — which is what lets each hop's checkpoint blocks be
      // freed right here instead of waiting on GC + ContextCleaner (the
      // r17 q258 bench-variance fix: eager frees make the standing block
      // count independent of collector timing).
      if (needCost)
        nb.groupBy(col("arm")).agg(count(lit(1))).collect()
          .foreach(r => scored(r.getInt(0)) += r.getLong(1))
      val w = Window.partitionBy(col("arm"), col("query_id"), col("beam"))
        .orderBy(col("gcos").desc, col("node"))
      val next = frontier.unionByName(nb).distinct()
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= width).drop("rn")
        .localCheckpoint(true) // keep the unrolled plan hop-sized
      // Every consumer of `nb` (the count, when priced, and `next`) and
      // the last consumer of the previous frontier (`next`) have
      // materialized — their blocks are dead. Both frees are no-ops on
      // un-checkpointed frames (hop-1 frontier, cost-free nb).
      freeLocalCheckpoint(nb)
      freeLocalCheckpoint(frontier)
      frontier = next
    }
    import s.implicits._
    (frontier, arms.indices.map(a => (a, scored(a))).toDF("arm", "scored_cands"))
  }

  /** Top-1 (arm, query_id, found_id, found_cos) of every (arm, query) in
    * a frontier by (gcos DESC, node); duplicate beam rows are identical. */
  private def armTop1(frontier: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("arm"), col("query_id"))
      .orderBy(col("gcos").desc, col("node"))
    frontier.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("arm"), col("query_id"), col("node").as("found_id"),
        col("gcos").as("found_cos"))
  }

  /** One recall row per arm of `spine` (arm, …): the hits of its top-1
    * rows in `found` (arm, query_id, found_id) against `exact`, read
    * through `hits`; its `cost` (arm, scored_cands); the n_queries scalar
    * `nq`; and recall_at1. */
  private def armRows(spine: DataFrame, found: DataFrame, exact: DataFrame,
      cost: DataFrame, nq: DataFrame, hits: Column = col("hits")): DataFrame = {
    val armHits = found.join(exact, "query_id").groupBy(col("arm"))
      .agg(sum((col("found_id") === col("exact_id")).cast("long")).as("hits"))
    graft.Scalars.withScalar(spine.join(armHits, Seq("arm"), "left")
        .join(cost, Seq("arm")), nq)
      .withColumn("hits", hits)
      .withColumn("recall_at1",
        col("hits").cast("double") / col("n_queries").cast("double"))
  }

  /** Eagerly drop the block-manager blocks behind an eager
    * `localCheckpoint`ed frame — a no-op for any other plan shape. A
    * localCheckpoint truncates lineage, so a freed frame can never be
    * evaluated again: callers free ONLY frames whose every consumer has
    * already materialized (beamCore's per-hop frontiers and — since the
    * r19 single-evaluation fold — its per-hop `nb` expansion frame,
    * where the next hop's eager checkpoint and the eager expansion
    * count are the last reads; q263's per-arm evicted clustered-unit
    * frames, where the arm's eager exact-baseline checkpoint is the
    * last read). Without this, dead checkpoint blocks wait on a driver
    * GC plus the async ContextCleaner — timing a 128 GiB heap makes
    * rare — and accumulate across a long battery.
    *
    * OWNERSHIP GUARD: the contract above is load-bearing but NOT
    * silently breakable — a locally-checkpointed RDD cannot be
    * recomputed, so evaluating a freed frame fails LOUDLY with Spark's
    * missing-checkpoint-block error rather than returning wrong or
    * empty data (FreeCheckpointSpec pins both that failure mode and
    * the no-op on non-checkpointed frames). A caller that violates the
    * last-consumer rule breaks its own query visibly, never the
    * results of one that follows the rule. */
  private[graft] def freeLocalCheckpoint(df: DataFrame): Unit = {
    muteLocalCheckpointWarn
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false)
      case _ => ()
    }
  }

  /** The eager frees above are safe by construction (the freed frame
    * has no consumer left), but RDD.unpersist logs a WARN for every
    * locally-checkpointed block drop ("RDD N was locally checkpointed,
    * its lineage has been truncated...") — 15+ identical lines per
    * sweep card run, pure noise under the bench's bounded output
    * capture. Round 20 (the carried ADVICE item): instead of leveling
    * the whole MapPartitionsRDD logger to ERROR — which also silenced
    * every UNRELATED warning that logger might emit — install a
    * message-scoped DENY filter for exactly that message on exactly
    * that logger; everything else passes through unchanged. Once per
    * JVM; failure-isolated (a nonstandard logging backend just keeps
    * the noise). */
  private lazy val muteLocalCheckpointWarn: Unit =
    scala.util.Try {
      import org.apache.logging.log4j.LogManager
      import org.apache.logging.log4j.core.LoggerContext
      import org.apache.logging.log4j.core.LogEvent
      import org.apache.logging.log4j.core.Filter
      import org.apache.logging.log4j.core.filter.AbstractFilter
      import org.apache.logging.log4j.core.config.LoggerConfig
      val name = "org.apache.spark.rdd.MapPartitionsRDD"
      val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
      val cfg = ctx.getConfiguration
      val lc = cfg.getLoggerConfig(name) match {
        case exact if exact.getName == name => exact
        case parent =>
          // No config for this logger yet: add an additive one at the
          // parent's level so ONLY the filter below changes behaviour.
          val fresh = new LoggerConfig(name, parent.getLevel, true)
          cfg.addLogger(name, fresh)
          fresh
      }
      lc.addFilter(new AbstractFilter() {
        override def filter(event: LogEvent): Filter.Result =
          if (event.getMessage.getFormattedMessage
              .contains("was locally checkpointed, its lineage has been"))
            Filter.Result.DENY
          else Filter.Result.NEUTRAL
      })
      ctx.updateLoggers()
    }.getOrElse(())

  /** Exact cosine top-1 (query_id, exact_id) of a (query_id, qu) batch
    * against a (vec_id, ue) node frame under the q32 tie rule, a query
    * never its own neighbor — the recall reference of every graph-ANN
    * card and of the build-time sweep. Brute force by design; the
    * broadcast side is the query batch. */
  private def exactTop1(queries: DataFrame, nodes: DataFrame): DataFrame = {
    val c = nodes.select(col("vec_id").as("neighbor_id"), col("ue").as("cu"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(expr("graft_dot(qu, cu)").desc, col("neighbor_id"))
    broadcast(queries).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("query_id"), col("neighbor_id").as("exact_id"))
  }

  /** [[exactTop1]] of the graph-ANN query split against the full corpus —
    * the reference shared by the q245 trace and the q248 card. */
  private[queries] def graphExactTop1(s: SparkSession, asg: DataFrame): DataFrame =
    exactTop1(asg.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("ue").as("qu")), asg)

  /** Per-query greedy trace: (query_id, found_id, found_cos, exact_id,
    * hit), unordered — the width-1 beam against the exact top-1. */
  private def graphAnnTrace(s: SparkSession, d: String): DataFrame = {
    val (asg, edges) = graphAnnParts(s, d)
    val (frontier, _) = graphBeamFrontier(s, asg, edges, 1,
      needCost = false)
    frontier.join(graphExactTop1(s, asg), "query_id")
      .select(col("query_id"), col("node").as("found_id"),
        col("gcos").as("found_cos"), col("exact_id"),
        (col("node") === col("exact_id")).cast("int").as("hit"))
  }

  private def q245(s: SparkSession, d: String): DataFrame =
    graphAnnTrace(s, d).orderBy("query_id")

  /** q246 — graph-ANN recall/build-cost card: recall@1 of the greedy
    * search vs exact, graph size and realized mean out-degree, and the
    * cell-pair build budget (the cost IVF's probe pays per batch but the
    * graph pays ONCE). */
  private def q246(s: SparkSession, d: String): DataFrame = {
    val (asg, edges) = graphAnnParts(s, d)
    val rec = graphAnnTrace(s, d).agg(
      count(lit(1)).as("n_queries"), sum(col("hit")).as("hits"))
    val eCard = edges.agg(count(lit(1)).as("n_edges"))
    val nCard = asg.agg(count(lit(1)).as("n_nodes"))
    // Build budget = within-cell candidate pairs n·(n−1) plus the cross
    // arm's rank-2-cell candidates (each node scored against its second
    // cell's members) — occupancy-sized aggregation, not a re-join.
    val occ1 = asg.groupBy(col("cell")).agg(count(lit(1)).as("n1"))
    val occ2 = asg.groupBy(col("cell2").as("cell"))
      .agg(count(lit(1)).as("n2"))
    val pairs = occ1.join(occ2, Seq("cell"), "left")
      .agg(sum(col("n1") * (col("n1") - 1) +
        col("n1") * coalesce(col("n2"), lit(0L))).as("build_pairs"))
    Seq(eCard, nCard, pairs).foldLeft(rec)(graft.Scalars.withScalar)
      .select(col("n_queries"), col("hits"),
        (col("hits").cast("double") / col("n_queries").cast("double"))
          .as("recall_at1"),
        col("n_nodes"), col("n_edges"),
        (col("n_edges").cast("double") / col("n_nodes").cast("double"))
          .as("mean_out_degree"),
        col("build_pairs"), lit(GraphDegree).as("degree_bound"),
        lit(GraphHops).as("hops"))
  }

  /** Shared graph CTE chain: q52-style cells → bounded-degree edges →
    * entry (cell min with LIMIT-2 fallback) → unrolled greedy hops →
    * per-query trace vs exact top-1. */
  private def graphAnnCtes: String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), z -> z[1] * z[2])), (x, y) -> x + y)"
    def hop(t: Int) =
      s"""nb$t AS (
         |  SELECT f.query_id, n.vec_id AS node, ${dot("q.ue", "n.ue")} AS gcos
         |  FROM h${t - 1} f
         |  JOIN edges e ON e.src = f.node
         |  JOIN u n ON n.vec_id = e.dst
         |  JOIN u q ON q.vec_id = f.query_id
         |  WHERE e.dst <> f.query_id),
         |h$t AS (
         |  SELECT query_id, node, gcos FROM (
         |    SELECT query_id, node, gcos,
         |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY gcos DESC, node) AS rn
         |    FROM (SELECT query_id, node, gcos FROM h${t - 1}
         |          UNION ALL SELECT query_id, node, gcos FROM nb$t) z) t
         |  WHERE rn = 1)""".stripMargin
    s"""params AS (
       |  SELECT GREATEST(16, 1 << (LENGTH(BIN(CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))) - 1)) AS k
       |  FROM embeddings),
       |e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) AS nrm
       |  FROM embeddings),
       |u AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS ue FROM e),
       |cent AS (SELECT vec_id AS cid, ue AS cu FROM u WHERE vec_id < (SELECT k FROM params)),
       |cc AS (
       |  SELECT u.vec_id, cent.cid, ${dot("u.ue", "cent.cu")} AS cc
       |  FROM u CROSS JOIN cent),
       |assign AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
       |    FROM cc) t WHERE rn = 1),
       |assign2 AS (
       |  SELECT vec_id, cid AS cell2 FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
       |    FROM cc) t WHERE rn = 2),
       |edges AS (
       |  SELECT src, dst FROM (
       |    SELECT a.vec_id AS src, b.vec_id AS dst,
       |      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
       |        ${dot("ua.ue", "ub.ue")} DESC, b.vec_id) AS rn
       |    FROM assign a JOIN assign b ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |    JOIN u ua ON ua.vec_id = a.vec_id
       |    JOIN u ub ON ub.vec_id = b.vec_id) t
       |  WHERE rn <= $WithinDegree
       |  UNION ALL
       |  SELECT src, dst FROM (
       |    SELECT a.vec_id AS src, b.vec_id AS dst,
       |      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
       |        ${dot("ua.ue", "ub.ue")} DESC, b.vec_id) AS rn
       |    FROM assign2 a JOIN assign b ON b.cell = a.cell2 AND a.vec_id <> b.vec_id
       |    JOIN u ua ON ua.vec_id = a.vec_id
       |    JOIN u ub ON ub.vec_id = b.vec_id) t
       |  WHERE rn <= $CrossDegree),
       |lows AS (SELECT vec_id FROM u ORDER BY vec_id LIMIT 2),
       |qv AS (
       |  SELECT a.vec_id AS query_id, a.cell AS qcell FROM assign a WHERE a.vec_id < 8),
       |cellmin AS (
       |  SELECT q.query_id, MIN(m.vec_id) AS cell_entry
       |  FROM qv q JOIN assign m ON m.cell = q.qcell AND m.vec_id <> q.query_id
       |  GROUP BY q.query_id),
       |entry AS (
       |  SELECT q.query_id,
       |    COALESCE(c.cell_entry,
       |      CASE WHEN q.query_id = (SELECT MIN(vec_id) FROM lows)
       |           THEN (SELECT MAX(vec_id) FROM lows)
       |           ELSE (SELECT MIN(vec_id) FROM lows) END) AS node
       |  FROM qv q LEFT JOIN cellmin c USING (query_id)),
       |h0 AS (
       |  SELECT en.query_id, en.node, ${dot("q.ue", "n.ue")} AS gcos
       |  FROM entry en
       |  JOIN u n ON n.vec_id = en.node
       |  JOIN u q ON q.vec_id = en.query_id),
       |${(1 to GraphHops).map(hop).mkString(",\n")},
       |exact AS (
       |  SELECT query_id, neighbor_id AS exact_id FROM (
       |    SELECT q.query_id, c.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
       |        ${dot("uq.ue", "c.ue")} DESC, c.vec_id) AS rn
       |    FROM qv q JOIN u c ON c.vec_id <> q.query_id
       |    JOIN u uq ON uq.vec_id = q.query_id) t
       |  WHERE rn = 1),
       |trace AS (
       |  SELECT f.query_id, f.node AS found_id, f.gcos AS found_cos,
       |    x.exact_id,
       |    CAST(CASE WHEN f.node = x.exact_id THEN 1 ELSE 0 END AS INTEGER) AS hit
       |  FROM h$GraphHops f JOIN exact x USING (query_id))""".stripMargin
  }

  private def q245Sql: String =
    s"""WITH $graphAnnCtes
       |SELECT query_id, found_id, found_cos, exact_id, hit FROM trace
       |ORDER BY query_id""".stripMargin

  private def q246Sql: String =
    s"""WITH $graphAnnCtes,
       |rec AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS n_queries,
       |    CAST(SUM(hit) AS BIGINT) AS hits FROM trace),
       |ec AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM edges),
       |nc AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM u),
       |bp AS (
       |  SELECT CAST(SUM(n1 * (n1 - 1) + n1 * COALESCE(n2, 0)) AS BIGINT) AS build_pairs FROM (
       |    SELECT o1.cell, o1.n1, o2.n2
       |    FROM (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n1 FROM assign GROUP BY cell) o1
       |    LEFT JOIN (SELECT cell2 AS cell, CAST(COUNT(*) AS BIGINT) AS n2
       |               FROM assign2 GROUP BY cell2) o2 USING (cell)))
       |SELECT rec.n_queries, rec.hits,
       |  CAST(rec.hits AS DOUBLE) / CAST(rec.n_queries AS DOUBLE) AS recall_at1,
       |  nc.n_nodes, ec.n_edges,
       |  CAST(ec.n_edges AS DOUBLE) / CAST(nc.n_nodes AS DOUBLE) AS mean_out_degree,
       |  bp.build_pairs,
       |  CAST($GraphDegree AS INTEGER) AS degree_bound,
       |  CAST($GraphHops AS INTEGER) AS hops
       |FROM rec, ec, nc, bp""".stripMargin

  // ------------------------------------------- persisted graph index + q250

  private[graft] def hasGraph(s: SparkSession, dir: String): Boolean =
    IndexStore.has(s, dir, "graph")

  /** Extend a built semantic index with the navigable-graph artifact —
    * the persistence/lifecycle story the graph member of the
    * LSH/IVF/PQ/graph quartet lacked (IVFADC got it in `codes`; q245/
    * q246/q248 build theirs ad hoc per session): `gedges(src, dst,
    * ecos)`, each indexed vector's top-[[GraphDegree]] within-cell
    * neighbors by cosine, persisted as an IndexStore EXTERNAL bucketed
    * table on `src` — the hop-join key, so under forced shuffle joins
    * the edge scan arrives pre-partitioned and only the (tiny) frontier
    * side moves (IndexColocationSpec's gedges arm). Build cost is the
    * same Σ|cell|² pair pass the τ calibration already pays; ecos rides
    * along so compaction can re-trim without re-scoring.
    *
    * Lifecycle (GraphIndexSpec pins all three):
    *  - APPEND ([[appendToSemIndex]]): novel nodes get out-edges to
    *    their top-degree cell neighbors AND the REVERSE edges that make
    *    them reachable — the DiskANN insert discipline: a neighbor's
    *    out-degree may overflow its bound until compaction re-trims,
    *    which trades bounded temporary overflow for never touching the
    *    existing rows in place.
    *  - TAKEDOWN: tombstoned nodes are dropped from the probe's node
    *    frame, so they are neither entered nor returned; their edge rows
    *    (both directions) are physically removed at compaction.
    *  - COMPACTION ([[compactSemIndex]]): drop tombstoned endpoints,
    *    dedup (src, dst), re-trim per-src to [[GraphDegree]] by (ecos,
    *    dst) — one bucketed rewrite in the same locked pass as
    *    `vectors`. */
  private[graft] def addGraphToSemIndex(s: SparkSession, dir: String,
      target: Double = GraphConfig.DefaultTarget): Unit =
    IndexStore.build(s, dir, "graph") {
      // The vector store persists only the rank-1 cell; the cross arm
      // needs each node's SECOND-ranked centroid cell, recomputed
      // row-locally against the frozen centroid table (same expression as
      // the build, so rank 1 reproduces the stored cell bit-identically).
      val rows: Seq[Seq[Double]] = centroidRows(s, dir)
      val sc = sortedCells(typedlit(rows), rows.size)
      val asg = IndexStore.read(s, dir, "vectors")
        .select(col("vec_id"), col("ue"), col("cell"),
          element_at(sc, 2)("cid").cast("bigint").as("cell2"))
        .localCheckpoint(true) // consumers: both pair sides
      val (name, edges) =
        IndexStore.write(graphEdges(asg, asg), dir, "gedges", Seq("src"))
      IndexStore.Kind(Map(name -> edges), sweep = deriveGraphScheme(s, dir,
        IndexStore.read(s, dir, name, edges), target))
    }

  /** Number of in-index calibration queries the build-time scheme sweep
    * holds out — the same 8-query granularity as the q252 card (recall
    * quantized to eighths; a larger corpus could afford more, but the
    * oracle restates this constant so it stays a library constant). */
  private val GraphCalibQueries = 8

  /** Deterministic, corpus-spread calibration split of an index's own
    * nodes: the [[GraphCalibQueries]] smallest nodes by md5(vec_id) —
    * hash order decorrelates the split from the id-ordered centroid
    * seeds (the round-16 seed-coincidence class: "first k ids ARE the
    * centroids"), and a global ORDER BY…LIMIT is a distributed top-k,
    * never a single-partition window. Ties (none in practice — the hash
    * is 60 bits) break by vec_id. */
  private def graphCalibBatch(nodes: DataFrame): DataFrame =
    nodes.select(col("vec_id"), col("ue"),
        expr("cast(conv(substring(md5(cast(vec_id as string)), 1, 15), 16, 10) as bigint)")
          .as("hk"))
      .orderBy(col("hk"), col("vec_id")).limit(GraphCalibQueries)
      .select(col("vec_id").as("query_id"), col("ue").as("qu"))

  /** Run the [[GraphConfig.SweepArms]] grid on the index's OWN corpus
    * and derive its (entries, width, hops) — the graph twin of the LSH index
    * persisting its (bands, rows) and the semantic index its τ (the
    * round-16 verdict's top gap: `GraphConfig.MeasuredCurve` is a
    * compile-time constant pinned at sf0.01, so an index built on any
    * other corpus silently inherited a curve measured on someone
    * else's). Protocol: [[graphCalibBatch]] leave-one-out queries, ONE
    * multi-arm probe ([[graphArms]]) over every sweep arm, recall@1 per
    * arm vs the LEAVE-ONE-OUT [[exactTop1]] over the index's live nodes
    * (calibration queries are in-graph nodes, never entered or returned
    * as their own neighbor) from one grouped aggregate, scheme =
    * [[GraphConfig.schemeFor]] over exactly those rows, probing `edges` —
    * the build's own, not yet committed. Returns the full measured curve
    * with the chosen arm flagged, which the build commits as the kind's
    * `sweep`; probes read the chosen row back ([[indexScheme]]). The
    * scheme is index METADATA: appends/takedowns do not re-derive it
    * (aged like the centroids and τ, recalibrated offline by rebuilding
    * the graph kind). */
  private def deriveGraphScheme(s: SparkSession, dir: String, edges: DataFrame,
      target: Double): Seq[IndexStore.SweepArm] = {
    // Tombstones dropped BEFORE the calibration split and ground truth:
    // this is also the offline recalibration path (run after takedowns,
    // before compaction), where a tombstoned node picked as calibration
    // query or exact_id would systematically under-measure recall
    // against neighbors the probe (which does drop tombstones) can never
    // return — mis-choosing the persisted scheme.
    val nodes = IndexStore.dropTombstoned(
      IndexStore.read(s, dir, "vectors")
        .select(col("vec_id"), col("ue"), col("cell")),
      "vec_id", IndexStore.tombstones(s, dir))
    val calib = graphCalibBatch(nodes).localCheckpoint(true)
    val nCal = calib.count()
    val arms = GraphConfig.SweepArms
    val curve: Seq[(GraphConfig.Scheme, Double)] =
      if (nCal == 0) arms.map(_ -> 0.0)
      else {
        val prep = graphProbePrepUnit(s,
          calib.select(col("query_id").as("vec_id"), col("qu").as("ue")), dir,
          edges)
        val (frontier, _) = graphArms(s, prep, arms, needCost = false)
        // collect-bound: grouped by arm — one row per sweep arm
        val hits = armTop1(frontier).join(exactTop1(calib, nodes), "query_id")
          .groupBy(col("arm"))
          .agg(sum((col("found_id") === col("exact_id")).cast("long")))
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
        arms.indices.map(a => arms(a) -> hits.getOrElse(a, 0L).toDouble / nCal)
      }
    // An EMPTY index measures nothing: it takes the library default.
    val chosen =
      if (nCal == 0) GraphConfig.Default
      else GraphConfig.schemeFor(target, curve)
    curve.map { case (a, r) =>
      IndexStore.SweepArm(a.entries, a.width, a.hops, r, nCal, a == chosen) }
  }

  /** A graph kind's search scheme: its sweep's chosen row (the commit
    * refuses a graph kind without exactly one). */
  private def graphScheme(k: IndexStore.Kind): GraphConfig.Scheme =
    k.sweep.collectFirst { case a if a.chosen =>
      GraphConfig.Scheme(a.entries, a.width, a.hops) }.get

  /** The committed search scheme of a graph index; None when the index
    * has no graph kind. */
  private[graft] def loadGraphScheme(s: SparkSession,
      dir: String): Option[GraphConfig.Scheme] =
    IndexStore.manifest(s, dir).kinds.get("graph").map(graphScheme)

  /** The scheme a probe of `dir` runs at; throws naming the dir when it
    * has no graph kind. */
  private[graft] def indexScheme(s: SparkSession,
      dir: String): GraphConfig.Scheme =
    graphScheme(IndexStore.kind(s, dir, "graph"))

  /** Greedy (or width-`width` beam) search of a query batch through a
    * PERSISTED graph index: queries rank the frozen centroids to pick
    * their entry cell, then hop the bucketed `gedges` table exactly like
    * the ad-hoc search — (query_id, found_id, found_cos), tombstoned
    * nodes invisible (dropped from the node frame, so never entered,
    * expanded into, or returned).
    *
    * Plan shape per hop: the frontier is ≤ |Q|·width rows — always the
    * broadcast side — so neither corpus-sized table shuffles in the
    * production plan; under FORCED shuffle joins the `src` bucketing
    * keeps the edge expansion exchange-free (IndexColocationSpec's
    * gedges arm), while the ue-lookup join against `vectors` (bucketed
    * on `cell` for the IVF probe, not on vec_id) legitimately shuffles —
    * that join's big side streams against the broadcast frontier in any
    * real deployment, which is why vectors carries one layout, not two. */
  private[graft] def probeGraphIndex(s: SparkSession, batch: DataFrame,
      dir: String, entries: Int = -1, width: Int = -1,
      hops: Int = -1): DataFrame =
    // Cost discarded — the beam runs count-free (one job per hop).
    probeGraphIndexCost(s, batch, dir, entries, width, hops,
      needCost = false)._1

  /** The probe plus its executed cost frame — (top-1 per query, 1-row
    * Σ candidate-scorings) — q252's measured axis; [[probeGraphIndex]]
    * is this with the cost discarded. Non-positive knobs (the default)
    * resolve PER KNOB to the INDEX's committed scheme — the build-time
    * sweep on the index's own corpus ([[deriveGraphScheme]]) — so a
    * probe always searches the way the index it reads
    * was measured, across sessions and regardless of session conf (the
    * LshConfig persisted-scheme discipline applied to the graph index).
    * Explicit positive knobs override individually (the sweep/spec
    * path). A one-arm call of [[graphArms]].
    *
    * `entries` seeds one INDEPENDENT beam per top-`entries` query cell
    * (each entered at that cell's smallest-id live member) — the graph
    * twin of IVF's nprobe, and the knob that attacks the dominant
    * failure mode the q252 diagnosis exposed: a quantizer boundary
    * error at the ENTRY (true neighbor's cell ranked 2nd..Eth for the
    * query) is unreachable at any width from a single rank-1 entry,
    * because width only widens the walk INSIDE the entered component.
    * The LIMIT-2 corpus fallback applies only when none of the probed
    * cells holds a live non-self member. */
  private[graft] def probeGraphIndexCost(s: SparkSession, batch: DataFrame,
      dir: String, entries: Int, width: Int,
      hops: Int, needCost: Boolean = true): (DataFrame, DataFrame) = {
    lazy val own = indexScheme(s, dir)
    val arm = GraphConfig.Scheme(if (entries > 0) entries else own.entries,
      if (width > 0) width else own.width, if (hops > 0) hops else own.hops)
    val (found, cost) = probeGraphArms(s, batch, dir, Seq(arm), needCost)
    (found.drop("arm"), cost.drop("arm"))
  }

  /** The persisted probe at every scheme of `arms` at once — the arm is
    * a column, not a loop: [[armTop1]] rows plus the (arm, scored_cands)
    * cost frame, each arm's equal to a one-arm probe at its knobs. */
  private[queries] def probeGraphArms(s: SparkSession, batch: DataFrame,
      dir: String, arms: Seq[GraphConfig.Scheme],
      needCost: Boolean = true): (DataFrame, DataFrame) = {
    val (frontier, cost) = graphArms(s, graphProbePrep(s, batch, dir), arms,
      needCost)
    (armTop1(frontier), cost)
  }

  /** Probe inputs shared by every arm and entry rule, loaded once per
    * probe: node/edge frames (a persisted index's live ones), the query
    * batch with its ranked `qcells` (a persisted probe's FULL centroid
    * ranking — arms slice their own top-`entries`; the ad-hoc search's
    * own cell), and the 2-row entry fallback. */
  private case class GraphProbePrep(qv: DataFrame, nodes: DataFrame,
      edges: DataFrame, low2: Seq[Long])

  private def graphProbePrep(s: SparkSession, batch: DataFrame,
      dir: String): GraphProbePrep =
    graphProbePrepUnit(s, unitize(batch), dir,
      IndexStore.read(s, dir, "gedges"))

  /** [[graphProbePrep]] over an ALREADY-UNIT (vec_id, ue) frame — the
    * build-time scheme sweep probes the index with ITS OWN stored unit
    * vectors as calibration queries, and re-normalizing a stored unit
    * vector (÷ a norm that is 0.999… in floating point) would probe with
    * bit-different coordinates than the oracle's restatement reads from
    * the same store. */
  private def graphProbePrepUnit(s: SparkSession, unit: DataFrame,
      dir: String, gedges: DataFrame): GraphProbePrep = {
    val tombs = IndexStore.tombstones(s, dir)
    val nodes = IndexStore.dropTombstoned(
        IndexStore.read(s, dir, "vectors"), "vec_id", tombs)
      .select(col("vec_id"), col("ue"), col("cell"))
    val edges = gedges.select(col("src"), col("dst"))
    val rows: Seq[Seq[Double]] = centroidRows(s, dir)
    val sc = sortedCells(typedlit(rows), rows.size)
    val qv = unit.select(col("vec_id").as("query_id"),
        col("ue").as("qu"), sc.as("cells"))
      .select(col("query_id"), col("qu"),
        expr("transform(cells, c -> cast(c.cid as bigint))").as("qcells"))
      .localCheckpoint(true) // consumers: probed-cell spine + qu re-join
    GraphProbePrep(qv, nodes, edges, lowestTwo(nodes))
  }

  /** Cell-rule entries (arm, query_id, beam, node), arm i at
    * `arms(i).entries`: one beam per top-`entries` query cell, entered at
    * that cell's smallest-id live non-self member. */
  private def cellEntries(p: GraphProbePrep,
      arms: Seq[GraphConfig.Scheme]): DataFrame = {
    val probed = p.qv
      .select(col("query_id"), col("qcells"),
        posexplode(typedlit(arms.map(_.entries).toList)).as(Seq("arm", "e")))
      .select(col("arm"), col("query_id"),
        posexplode(slice(col("qcells"), lit(1), col("e")))
          .as(Seq("pos", "qcell")))
      .select(col("arm"), col("query_id"), (col("pos") + 1).as("beam"),
        col("qcell"))
    broadcast(probed)
      .join(p.nodes.select(col("cell").as("qcell"), col("vec_id").as("m")),
        "qcell")
      .filter(col("m") =!= col("query_id"))
      .groupBy(col("arm"), col("query_id"), col("beam"))
      .agg(min(col("m")).as("node"))
  }

  /** Hybrid entries (arm, query_id, beam, node): each probed cell
    * (`cell_rank` ≤ `entries` of an [[ivfAdcScoredRanked]] frame) seeds
    * one beam at its ADC-argmax candidate, beam = cell_rank. */
  private def hybridSeeds(scored: DataFrame, arm: Int,
      entries: Int): DataFrame = {
    val wc = Window.partitionBy(col("query_id"), col("cell_rank"))
      .orderBy(col("adc_cos").desc, col("neighbor_id"))
    scored.filter(col("cell_rank") <= entries)
      .withColumn("rn", row_number().over(wc))
      .filter(col("rn") === 1)
      .select(lit(arm).as("arm"), col("query_id"), col("cell_rank").as("beam"),
        col("neighbor_id").as("node"))
  }

  /** The beam entry frame (arm, query_id, qu, beam, node): every (arm in
    * `arms`, query) takes its rows of `entries`, or — when it has none —
    * one beam at the LIMIT-2 fallback, the smallest id not its own. One
    * left join reads `entries` once. */
  private def withFallback(p: GraphProbePrep, entries: DataFrame,
      arms: Seq[Int]): DataFrame =
    p.qv.select(explode(typedlit(arms.toList)).as("arm"), col("query_id"),
        col("qu"))
      .join(entries, Seq("arm", "query_id"), "left")
      .select(col("arm"), col("query_id"), col("qu"),
        coalesce(col("beam"), lit(0)).as("beam"),
        coalesce(col("node"), when(col("query_id") === lit(p.low2(0)),
          lit(p.low2(1))).otherwise(lit(p.low2(0)))).as("node"))

  /** The graph probe for every arm at once: [[cellEntries]] with the
    * fallback, then one [[beamCore]] chain walks all arms. */
  private def graphArms(s: SparkSession, p: GraphProbePrep,
      arms: Seq[GraphConfig.Scheme],
      needCost: Boolean): (DataFrame, DataFrame) =
    beamCore(s, withFallback(p, cellEntries(p, arms), arms.indices), p.nodes,
      p.edges, arms, needCost)

  /** Top-3 of a (query_id, node, gcos) beam pool, deduped across beams —
    * two walks reaching the same node must yield ONE result row, and the
    * dedup is exact even on the double gcos (same (query, node) scored
    * by the same codegen'd expression) — then cut by the q243 tie rule
    * (rank, ties included, (gcos DESC, node)). */
  private def poolTop3(frontier: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("gcos").desc, col("node"))
    frontier.select(col("query_id"), col("node"), col("gcos")).distinct()
      .withColumn("rnk", rank().over(w)).filter(col("rnk") <= 3)
      .select(col("query_id"), col("node").as("found_id"),
        col("gcos").as("found_cos"), col("rnk").cast("int").as("rnk"))
  }

  /** Top-3 search through the persisted graph index — the q243 result
    * shape (query_id, found_id, found_cos, rnk) for the graph member:
    * the final beam pool (≤ entries·width exact-scored candidates at
    * the derived default) cut by [[poolTop3]]. */
  private[graft] def probeGraphIndexTop3(s: SparkSession, batch: DataFrame,
      dir: String): DataFrame = {
    val own = indexScheme(s, dir)
    val (frontier, _) = graphArms(s, graphProbePrep(s, batch, dir), Seq(own),
      needCost = false)
    poolTop3(frontier)
  }

  /** Top-3 HYBRID search — the DiskANN serving shape as a PRODUCT query
    * (the round-16 verdict's q253 gap: the hybrid existed only as a
    * pricing card, its seeds capped by the ADC probe's [[IvfAdcNprobe]]
    * ceiling rather than the index's derived `entries`). Requires an
    * index dir carrying BOTH artifacts (PQ codes + gedges). Shape:
    *
    *  1. the query ranks the frozen centroids and ADC-scores the
    *     occupants of its top-`entries` cells (`entries` from the
    *     index's PERSISTED scheme — the graph knob, not the ADC nprobe
    *     constant: a cell the ADC probe would never open is exactly the
    *     entry a boundary-missed neighbor needs);
    *  2. each probed cell seeds ONE independent beam at that cell's
    *     ADC-argmax candidate ([[hybridSeeds]]) — a smarter entry than
    *     the graph probe's smallest-id member (the quantizer already
    *     ranked the cell's occupants; entering at its best guess shortens
    *     the walk); queries whose probed cells are all empty fall back to
    *     the graph probe's LIMIT-2 corpus entry;
    *  3. `width`-beam, `hops`-hop exact-scored refinement through the
    *     bucketed gedges ([[beamCore]] — the SAME engine as the graph
    *     probe), final pool cut by [[poolTop3]].
    *
    * Scale shape: stage 1 is the IVFADC probe's plan at nprobe=entries
    * (batch-sized, cell-bucketed codes join); stages 2-3 are the graph
    * probe's (frontier always the broadcast side) — composing them adds
    * no new plan class. The strategy card prices this exact shape as its
    * hybrid arm. */
  private[graft] def probeHybridTop3(s: SparkSession, batch: DataFrame,
      dir: String): DataFrame = {
    val own = indexScheme(s, dir)
    val p = graphProbePrep(s, batch, dir)
    val seeds = hybridSeeds(
      ivfAdcScoredRanked(s, batch, dir, nprobe = own.entries), 0, own.entries)
    // Cost discarded — the beam runs count-free (one job per hop).
    val (frontier, _) = beamCore(s, withFallback(p, seeds, Seq(0)), p.nodes,
      p.edges, Seq(own), needCost = false)
    poolTop3(frontier)
  }

  /** The shared q250 graph index: the q211 semantic index extended with
    * the gedges artifact, once per (session, corpus) — the same dir the
    * IVFADC artifacts ride, each arm independent. */
  private val graphIdxCache = new graft.SessionCache[String]
  private def builtGraphIndex(s: SparkSession, d: String): String =
    graphIdxCache.getOrBuild(s, d) {
      val dir = builtSemIndex(s, d)
      addGraphToSemIndex(s, dir)
      dir
    }

  /** q250 — search of the held-out query split through the PERSISTED
    * graph index at the [[GraphConfig]]-derived default (width, hops)
    * (the q243 discipline for the graph member: q245 proves the
    * algorithm ad hoc, this proves the deployable artifact end-to-end —
    * build through IndexStore, probe through the frozen-centroid entry
    * rule at the scheme the committed q252 sweep derives, results
    * bit-restated by the oracle). */
  private def q250(s: SparkSession, d: String): DataFrame =
    probeGraphIndex(s, ivfAdcQueries(s, d), builtGraphIndex(s, d))
      .orderBy("query_id")

  /** The persisted-graph base CTE chain shared by q250/q251/q252:
    * gedges construction + centroid-ranked query cells + entry (gh0).
    * Search chains are appended per (width, hops) arm by
    * [[graphBeamChain]]. */
  private def graphIdxCtes: String =
    s"""$semIndexCtes,
       |${graphTailCtes()}""".stripMargin

  /** The persisted-graph chain WITHOUT the leading [[semIndexCtes]] —
    * the composition twin of [[ivfAdcTailCtes]]. */
  /** The graph-index tail (edges + query/calibration frames), emitted
    * under an optional `ns` CTE-name prefix with the sem-layer base CTE
    * names injectable — which is what lets two differently-built corpora
    * (churned vs fresh, or several ClusterNoise operating points)
    * coexist in ONE oracle query. Defaults are byte-identical to the
    * historical un-prefixed chain. */
  private def graphTailCtes(ns: String = "", memberCte: String = "bassign",
      bccCte: String = "bcc", nodeCte: String = "buni",
      uCte: String = "u", centCte: String = "cent"): String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), z -> z[1] * z[2])), (x, y) -> x + y)"
    s"""${ns}bassign2 AS (
       |  SELECT vec_id, cid AS cell2 FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
       |    FROM $bccCte) t WHERE rn = 2),
       |${ns}gedges AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT a.vec_id AS src, b.vec_id AS dst,
       |      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
       |        ${dot("ua.ue", "ub.ue")} DESC, b.vec_id) AS rn
       |    FROM $memberCte a JOIN $memberCte b ON a.cell = b.cell AND a.vec_id <> b.vec_id
       |    JOIN $nodeCte ua ON ua.vec_id = a.vec_id
       |    JOIN $nodeCte ub ON ub.vec_id = b.vec_id) t
       |  WHERE rn <= $WithinDegree
       |  UNION ALL
       |  SELECT src, dst FROM (
       |    SELECT a.vec_id AS src, b.vec_id AS dst,
       |      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
       |        ${dot("ua.ue", "ub.ue")} DESC, b.vec_id) AS rn
       |    FROM ${ns}bassign2 a JOIN $memberCte b ON b.cell = a.cell2 AND a.vec_id <> b.vec_id
       |    JOIN $nodeCte ua ON ua.vec_id = a.vec_id
       |    JOIN $nodeCte ub ON ub.vec_id = b.vec_id) t
       |  WHERE rn <= $CrossDegree),
       |${ns}gq AS (SELECT vec_id, ue FROM $uCte WHERE vec_id % 5 = 0 AND vec_id < $IvfAdcQueryBound),
       |${ns}gqcc AS (
       |  SELECT q.vec_id, $centCte.cid, ${dot("q.ue", s"$centCte.cu")} AS cc
       |  FROM ${ns}gq q CROSS JOIN $centCte),
       |${ns}gqrank AS (
       |  SELECT vec_id AS query_id, cid AS qcell,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS cell_rank
       |  FROM ${ns}gqcc),
       |${ns}glows AS (SELECT vec_id FROM $nodeCte ORDER BY vec_id LIMIT 2),
       |${ns}gcq AS MATERIALIZED (
       |  SELECT vec_id FROM $memberCte
       |  ORDER BY CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 15) AS BIGINT), vec_id
       |  LIMIT $GraphCalibQueries),
       |${ns}gaq AS MATERIALIZED (
       |  SELECT b.vec_id, b.ue FROM $nodeCte b JOIN ${ns}gcq c ON c.vec_id = b.vec_id
       |  UNION ALL
       |  SELECT vec_id, ue FROM ${ns}gq),
       |${ns}gacc AS (
       |  SELECT q.vec_id, $centCte.cid, ${dot("q.ue", s"$centCte.cu")} AS cc
       |  FROM ${ns}gaq q CROSS JOIN $centCte),
       |${ns}garank AS MATERIALIZED (
       |  SELECT vec_id AS query_id, cid AS qcell,
       |    ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS cell_rank
       |  FROM ${ns}gacc),
       |${ns}gcex AS MATERIALIZED (
       |  SELECT query_id, neighbor_id AS exact_id FROM (
       |    SELECT c.vec_id AS query_id, b.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY c.vec_id ORDER BY
       |        ${dot("qu.ue", "b.ue")} DESC, b.vec_id) AS rn
       |    FROM ${ns}gcq c JOIN $nodeCte qu ON qu.vec_id = c.vec_id
       |    JOIN $nodeCte b ON b.vec_id <> c.vec_id) t
       |  WHERE rn = 1),
       |${ns}gncal AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_calib FROM ${ns}gcq)""".stripMargin
  }

  /** One (entries, width, hops) search chain over [[graphIdxCtes]],
    * CTEs prefixed `p`: entry = the smallest-id member of each of the
    * query's top-`entries` cells (`{p}em`, beam id = the cell's rank),
    * LIMIT-2 corpus fallback only when NO probed cell has a non-self
    * member (`{p}fb`), then per hop an expansion (`{p}nb\$t`) and a
    * per-BEAM deduped top-`width` cut (`{p}h\$t` — beams are
    * independent walks, the Scala beamCore partitioning), the final
    * across-beam per-query best (`{p}best`), and the arm's executed
    * candidate-scoring count (`{p}sc`). Emitted once per arm so
    * q250/q251 restate the default scheme and q252 restates every
    * sweep arm from the same builder. */
  private def graphBeamChain(p: String, entries: Int, width: Int,
      hops: Int, rankCte: String = "gqrank",
      qCte: String = "gq", memberCte: String = "bassign",
      nodeCte: String = "buni", uCte: String = "u",
      lowsCte: String = "glows", edgesCte: String = "gedges"): String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), z -> z[1] * z[2])), (x, y) -> x + y)"
    s"""${p}em AS MATERIALIZED (
       |  SELECT c.query_id, c.cell_rank AS beam, MIN(m.vec_id) AS node
       |  FROM $rankCte c JOIN $memberCte m ON m.cell = c.qcell AND m.vec_id <> c.query_id
       |  WHERE c.cell_rank <= $entries
       |  GROUP BY c.query_id, c.cell_rank),
       |${p}fb AS (
       |  SELECT g.vec_id AS query_id, CAST(0 AS BIGINT) AS beam,
       |    CASE WHEN g.vec_id = (SELECT MIN(vec_id) FROM $lowsCte)
       |         THEN (SELECT MAX(vec_id) FROM $lowsCte)
       |         ELSE (SELECT MIN(vec_id) FROM $lowsCte) END AS node
       |  FROM $qCte g
       |  WHERE NOT EXISTS (SELECT 1 FROM ${p}em e WHERE e.query_id = g.vec_id)),
       |${p}h0 AS MATERIALIZED (
       |  SELECT en.query_id, en.beam, en.node, ${dot("q.ue", "n.ue")} AS gcos
       |  FROM (SELECT query_id, beam, node FROM ${p}em
       |        UNION ALL SELECT query_id, beam, node FROM ${p}fb) en
       |  JOIN $nodeCte n ON n.vec_id = en.node
       |  JOIN $uCte q ON q.vec_id = en.query_id),
       |${beamHopCtes(p, width, hops, nodeCte, uCte, edgesCte)}""".stripMargin
  }

  /** The hop/best/cost portion of a beam chain — assumes `{p}h0`
    * (query_id, beam, node, gcos) exists; shared by [[graphBeamChain]]
    * (cell-min entries) and q253's hybrid chain (ADC-seeded entries). */
  private def beamHopCtes(p: String, width: Int, hops: Int,
      nodeCte: String = "buni", uCte: String = "u",
      edgesCte: String = "gedges"): String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), z -> z[1] * z[2])), (x, y) -> x + y)"
    def hop(t: Int) =
      s"""${p}nb$t AS MATERIALIZED (
         |  SELECT f.query_id, f.beam, n.vec_id AS node, ${dot("q.ue", "n.ue")} AS gcos
         |  FROM ${p}h${t - 1} f
         |  JOIN $edgesCte e ON e.src = f.node
         |  JOIN $nodeCte n ON n.vec_id = e.dst
         |  JOIN $uCte q ON q.vec_id = f.query_id
         |  WHERE e.dst <> f.query_id),
         |${p}h$t AS MATERIALIZED (
         |  SELECT query_id, beam, node, gcos FROM (
         |    SELECT query_id, beam, node, gcos,
         |      ROW_NUMBER() OVER (PARTITION BY query_id, beam ORDER BY gcos DESC, node) AS rn
         |    FROM (SELECT DISTINCT query_id, beam, node, gcos FROM
         |          (SELECT query_id, beam, node, gcos FROM ${p}h${t - 1}
         |           UNION ALL SELECT query_id, beam, node, gcos FROM ${p}nb$t) zz) z) t
         |  WHERE rn <= $width)""".stripMargin
    s"""${(1 to hops).map(hop).mkString(",\n")},
       |${p}best AS (
       |  SELECT query_id, node, gcos FROM (
       |    SELECT query_id, node, gcos,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY gcos DESC, node) AS rn
       |    FROM ${p}h$hops) t WHERE rn = 1),
       |${p}sc AS (
       |  SELECT CAST(${(1 to hops)
            .map(t => s"(SELECT COUNT(*) FROM ${p}nb$t)").mkString(" + ")}
       |    AS BIGINT) AS scored_cands)""".stripMargin
  }

  private def defaultChain(p: String): String = graphBeamChain(p,
    GraphConfig.Default.entries, GraphConfig.Default.width,
    GraphConfig.Default.hops)

  /** The build-time scheme derivation AND the scheme-driven search,
    * restated — the oracle twin of [[deriveGraphScheme]] +
    * [[probeGraphIndexCost]]'s metadata read: one beam chain per
    * [[GraphConfig.SweepArms]] arm over the COMBINED calibration ∪
    * held-out query set (beams are per-query independent, so one
    * combined batch ≡ the engine's two separate probes), per-arm
    * calibration recall against the leave-one-out exact top-1 (`gcex`),
    * the winner pick with [[GraphConfig.schemeFor]]'s exact ordering
    * (qualifying arms by modeled cost/hops/width/entries; fallback to
    * best-recall), and the held-out rows of the winning arm as
    * `gdbest` (top-1) / `gdpool` (final frontier, the q254 input). An
    * arm's chain only executes when referenced — DuckDB prunes the
    * losers' search CTEs where it can; the calibration arms all run, as
    * they do in the engine's build sweep. */
  private def derivedSchemeCtes(ns: String = "",
      memberCte: String = "bassign", nodeCte: String = "buni",
      uCte: String = "u"): String = {
    val arms = GraphConfig.SweepArms.zipWithIndex
    val chains = arms.map { case (a, i) =>
      graphBeamChain(s"${ns}w$i", a.entries, a.width, a.hops,
        rankCte = s"${ns}garank", qCte = s"${ns}gaq",
        memberCte = memberCte, nodeCte = nodeCte, uCte = uCte,
        lowsCte = s"${ns}glows", edgesCte = s"${ns}gedges")
    }.mkString(",\n")
    val chits = arms.map { case (_, i) =>
      s"""${ns}w${i}chit AS (
         |  SELECT CAST(COALESCE(SUM(CASE WHEN f.node = x.exact_id THEN 1 ELSE 0 END), 0) AS BIGINT) AS hits
         |  FROM ${ns}w${i}best f JOIN ${ns}gcex x USING (query_id))""".stripMargin
    }.mkString(",\n")
    val curve = arms.map { case (a, i) =>
      s"""  SELECT CAST(${a.entries} AS INTEGER) AS entries,
         |    CAST(${a.width} AS INTEGER) AS width,
         |    CAST(${a.hops} AS INTEGER) AS hops,
         |    CAST(${a.cost()} AS INTEGER) AS cost,
         |    (SELECT hits FROM ${ns}w${i}chit) AS hits""".stripMargin
    }.mkString("\n  UNION ALL\n")
    val best = arms.map { case (a, i) =>
      s"""  SELECT b.query_id, b.node, b.gcos FROM ${ns}w${i}best b, ${ns}gwin w
         |  WHERE w.entries = ${a.entries} AND w.width = ${a.width} AND w.hops = ${a.hops}
         |    AND b.query_id IN (SELECT vec_id FROM ${ns}gq)""".stripMargin
    }.mkString("\n  UNION ALL\n")
    val pool = arms.map { case (a, i) =>
      s"""  SELECT b.query_id, b.node, b.gcos FROM ${ns}w${i}h${a.hops} b, ${ns}gwin w
         |  WHERE w.entries = ${a.entries} AND w.width = ${a.width} AND w.hops = ${a.hops}
         |    AND b.query_id IN (SELECT vec_id FROM ${ns}gq)""".stripMargin
    }.mkString("\n  UNION ALL\n")
    // The winning arm's executed expansion count restricted to the
    // HELD-OUT queries — the combined chain's own {p}sc sums calibration
    // expansions too, which the engine's probe (held-out batch only)
    // never pays.
    val cost = arms.map { case (a, i) =>
      val hopSum = (1 to a.hops).map(t =>
        s"(SELECT COUNT(*) FROM ${ns}w${i}nb$t WHERE query_id IN (SELECT vec_id FROM ${ns}gq))")
        .mkString(" + ")
      s"""  SELECT CAST($hopSum AS BIGINT) AS scored_cands FROM ${ns}gwin w
         |  WHERE w.entries = ${a.entries} AND w.width = ${a.width} AND w.hops = ${a.hops}""".stripMargin
    }.mkString("\n  UNION ALL\n")
    val t = GraphConfig.DefaultTarget
    s"""$chains,
       |$chits,
       |${ns}gcurve AS (
       |$curve),
       |${ns}gwin AS (
       |  SELECT entries, width, hops FROM (
       |    SELECT g.entries, g.width, g.hops,
       |      ROW_NUMBER() OVER (ORDER BY
       |        CASE WHEN CAST(g.hits AS DOUBLE) / CAST(n.n_calib AS DOUBLE) >= $t THEN 1 ELSE 0 END DESC,
       |        CASE WHEN CAST(g.hits AS DOUBLE) / CAST(n.n_calib AS DOUBLE) >= $t THEN 0.0
       |             ELSE -(CAST(g.hits AS DOUBLE) / CAST(n.n_calib AS DOUBLE)) END,
       |        g.cost, g.hops, g.width, g.entries) AS rn
       |    FROM ${ns}gcurve g, ${ns}gncal n) z WHERE rn = 1),
       |${ns}gdbest AS (
       |$best),
       |${ns}gdpool AS (
       |$pool),
       |${ns}gdsc AS (
       |$cost)""".stripMargin
  }

  private def q250Sql: String =
    s"""WITH $graphIdxCtes,
       |${derivedSchemeCtes()}
       |SELECT query_id, node AS found_id, gcos AS found_cos FROM gdbest
       |ORDER BY query_id""".stripMargin

  /** q254 — graph-index top-3 search (the q243 result shape for the
    * graph member; see [[probeGraphIndexTop3]]). */
  private def q254(s: SparkSession, d: String): DataFrame =
    probeGraphIndexTop3(s, ivfAdcQueries(s, d), builtGraphIndex(s, d))
      .orderBy("query_id", "rnk", "found_id")

  private def q254Sql: String =
    s"""WITH $graphIdxCtes,
       |${derivedSchemeCtes()}
       |SELECT query_id, found_id, found_cos, rnk FROM (
       |  SELECT query_id, node AS found_id, gcos AS found_cos,
       |    CAST(RANK() OVER (PARTITION BY query_id ORDER BY gcos DESC, node) AS INTEGER) AS rnk
       |  FROM (SELECT DISTINCT query_id, node, gcos FROM gdpool) z) t
       |WHERE rnk <= 3
       |ORDER BY query_id, rnk, found_id""".stripMargin

  /** q256 — hybrid top-3 search through BOTH persisted artifacts (see
    * [[probeHybridTop3]]): ADC seeds from the index-scheme-derived
    * `entries` cells, graph refinement at the index's (width, hops),
    * the q243/q254 ranked consumer shape.
    *
    * STATUS (round 18, the q259→q261 promote-or-retire decision): the
    * hybrid is RETIRED as a default strategy — with the permutation PQ
    * (q259) it ties the graph arm's recall at 2.6× the bill, and with
    * the OPQ learned rotation (q261) it reads 0.375 vs the graph's 0.5
    * at sf0.1 at the same 2.6× bill; the graph probe at the index's own
    * derived scheme dominates on every committed scale. q256 stays
    * registered as the ranked consumer shape for deployments that
    * already pay for both artifacts. */
  private def q256(s: SparkSession, d: String): DataFrame = {
    builtIvfAdc(s, d) // ensures the PQ artifacts on the shared dir
    val dir = builtGraphIndex(s, d) // same dir; ensures the graph kind
    probeHybridTop3(s, ivfAdcQueries(s, d), dir)
      .orderBy("query_id", "rnk", "found_id")
  }

  /** The hybrid search restated over the composed tails: ADC candidates
    * of the top-`gwin.entries` cells (DYNAMIC nprobe — a scalar subquery
    * against the restated scheme derivation, which is why the winner CTE
    * machinery rides along), per-cell argmax seeds, then one beam chain
    * per DISTINCT (width, hops) in the sweep grid with the winner's
    * chain selected at the end — width/hops are structural (unrolled
    * hops), so every possible shape is emitted and the scheme picks. */
  private def q256Sql: String =
    s"""WITH $semIndexCtes,
       |$ivfAdcTailCtes,
       |${graphTailCtes()},
       |${derivedSchemeCtes()},
       |${hybridCtes()}
       |SELECT query_id, found_id, found_cos, rnk FROM (
       |  SELECT query_id, node AS found_id, gcos AS found_cos,
       |    CAST(RANK() OVER (PARTITION BY query_id ORDER BY gcos DESC, node) AS INTEGER) AS rnk
       |  FROM (SELECT DISTINCT query_id, node, gcos FROM hbpool) z) t
       |WHERE rnk <= 3
       |ORDER BY query_id, rnk, found_id""".stripMargin

  /** The hybrid probe's CTE block — assumes the sem-index + ADC + graph
    * tails and [[derivedSchemeCtes]] (for `gwin`) precede it. Ends with
    * `hbpool` (the final beam pool of the winning shape) and `hbsc`
    * (its executed expansion count); `hbscore`'s row count is the ADC
    * pair bill. */
  private def hybridCtes(qccCte: String = "qcc", codesCte: String = "rcodes",
      lutCte: String = "qlut", ns: String = "",
      nodeCte: String = "buni", uCte: String = "u"): String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), z -> z[1] * z[2])), (x, y) -> x + y)"
    val shapes = GraphConfig.SweepArms.map(a => (a.width, a.hops)).distinct
    val chains = shapes.map { case (w, h) =>
      s"""hb${w}x${h}h0 AS (SELECT query_id, beam, node, gcos FROM hbh0),
         |${beamHopCtes(s"hb${w}x$h", w, h, nodeCte, uCte, s"${ns}gedges")}""".stripMargin
    }.mkString(",\n")
    val pool = shapes.map { case (w, h) =>
      s"""  SELECT b.query_id, b.node, b.gcos FROM hb${w}x${h}h$h b, ${ns}gwin x
         |  WHERE x.width = $w AND x.hops = $h""".stripMargin
    }.mkString("\n  UNION ALL\n")
    val cost = shapes.map { case (w, h) =>
      s"""  SELECT sc.scored_cands FROM hb${w}x${h}sc sc, ${ns}gwin x
         |  WHERE x.width = $w AND x.hops = $h""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""hbprobe AS (
       |  SELECT vec_id, cell, cc, cell_rank FROM (
       |    SELECT vec_id, cid AS cell, cc,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS cell_rank
       |    FROM $qccCte) t WHERE cell_rank <= (SELECT entries FROM ${ns}gwin)),
       |hbcand AS (
       |  SELECT p.vec_id AS query_id, p.cell_rank, p.cc AS coarse, r.vec_id AS neighbor_id
       |  FROM hbprobe p
       |  JOIN (SELECT DISTINCT vec_id, cell FROM $codesCte) r ON r.cell = p.cell
       |  WHERE r.vec_id <> p.vec_id),
       |hbcontrib AS (
       |  SELECT c.query_id, c.cell_rank, c.neighbor_id, c.coarse, rc.sub, l.dotv
       |  FROM hbcand c JOIN $codesCte rc ON rc.vec_id = c.neighbor_id
       |  JOIN $lutCte l ON l.query_id = c.query_id AND l.sub = rc.sub AND l.cid = rc.code),
       |hbscore AS MATERIALIZED (
       |  SELECT query_id, cell_rank, neighbor_id,
       |    MIN(coarse) + list_reduce(list_prepend(0.0, list(dotv ORDER BY sub)),
       |      (a, b) -> a + b) AS adc_cos
       |  FROM hbcontrib GROUP BY query_id, cell_rank, neighbor_id),
       |hbseed AS MATERIALIZED (
       |  SELECT query_id, CAST(cell_rank AS BIGINT) AS beam, neighbor_id AS node FROM (
       |    SELECT query_id, cell_rank, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id, cell_rank ORDER BY adc_cos DESC, neighbor_id) AS rn
       |    FROM hbscore) t WHERE rn = 1),
       |hbfb AS (
       |  SELECT g.vec_id AS query_id, CAST(0 AS BIGINT) AS beam,
       |    CASE WHEN g.vec_id = (SELECT MIN(vec_id) FROM ${ns}glows)
       |         THEN (SELECT MAX(vec_id) FROM ${ns}glows)
       |         ELSE (SELECT MIN(vec_id) FROM ${ns}glows) END AS node
       |  FROM ${ns}gq g
       |  WHERE NOT EXISTS (SELECT 1 FROM hbseed e WHERE e.query_id = g.vec_id)),
       |hbh0 AS MATERIALIZED (
       |  SELECT en.query_id, en.beam, en.node, ${dot("q.ue", "n.ue")} AS gcos
       |  FROM (SELECT query_id, beam, node FROM hbseed
       |        UNION ALL SELECT query_id, beam, node FROM hbfb) en
       |  JOIN $nodeCte n ON n.vec_id = en.node
       |  JOIN $uCte q ON q.vec_id = en.query_id),
       |$chains,
       |hbpool AS (
       |$pool),
       |hbsc AS (
       |$cost)""".stripMargin
  }

  /** Exact top-1 of the held-out query split (vec_id % 5 = 0 under the
    * ADC bound) against the indexed base split — the recall reference
    * shared by the q251 health card and the q252 sweep. Brute-force by
    * design: it is the measurement's ground truth, |Q| broadcast. */
  /** q260 — graph-scheme observability card: the graph kind's committed
    * `sweep` read back verbatim (one row per sweep arm, the measured
    * calibration curve, exactly one chosen row). The oracle RE-RUNS the
    * build-time derivation and must agree arm-by-arm — the card is the
    * executable proof that the metadata a probe trusts equals what a
    * fresh derivation would produce (the q212/q251 observability idiom
    * for the scheme artifact itself). */
  private def q260(s: SparkSession, d: String): DataFrame = {
    val dir = builtGraphIndex(s, d)
    import s.implicits._
    IndexStore.kind(s, dir, "graph").sweep
      .toDF("entries", "width", "hops", "recall_at1", "n_calib", "chosen")
      .orderBy("entries", "width", "hops")
  }

  private def q260Sql: String =
    s"""WITH $graphIdxCtes,
       |${derivedSchemeCtes()}
       |SELECT g.entries, g.width, g.hops,
       |  CAST(g.hits AS DOUBLE) / CAST(n.n_calib AS DOUBLE) AS recall_at1,
       |  n.n_calib,
       |  (g.entries = w.entries AND g.width = w.width AND g.hops = w.hops) AS chosen
       |FROM gcurve g, gncal n, gwin w
       |ORDER BY g.entries, g.width, g.hops""".stripMargin

  // ------------------------------------------------------------ q255 (OPQ)

  /** The q255 index: the SAME base split under a LEARNED-ROTATION OPQ
    * build — `addPqToSemIndex(learnedRotation = true)`, the arm that
    * was spec-only through round 16 (IvfAdcSpec/OpqSpec own the
    * production shape; the oracles kept the permutation build). The
    * oracled build pins `rotIters = 1` — one subspace-iteration round,
    * exactly the `lloydIters = 1` discipline: with V₀ = I the round's
    * Y is the residual second-moment matrix itself (the identity dots
    * reproduce each coordinate bit-for-bit), so the oracle restates Y
    * as one fixed-point aggregation and the orthonormalization as a
    * flattened modified-Gram-Schmidt RECURSION (2080 list-algebra
    * steps at d = 64 — a recursive CTE, the unrolled-CTE discipline's
    * limit case); production sizes rotIters freely, spec-owned.
    * Non-degenerate-corpus caveat: the oracle restates the MGS path
    * without the rank-deficiency fallback (never reachable on a
    * full-rank residual moment matrix; verified bit-green at all three
    * committed scales — a degenerate corpus is OpqSpec's territory). */
  private val opqIdxCache = new graft.SessionCache[String]
  private def builtOpqIdx(s: SparkSession, d: String): String =
    opqIdxCache.getOrBuild(s, d) {
      val dir = graft.Scratch.dir("opqidx", s, d)
      buildSemIndex(s,
        t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
          .filter(col("vec_id") % 5 =!= 0), dir)
      addPqToSemIndex(s, dir, lloydIters = 1, learnedRotation = true,
        rotIters = 1)
      dir
    }

  /** q255 — ADC search through the ROTATED-build IVFADC index (the q243
    * consumer shape over the committed rotation: coarse ranks use the
    * raw query, the LUT gathers from the rotated one — ⟨q,r⟩ = ⟨Rq,Rr⟩,
    * codewords live in the rotated space). */
  private def q255(s: SparkSession, d: String): DataFrame =
    probeIvfAdcTop3(s, ivfAdcQueries(s, d), builtOpqIdx(s, d))
      .orderBy("query_id", "rnk", "neighbor_id")

  /** The OPQ tail: residual moment matrix (fixed-point) → flattened
    * MGS recursion (`omgs`) → Rayleigh eigenvalues → portable-ln greedy
    * allocation recursion (`oalloc`) → rotated residuals → seed books +
    * one Lloyd round → rotated-query ADC probe. Restates
    * [[trainRotation]](iters = 1) + [[opqAllocate]] +
    * [[addPqToSemIndex]](learnedRotation) + the rot arm of
    * [[ivfAdcScoredCands]]. */
  /** The OPQ build + rotated-ADC-probe tail factored for composition:
    * [[trainRotation]](iters = 1) + [[opqAllocate]] +
    * [[addPqToSemIndex]](learnedRotation) + the rot arm of
    * [[ivfAdcScoredCands]], restated from `oresid` through `oascore`
    * over whatever base chain provides `params`/`u`/`buni`/`cent`/
    * `bassign` — q255 composes it over [[semIndexCtes]], q261 over the
    * planted-cluster base. `tag` disambiguates the generated
    * portable-ln column name per card. */
  private def opqTailCtes(tag: String, rotIters: Int = 1): String = {
    require(rotIters == 1 || rotIters == 2,
      s"oracled OPQ builds restate 1 or 2 subspace-iteration rounds: $rotIters")
    def dot(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), z -> z[1] * z[2])), (x, y) -> x + y)"
    val sc = "67108864.0"
    // One flattened-MGS recursion + its final-rotation read, name-prefixed
    // so the iters=2 chain runs it twice (the iters=1 emission is
    // byte-identical to the historical inline block).
    def mgsBlock(p: String, ylCte: String): String =
      s"""${p}mgs(k, q, w, o) AS (
         |  SELECT 0, 0, (SELECT ys[1] FROM $ylCte), CAST([] AS DOUBLE[][])
         |  UNION ALL
         |  SELECT
         |    CASE WHEN z.q < z.k THEN z.k ELSE z.k + 1 END,
         |    CASE WHEN z.q < z.k THEN z.q + 1 ELSE 0 END,
         |    CASE WHEN z.q < z.k THEN
         |        list_transform(list_zip(z.w, z.o[z.q + 1]), y -> y[1] - z.pj * y[2])
         |      WHEN z.k + 1 < z.d THEN (SELECT ys FROM $ylCte)[z.k + 2]
         |      ELSE CAST(NULL AS DOUBLE[]) END,
         |    CASE WHEN z.q < z.k THEN z.o
         |      ELSE list_append(z.o, list_transform(z.w, e -> e / z.nw)) END
         |  FROM (
         |    SELECT a.k, a.q, a.w, a.o, dd.d,
         |      CASE WHEN a.q < a.k THEN ${dot("a.w", "a.o[a.q + 1]")} END AS pj,
         |      CASE WHEN a.q = a.k THEN sqrt(${dot("a.w", "a.w")}) END AS nw
         |    FROM ${p}mgs a, odd dd WHERE a.k < dd.d) z),
         |${p}rot AS MATERIALIZED (
         |  SELECT o AS vs FROM ${p}mgs WHERE k = (SELECT d FROM odd) AND q = 0)""".stripMargin
    // iters = 1: one MGS over the raw moment matrix, final names omgs/orot.
    // iters = 2: the engine's second round recomputes Y against the
    // iteration-1 rotation (sv = V₁·re, Y₂[k][p] = Σ fp(re[p]·sv[k])) and
    // orthonormalizes THAT — so the chain runs MGS over oyl → oarot,
    // builds oyl2 from it, and the FINAL omgs/orot read oyl2; every
    // downstream consumer (eigenvalues, allocation, rotation) is
    // iteration-count-agnostic because it only reads `orot`.
    val rotChain =
      if (rotIters == 1) mgsBlock("o", "oyl")
      else
        s"""${mgsBlock("oa", "oyl")},
           |ody2 AS MATERIALIZED (
           |  SELECT k, p,
           |    CAST(SUM(CAST(floor(r.re[p] * ${dot("r.re", "rv.vs[k]")} * $sc) AS BIGINT)) AS BIGINT) AS yfp
           |  FROM oresid r CROSS JOIN oarot rv,
           |    (SELECT unnest(generate_series(1, (SELECT d FROM odd))) AS k),
           |    (SELECT unnest(generate_series(1, (SELECT d FROM odd))) AS p)
           |  GROUP BY k, p),
           |oymat2 AS (
           |  SELECT k, list(CAST(yfp AS DOUBLE) / $sc ORDER BY p) AS yr
           |  FROM ody2 GROUP BY k),
           |oyl2 AS MATERIALIZED (SELECT list(yr ORDER BY k) AS ys FROM oymat2),
           |${mgsBlock("o", "oyl2")}""".stripMargin
    // Any-magnitude portable-ln stages over the (λ max 1e-12) argument,
    // chained one CTE per stage (the q210 idiom) keyed by sort position.
    val lnStages = graft.queries.LmOps.lnAnySteps("xin", tag)
    val lnCtes = lnStages.zipWithIndex.map { case ((name, defn), i) =>
      val prev = if (i == 0) "olnsrc" else s"olnst${i - 1}"
      s"olnst$i AS (SELECT *, $defn AS $name FROM $prev)"
    }.mkString(",\n")
    val lnLast = s"olnst${lnStages.size - 1}"
    // Eligibility + lowest-index argmin cascade over the 4 subspaces —
    // evaluated INSIDE the (y ⋈ s) layer, before the z-aliased update.
    def elig(j: Int) = s"(y.u$j < y.c$j)"
    def beats(j: Int, o: Int) = s"(NOT ${elig(o)} OR y.p$j <= y.p$o)"
    val pick =
      s"""CASE WHEN ${elig(0)} AND ${beats(0, 1)} AND ${beats(0, 2)} AND ${beats(0, 3)} THEN 0
         |     WHEN ${elig(1)} AND ${beats(1, 2)} AND ${beats(1, 3)} THEN 1
         |     WHEN ${elig(2)} AND ${beats(2, 3)} THEN 2
         |     ELSE 3 END""".stripMargin
    def upd(j: Int, cur: String, add: String) =
      s"CASE WHEN z.js = $j THEN $add ELSE $cur END"
    s"""oresid AS MATERIALIZED (
       |  SELECT a.vec_id, a.cell,
       |    list_transform(list_zip(b.ue, c.cu), z -> z[1] - z[2]) AS re
       |  FROM bassign a JOIN buni b ON b.vec_id = a.vec_id
       |  JOIN cent c ON c.cid = a.cell),
       |odd AS (SELECT CAST(COALESCE(MAX(len(re)), 0) AS INTEGER) AS d FROM oresid),
       |ody AS MATERIALIZED (
       |  SELECT k, p,
       |    CAST(SUM(CAST(floor(re[p] * re[k] * $sc) AS BIGINT)) AS BIGINT) AS yfp
       |  FROM oresid,
       |    (SELECT unnest(generate_series(1, (SELECT d FROM odd))) AS k),
       |    (SELECT unnest(generate_series(1, (SELECT d FROM odd))) AS p)
       |  GROUP BY k, p),
       |oymat AS (
       |  SELECT k, list(CAST(yfp AS DOUBLE) / $sc ORDER BY p) AS yr
       |  FROM ody GROUP BY k),
       |oyl AS MATERIALIZED (SELECT list(yr ORDER BY k) AS ys FROM oymat),
       |$rotChain,
       |olamtab AS MATERIALIZED (
       |  SELECT t.k,
       |    CAST(SUM(CAST(floor(t.s * t.s * $sc) AS BIGINT)) AS DOUBLE) / $sc AS lam
       |  FROM (
       |    SELECT gs.k, ${dot("r.re", "rv.vs[gs.k]")} AS s
       |    FROM oresid r CROSS JOIN orot rv
       |    CROSS JOIN (SELECT unnest(generate_series(1, (SELECT d FROM odd))) AS k) gs) t
       |  GROUP BY t.k),
       |olnsrc AS (
       |  SELECT ROW_NUMBER() OVER (ORDER BY lam DESC, k) AS t, k, lam,
       |    GREATEST(lam, 1e-12) AS xin
       |  FROM olamtab),
       |$lnCtes,
       |ocaps AS (
       |  SELECT
       |    CAST(SUM(CASE WHEN (i - 1) % 4 = 0 THEN 1 ELSE 0 END) AS INTEGER) AS c0,
       |    CAST(SUM(CASE WHEN (i - 1) % 4 = 1 THEN 1 ELSE 0 END) AS INTEGER) AS c1,
       |    CAST(SUM(CASE WHEN (i - 1) % 4 = 2 THEN 1 ELSE 0 END) AS INTEGER) AS c2,
       |    CAST(SUM(CASE WHEN (i - 1) % 4 = 3 THEN 1 ELSE 0 END) AS INTEGER) AS c3
       |  FROM (SELECT unnest(generate_series(1, (SELECT d FROM odd))) AS i)),
       |oalloc(t, u0, u1, u2, u3, p0, p1, p2, p3, o0, o1, o2, o3) AS (
       |  SELECT 0, 0, 0, 0, 0, 0e0, 0e0, 0e0, 0e0,
       |    CAST([] AS BIGINT[]), CAST([] AS BIGINT[]),
       |    CAST([] AS BIGINT[]), CAST([] AS BIGINT[])
       |  UNION ALL
       |  SELECT z.t + 1,
       |    ${upd(0, "z.u0", "z.u0 + 1")}, ${upd(1, "z.u1", "z.u1 + 1")},
       |    ${upd(2, "z.u2", "z.u2 + 1")}, ${upd(3, "z.u3", "z.u3 + 1")},
       |    ${upd(0, "z.p0", s"z.p0 + z.ln$tag")},
       |    ${upd(1, "z.p1", s"z.p1 + z.ln$tag")},
       |    ${upd(2, "z.p2", s"z.p2 + z.ln$tag")},
       |    ${upd(3, "z.p3", s"z.p3 + z.ln$tag")},
       |    ${upd(0, "z.o0", "list_append(z.o0, z.k)")},
       |    ${upd(1, "z.o1", "list_append(z.o1, z.k)")},
       |    ${upd(2, "z.o2", "list_append(z.o2, z.k)")},
       |    ${upd(3, "z.o3", "list_append(z.o3, z.k)")}
       |  FROM (
       |    SELECT y.*, s.k, s.ln$tag, $pick AS js
       |    FROM (
       |      SELECT a.*, cp.c0, cp.c1, cp.c2, cp.c3
       |      FROM oalloc a, ocaps cp) y
       |    JOIN $lnLast s ON s.t = y.t + 1) z),
       |odl AS MATERIALIZED (
       |  SELECT 0 AS sub, list_sort(o0) AS dims FROM oalloc WHERE t = (SELECT d FROM odd)
       |  UNION ALL
       |  SELECT 1, list_sort(o1) FROM oalloc WHERE t = (SELECT d FROM odd)
       |  UNION ALL
       |  SELECT 2, list_sort(o2) FROM oalloc WHERE t = (SELECT d FROM odd)
       |  UNION ALL
       |  SELECT 3, list_sort(o3) FROM oalloc WHERE t = (SELECT d FROM odd)),
       |orre AS MATERIALIZED (
       |  SELECT r.vec_id, r.cell,
       |    list_transform(rv.vs, v -> ${dot("r.re", "v")}) AS re
       |  FROM oresid r CROSS JOIN orot rv),
       |opv AS (
       |  SELECT orre.vec_id, orre.cell, odl.sub,
       |    list_transform(odl.dims, ix -> orre.re[ix]) AS pv
       |  FROM orre CROSS JOIN odl),
       |ocent0 AS (
       |  SELECT 0 AS cid, odl.sub, list_transform(odl.dims, ix -> 0e0) AS cv
       |  FROM odl
       |  UNION ALL
       |  SELECT CAST(t.rn - (SELECT k FROM params) AS INTEGER) AS cid,
       |    p.sub, p.pv AS cv
       |  FROM (SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
       |        FROM orre) t
       |  JOIN opv p ON p.vec_id = t.vec_id
       |  WHERE t.rn > (SELECT k FROM params)
       |    AND t.rn <= (SELECT k FROM params) + ${PqKsub - 1}),
       |od20 AS (
       |  SELECT p.vec_id, p.sub, c.cid,
       |    list_reduce(list_prepend(0.0, list_transform(list_zip(p.pv, c.cv),
       |      z -> (z[1] - z[2]) * (z[1] - z[2]))), (a, b) -> a + b) AS d2
       |  FROM opv p JOIN ocent0 c ON c.sub = p.sub),
       |ocodes0 AS (
       |  SELECT vec_id, sub, cid AS code FROM (
       |    SELECT vec_id, sub, cid, d2,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
       |    FROM od20) t WHERE rn = 1),
       |osublen AS (SELECT sub, MAX(len(pv)) AS l FROM opv GROUP BY sub),
       |oposs AS (SELECT sub, unnest(generate_series(1, l)) AS pos FROM osublen),
       |om1 AS (
       |  SELECT r.sub, r.code AS cid, s.pos,
       |    CAST(SUM(CAST(floor(p.pv[s.pos] * $sc) AS BIGINT)) AS DOUBLE)
       |      / ($sc * CAST(COUNT(*) AS DOUBLE)) AS m
       |  FROM ocodes0 r
       |  JOIN opv p ON p.vec_id = r.vec_id AND p.sub = r.sub
       |  JOIN oposs s ON s.sub = r.sub
       |  GROUP BY r.sub, r.code, s.pos),
       |ocent AS MATERIALIZED (
       |  SELECT c0.sub, c0.cid, COALESCE(m.cv, c0.cv) AS cv
       |  FROM ocent0 c0 LEFT JOIN (
       |    SELECT sub, cid, list(m ORDER BY pos) AS cv FROM om1 GROUP BY sub, cid) m
       |  ON m.sub = c0.sub AND m.cid = c0.cid),
       |od2 AS (
       |  SELECT p.vec_id, p.cell, p.sub, c.cid,
       |    list_reduce(list_prepend(0.0, list_transform(list_zip(p.pv, c.cv),
       |      z -> (z[1] - z[2]) * (z[1] - z[2]))), (a, b) -> a + b) AS d2
       |  FROM opv p JOIN ocent c ON c.sub = p.sub),
       |ocodes AS MATERIALIZED (
       |  SELECT vec_id, cell, sub, cid AS code FROM (
       |    SELECT vec_id, cell, sub, cid, d2,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id, sub ORDER BY d2, cid) AS rn
       |    FROM od2) t WHERE rn = 1),
       |oqv AS (SELECT vec_id, ue FROM u WHERE vec_id % 5 = 0 AND vec_id < $IvfAdcQueryBound),
       |oqcc AS (
       |  SELECT q.vec_id, cent.cid, ${dot("q.ue", "cent.cu")} AS cc
       |  FROM oqv q CROSS JOIN cent),
       |oqprobe AS (
       |  SELECT vec_id, cid AS cell, cc FROM (
       |    SELECT vec_id, cid, cc,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
       |    FROM oqcc) t WHERE rn <= $IvfAdcNprobe),
       |oqrot AS (
       |  SELECT q.vec_id, list_transform(rv.vs, v -> ${dot("q.ue", "v")}) AS re
       |  FROM oqv q CROSS JOIN orot rv),
       |oqpv AS (
       |  SELECT q.vec_id, odl.sub, list_transform(odl.dims, ix -> q.re[ix]) AS pv
       |  FROM oqrot q CROSS JOIN odl),
       |oqlut AS (
       |  SELECT p.vec_id AS query_id, c.sub, c.cid,
       |    list_reduce(list_prepend(0.0, list_transform(list_zip(p.pv, c.cv),
       |      z -> z[1] * z[2])), (a, b) -> a + b) AS dotv
       |  FROM oqpv p JOIN ocent c ON c.sub = p.sub),
       |ocand AS (
       |  SELECT p.vec_id AS query_id, p.cc AS coarse, r.vec_id AS neighbor_id
       |  FROM oqprobe p
       |  JOIN (SELECT DISTINCT vec_id, cell FROM ocodes) r ON r.cell = p.cell
       |  WHERE r.vec_id <> p.vec_id),
       |ocontrib AS (
       |  SELECT c.query_id, c.neighbor_id, c.coarse, rc.sub, l.dotv
       |  FROM ocand c JOIN ocodes rc ON rc.vec_id = c.neighbor_id
       |  JOIN oqlut l ON l.query_id = c.query_id AND l.sub = rc.sub AND l.cid = rc.code),
       |oascore AS (
       |  SELECT query_id, neighbor_id,
       |    MIN(coarse) + list_reduce(list_prepend(0.0, list(dotv ORDER BY sub)),
       |      (a, b) -> a + b) AS adc_cos
       |  FROM ocontrib GROUP BY query_id, neighbor_id)""".stripMargin
  }

  private def q255Sql: String =
    s"""WITH RECURSIVE $semIndexCtes,
       |${opqTailCtes("q255")}
       |SELECT query_id, neighbor_id, adc_cos, rnk FROM (
       |  SELECT query_id, neighbor_id, adc_cos,
       |    CAST(RANK() OVER (PARTITION BY query_id ORDER BY adc_cos DESC, neighbor_id) AS INTEGER) AS rnk
       |  FROM oascore) t WHERE rnk <= 3
       |ORDER BY query_id, rnk, neighbor_id""".stripMargin

  /** The q264 index: `rotIters = 2` — the second subspace-iteration
    * round ORACLED (round 18 stretch; q255 stopped at the seed round,
    * the lloydIters precedent). Two rounds prove the ITERATION — Y
    * recomputed against the iteration-1 rotation (sv = V₁·re), a second
    * flattened-MGS recursion — not just the V₀ = I seed coincidence.
    * Production rotIters = 4 stays spec-owned (IvfAdcSpec/OpqSpec). */
  private val opqIdx2Cache = new graft.SessionCache[String]
  private def builtOpqIdx2(s: SparkSession, d: String): String =
    opqIdx2Cache.getOrBuild(s, d) {
      val dir = graft.Scratch.dir("opqidx2", s, d)
      buildSemIndex(s,
        t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
          .filter(col("vec_id") % 5 =!= 0), dir)
      addPqToSemIndex(s, dir, lloydIters = 1, learnedRotation = true,
        rotIters = 2)
      dir
    }

  /** q264 — ADC search through the rotIters = 2 OPQ build (the q255
    * consumer shape one iteration deeper). */
  private def q264(s: SparkSession, d: String): DataFrame =
    probeIvfAdcTop3(s, ivfAdcQueries(s, d), builtOpqIdx2(s, d))
      .orderBy("query_id", "rnk", "neighbor_id")

  private def q264Sql: String =
    s"""WITH RECURSIVE $semIndexCtes,
       |${opqTailCtes("q264", rotIters = 2)}
       |SELECT query_id, neighbor_id, adc_cos, rnk FROM (
       |  SELECT query_id, neighbor_id, adc_cos,
       |    CAST(RANK() OVER (PARTITION BY query_id ORDER BY adc_cos DESC, neighbor_id) AS INTEGER) AS rnk
       |  FROM oascore) t WHERE rnk <= 3
       |ORDER BY query_id, rnk, neighbor_id""".stripMargin

  // ------------------------------------------------- clustered ANN corpus

  /** Planted-cluster embedding derivation (round 17, the round-16
    * verdict's item 2): the committed synthetic embeddings are
    * near-random, so above sf0.01 EVERY graph/hybrid recall number
    * measured tie-break noise (PLANS' honest "recall@1 = 0.0 at sf0.1
    * on every arm" wall) — there is no local structure for greedy
    * routing to exploit, which real embedding corpora have. This
    * derivation PLANTS that structure deterministically and
    * oracle-restatably: cluster id = md5('gclu|' ‖ vec_id) mod
    * [[ClusterCount]] (the q136/q100 hex idiom — hash, not vec_id
    * arithmetic, so clusters decorrelate from the %5 held-out split and
    * the id-ordered centroid seeds), clustered vector = unit(anchor of
    * the cluster) + [[ClusterNoise]]·unit(original embedding), anchors =
    * the unit vectors of rows 0..7. Downstream consumers re-normalize
    * (buildSemIndex/unitize), so the mixture needs no normalization
    * here. At noise 0.6 the within-cluster cosine sits near
    * 1/(1+0.36) ≈ 0.74 while cross-cluster pairs stay near the anchors'
    * ≈0 — separated enough that a query's true neighbor is (almost
    * always) in its own cluster, confusable enough that entries/width
    * still earn their keep. The q257/q258/q259 cards run the SAME index
    * machinery over this corpus; the committed-corpus cards stay
    * registered beside them (an honest "this corpus is unnavigable"
    * alarm is worth keeping). */
  private val ClusterCount = 8
  private val ClusterNoise = 0.6

  private val clusterAnchorCache = new graft.SessionCache[Seq[Seq[Double]]]
  private[queries] def clusteredEmbeddings(s: SparkSession,
      d: String, noise: Double = ClusterNoise): DataFrame = {
    val u = unitVectors(s, d).select(col("vec_id"), col("ue"))
    // Anchors are the ClusterCount SMALLEST rows by RANK, not by a
    // vec_id < 8 predicate: a degenerate corpus's ids need not start at
    // 0, and a partial anchor set under a fixed modulus would silently
    // drop every row whose cluster has no anchor (NULL embedding here,
    // vanished row in the oracle's join). Effective cluster count =
    // however many anchors exist — total on any non-empty corpus.
    // Collected once per (session, corpus) — the uvCache discipline for
    // a pure corpus derivation (noise-independent): every clustered
    // card/point otherwise re-paid the top-k collect per call (r19,
    // guide §1.2 step 1).
    val anchors: Seq[Seq[Double]] = clusterAnchorCache.getOrBuild(s, d) {
      // collect-bound: orderBy(vec_id).limit(ClusterCount) — ≤ 8 rows
      u.orderBy(col("vec_id"))
        .limit(ClusterCount)
        .collect().sortBy(_.getLong(0)).map(_.getSeq[Double](1)).toSeq
    }
    val cEff = math.max(anchors.size, 1)
    u.withColumn("clu",
        expr(s"cast(conv(substring(md5(concat('gclu|', cast(vec_id as string))), 1, 15), 16, 10) as bigint) % $cEff"))
      .select(col("vec_id"),
        zip_with(element_at(typedlit(anchors), (col("clu") + 1).cast("int")),
          col("ue"), (a, e) => a + lit(noise) * e).as("embedding"))
  }

  /** Unit vectors of the clustered corpus — the exact-reference frame.
    * Materialized once per (session, corpus, noise) — the [[uvCache]]
    * discipline applied to the derived corpus (round 19): the
    * md5-anchor derivation + two normalization passes were recomputed
    * by every clustered card's exact baseline on every bench sample.
    * A pure corpus derivation, not a query result; every consumer's
    * exact-top-1 reference is still computed per call from this frame. */
  private val clusteredUnitCache = new graft.SessionCache[DataFrame]
  private def clusteredUnit(s: SparkSession, d: String,
      noise: Double = ClusterNoise): DataFrame =
    clusteredUnitCache.getOrBuild(s, s"$d#$noise") {
      unitize(clusteredEmbeddings(s, d, noise))
        .localCheckpoint(true) // consumers: every clustered exact baseline
    }

  /** Test hook (ClusteredCacheBoundSpec): the (dir#noise) keys the
    * clustered-unit cache currently pins for `s` — the bound under test
    * is "after q263 completes, only the committed ClusterNoise frame
    * may stand". */
  private[graft] def clusteredUnitKeys(s: SparkSession): Seq[String] =
    clusteredUnitCache.keysFor(s)

  private def clusteredQueries(s: SparkSession, d: String,
      noise: Double = ClusterNoise): DataFrame =
    clusteredEmbeddings(s, d, noise)
      .filter(col("vec_id") % 5 === 0 && col("vec_id") < IvfAdcQueryBound)

  /** The clustered-corpus graph index: built by the SAME buildSemIndex /
    * addGraphToSemIndex pipeline as q250's (scheme derivation included —
    * so this index derives ITS OWN scheme from its own navigable
    * corpus), plus the PQ artifacts for the hybrid arm. One build per
    * (session, corpus), shared by q257/q258/q259. */
  private val clusteredIdxCache = new graft.SessionCache[String]
  private def builtClusteredGraphIndex(s: SparkSession, d: String): String =
    clusteredIdxCache.getOrBuild(s, d) {
      val dir = graft.Scratch.dir("cgidx", s, d)
      buildSemIndex(s,
        clusteredEmbeddings(s, d).filter(col("vec_id") % 5 =!= 0), dir)
      // PQ and graph artifacts both read only vectors+centroids and
      // write disjoint files — build them concurrently (guide §2.6).
      graft.Par.map(Seq("pq", "graph")) {
        case "pq" => addPqToSemIndex(s, dir, lloydIters = 1)
        case _ => addGraphToSemIndex(s, dir)
      }
      dir
    }

  /** q257 — graph search through the clustered-corpus index at ITS OWN
    * derived scheme (the q250 shape one corpus over: same build, same
    * probe, same oracle machinery — only the embedding CTE differs). */
  private def q257(s: SparkSession, d: String): DataFrame =
    probeGraphIndex(s, clusteredQueries(s, d),
      builtClusteredGraphIndex(s, d)).orderBy("query_id")

  /** q258 — the (entries, width, hops) sweep card on the clustered
    * corpus: the measurement that makes ANN recall MEANINGFUL at every
    * committed scale (on the near-random corpus every arm reads 0.0 at
    * sf0.1; here the curve is non-zero and effort-monotone, so scheme
    * derivation has signal to work with at the scale the library
    * actually targets). */
  private def q258(s: SparkSession, d: String): DataFrame =
    graphSweepCard(s, builtClusteredGraphIndex(s, d),
      clusteredQueries(s, d), heldOutExactTop1Of(clusteredUnit(s, d)))

  /** q259 — strategy card on the clustered corpus: ivfadc (static
    * nprobe), graph (the index's derived scheme), hybrid (ADC-argmax
    * seeds over the derived `entries` cells + derived-width/hops
    * refinement — [[probeHybridTop3]]'s exact shape and bill). The
    * round-16 q253 card priced the hybrid with its seeds capped by the
    * ADC nprobe ceiling on an unnavigable corpus; this is the
    * re-measurement the round-16 verdict asked for, on a corpus where
    * recall is real. */
  private def q259(s: SparkSession, d: String): DataFrame =
    strategyCard(s, builtClusteredGraphIndex(s, d), clusteredQueries(s, d),
      heldOutExactTop1Of(clusteredUnit(s, d)))

  /** The three-arm strategy-card body over an arbitrary (index, query
    * batch, exact reference) triple — shared by q259 (permutation-PQ
    * clustered index) and q261 (the same corpus under the OPQ
    * learned-rotation quantizer, the round-17 verdict's
    * promote-or-retire re-measurement). The graph and hybrid arms share
    * the index's scheme and one [[beamCore]] chain; the ivfadc arm and
    * the hybrid's stage 1 read one ADC scoring. */
  private def strategyCard(s: SparkSession, dir: String,
      queries0: DataFrame, exact0: DataFrame): DataFrame = {
    val queries = queries0
      .localCheckpoint(true) // consumers: ADC scoring, probe prep + count
    val own = indexScheme(s, dir)
    val p = graphProbePrep(s, queries, dir)
    // One ADC scoring at the larger nprobe serves both ADC consumers: the
    // ivfadc arm reads its cell_rank ≤ IvfAdcNprobe prefix, the hybrid's
    // stage 1 its cell_rank ≤ entries prefix — exactly the rows (and the
    // bit-identical adc_cos) a scoring at that nprobe holds.
    val scored = ivfAdcScoredRanked(s, queries, dir,
        math.max(IvfAdcNprobe, own.entries))
      .localCheckpoint(true) // consumers: ivfadc top-1 + seeds + pair counts
    val pairs = scored.agg(
      count(when(col("cell_rank") <= IvfAdcNprobe, 1)).as("adc_pairs"),
      count(when(col("cell_rank") <= own.entries, 1)).as("hybrid_pairs"))
    val entry = withFallback(p, cellEntries(p, Seq(own))
      .unionByName(hybridSeeds(scored, 1, own.entries)), Seq(0, 1))
    strategyRows(s, p, queries, exact0, entry, Seq(own, own),
      scored.filter(col("cell_rank") <= IvfAdcNprobe), pairs,
      coalesce(col("hits"), lit(0L)))
  }

  /** The graph/hybrid/ivfadc card body of q253 and [[strategyCard]]:
    * `entry` seeds the graph (arm 0) and hybrid (arm 1) beams of ONE
    * [[beamCore]] chain; `adcCands` is the ivfadc arm's candidate frame;
    * `pairs` the 1-row ADC bill (adc_pairs, hybrid_pairs) beside the
    * expansions. */
  private def strategyRows(s: SparkSession, p: GraphProbePrep,
      queries: DataFrame, exact0: DataFrame, entry: DataFrame,
      arms: Seq[GraphConfig.Scheme], adcCands: DataFrame, pairs: DataFrame,
      hits: Column): DataFrame = {
    val exact = exact0
      .localCheckpoint(true) // consumers: the hit join; keeps the exact
      // baseline's audited theta-join out of the card's plan
    val (frontier, expanded) = beamCore(s, entry, p.nodes, p.edges, arms)
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_cos").desc, col("neighbor_id"))
    val found = armTop1(frontier).select(col("arm"), col("query_id"),
        col("found_id"))
      .unionByName(adcCands.withColumn("rn", row_number().over(wAdc))
        .filter(col("rn") === 1)
        .select(lit(2).as("arm"), col("query_id"),
          col("neighbor_id").as("found_id")))
    val cost = graft.Scalars.withScalar(expanded, pairs)
      .select(col("arm"), (col("scored_cands") +
        when(col("arm") === 1, col("hybrid_pairs")).otherwise(lit(0L)))
        .as("scored_cands"))
      .unionByName(pairs.select(lit(2).as("arm"),
        col("adc_pairs").as("scored_cands")))
    import s.implicits._
    val spine = Seq(0 -> "graph", 1 -> "hybrid", 2 -> "ivfadc")
      .toDF("arm", "strategy")
    armRows(spine, found, exact, cost,
        queries.agg(count(lit(1)).as("n_queries")), hits)
      .select(col("strategy"), col("n_queries"), col("hits"),
        col("recall_at1"), col("scored_cands"))
      .orderBy("strategy")
  }

  /** The clustered corpus's base CTE chain — [[semIndexCtes]] with the
    * embedding source swapped for the planted-cluster derivation, ending
    * in the SAME names (params/u/buni/cent/bcc/bassign) so every
    * downstream tail ([[ivfAdcTailCtes]], [[graphTailCtes]],
    * [[derivedSchemeCtes]], [[hybridCtes]]) composes verbatim. The
    * τ-calibration pair pass is omitted: no clustered card consumes τ. */
  private def clusteredSemIndexCtes(noise: Double = ClusterNoise,
      ns: String = ""): String =
    s"""${ns}params AS (
       |  SELECT GREATEST(16, 1 << (LENGTH(BIN(CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))) - 1)) AS k
       |  FROM embeddings WHERE vec_id % 5 <> 0),
       |${ns}e0 AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) AS nrm
       |  FROM embeddings),
       |${ns}u0 AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS ue FROM ${ns}e0),
       |${ns}canch AS (
       |  SELECT acid, au FROM (
       |    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) AS acid, ue AS au
       |    FROM ${ns}u0) t WHERE acid <= $ClusterCount),
       |${ns}cemb AS MATERIALIZED (
       |  SELECT q.vec_id,
       |    list_transform(list_zip(a.au, q.ue), z -> z[1] + $noise * z[2]) AS embedding
       |  FROM ${ns}u0 q JOIN ${ns}canch a
       |    ON a.acid = 1 + (CAST('0x' || substr(md5('gclu|' || CAST(q.vec_id AS VARCHAR)), 1, 15) AS BIGINT) % (SELECT COUNT(*) FROM ${ns}canch))),
       |${ns}e AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) AS nrm
       |  FROM ${ns}cemb),
       |${ns}u AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS ue FROM ${ns}e),
       |${ns}buni AS (SELECT vec_id, ue FROM ${ns}u WHERE vec_id % 5 <> 0),
       |${ns}cent AS (
       |  SELECT cid, cu FROM (
       |    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, ue AS cu
       |    FROM ${ns}buni) t WHERE cid < (SELECT k FROM ${ns}params)),
       |${ns}bcc AS (
       |  SELECT b.vec_id, ${ns}cent.cid,
       |    list_reduce(list_prepend(0.0, list_transform(list_zip(b.ue, ${ns}cent.cu),
       |      p -> p[1] * p[2])), (a, x) -> a + x) AS cc
       |  FROM ${ns}buni b CROSS JOIN ${ns}cent),
       |${ns}bassign AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
       |    FROM ${ns}bcc) t WHERE rn = 1)""".stripMargin

  private def q257Sql: String =
    s"""WITH ${clusteredSemIndexCtes()},
       |${graphTailCtes()},
       |${derivedSchemeCtes()}
       |SELECT query_id, node AS found_id, gcos AS found_cos FROM gdbest
       |ORDER BY query_id""".stripMargin

  private def q258Sql: String =
    sweepCardSql(s"""${clusteredSemIndexCtes()},
                    |${graphTailCtes()}""".stripMargin)

  private def q259Sql: String =
    strategyCardSql(s"""${clusteredSemIndexCtes()},
                       |$ivfAdcTailCtes""".stripMargin,
      "ascore", "qcc", "rcodes", "qlut")

  /** The strategy-card SQL over a composed (base + quantizer) chain:
    * `adcCtes` must end in a (query_id, neighbor_id, adc_cos) CTE named
    * `ascoreCte`; the hybrid arm re-scores the top-`gwin.entries` cells
    * through (`qccCte`, `codesCte`, `lutCte`). Shared by q259
    * (permutation PQ) and q261 (OPQ rotation). */
  private def strategyCardSql(adcCtes: String, ascoreCte: String,
      qccCte: String, codesCte: String, lutCte: String): String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), z -> z[1] * z[2])), (x, y) -> x + y)"
    def rowSql(strategy: String, hit: String, sc: String) =
      s"""SELECT '$strategy' AS strategy, hnq.n_queries, $hit.hits,
         |  CAST($hit.hits AS DOUBLE) / CAST(hnq.n_queries AS DOUBLE) AS recall_at1,
         |  $sc
         |FROM hnq, $hit""".stripMargin
    s"""WITH RECURSIVE $adcCtes,
       |${graphTailCtes()},
       |${derivedSchemeCtes()},
       |${hybridCtes(qccCte, codesCte, lutCte)},
       |hex AS (
       |  SELECT query_id, neighbor_id AS exact_id FROM (
       |    SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${dot("q.ue", "b.ue")} DESC, b.vec_id) AS rn
       |    FROM gq q JOIN buni b ON q.vec_id <> b.vec_id) t
       |  WHERE rn = 1),
       |hnq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM gq),
       |hcnd AS (SELECT CAST(COUNT(*) AS BIGINT) AS scored_cands FROM $ascoreCte),
       |hbcnt AS (SELECT CAST(COUNT(*) AS BIGINT) AS adc_pairs FROM hbscore),
       |adcb AS (
       |  SELECT query_id, neighbor_id AS found_id FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_cos DESC, neighbor_id) AS rn
       |    FROM $ascoreCte) t WHERE rn = 1),
       |hyb AS (
       |  SELECT query_id, node AS found_id FROM (
       |    SELECT query_id, node,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY gcos DESC, node) AS rn
       |    FROM (SELECT DISTINCT query_id, node, gcos FROM hbpool) z) t
       |  WHERE rn = 1),
       |ahit AS (
       |  SELECT CAST(COALESCE(SUM(CASE WHEN f.found_id = x.exact_id THEN 1 ELSE 0 END), 0) AS BIGINT) AS hits
       |  FROM adcb f JOIN hex x USING (query_id)),
       |ghit2 AS (
       |  SELECT CAST(COALESCE(SUM(CASE WHEN f.node = x.exact_id THEN 1 ELSE 0 END), 0) AS BIGINT) AS hits
       |  FROM gdbest f JOIN hex x USING (query_id)),
       |hyhit AS (
       |  SELECT CAST(COALESCE(SUM(CASE WHEN f.found_id = x.exact_id THEN 1 ELSE 0 END), 0) AS BIGINT) AS hits
       |  FROM hyb f JOIN hex x USING (query_id))
       |${rowSql("graph", "ghit2", "(SELECT scored_cands FROM gdsc) AS scored_cands")}
       |UNION ALL
       |${rowSql("hybrid", "hyhit",
           "(SELECT scored_cands FROM hbsc) + (SELECT adc_pairs FROM hbcnt) AS scored_cands")}
       |UNION ALL
       |${rowSql("ivfadc", "ahit", "(SELECT scored_cands FROM hcnd) AS scored_cands")}
       |ORDER BY strategy""".stripMargin
  }

  /** The q261 index: the SAME planted-cluster corpus and split as
    * q257-q259, rebuilt with the ORACLED OPQ quantizer
    * (`addPqToSemIndex(learnedRotation = true, rotIters = 1)` — the
    * q255 build) plus the graph artifact. One build per (session,
    * corpus). */
  private val clusteredOpqIdxCache = new graft.SessionCache[String]
  private def builtClusteredOpqIndex(s: SparkSession, d: String): String =
    clusteredOpqIdxCache.getOrBuild(s, d) {
      val dir = graft.Scratch.dir("copqidx", s, d)
      buildSemIndex(s,
        clusteredEmbeddings(s, d).filter(col("vec_id") % 5 =!= 0), dir)
      // Same disjoint-artifact argument as builtClusteredGraphIndex.
      graft.Par.map(Seq("pq", "graph")) {
        case "pq" => addPqToSemIndex(s, dir, lloydIters = 1,
          learnedRotation = true, rotIters = 1)
        case _ => addGraphToSemIndex(s, dir)
      }
      dir
    }

  /** q261 — the q259 strategy card with an INFORMATIVE quantizer (the
    * round-17 verdict's promote-or-retire re-measurement): q259's
    * honest result was that 4-subspace permutation PQ reads 0.0 recall
    * WITHIN clusters, so the hybrid's ADC-argmax entries tie the graph
    * arm at 2.6× the bill — a decision resting on one quantizer
    * config. This card re-runs the same three arms over the same
    * corpus with the q255 OPQ learned rotation (residual-eigenvalue
    * subspace allocation), so the ivfadc and hybrid rows measure what
    * a rotation-aware quantizer buys; the promote-or-retire verdict is
    * recorded beside the card in PLANS. */
  private def q261(s: SparkSession, d: String): DataFrame =
    strategyCard(s, builtClusteredOpqIndex(s, d), clusteredQueries(s, d),
      heldOutExactTop1Of(clusteredUnit(s, d)))

  private def q261Sql: String =
    strategyCardSql(s"""${clusteredSemIndexCtes()},
                       |${opqTailCtes("q261")}""".stripMargin,
      "oascore", "oqcc", "ocodes", "oqlut")

  // ------------------------------------------------------------ q262 churn

  /** The refresh-vs-rebuild decision threshold (ChurnRecallSpec's pin,
    * now carried by the oracled q262 card): a churned index is servable
    * while its recall@1 sits within this gap of a fresh rebuild's. */
  private val ChurnRebuildGap = 0.25

  /** The q262 index pair over deterministic committed waves of the
    * embeddings table (all within the q243 base split, so the standard
    * held-out queries probe both arms):
    *  - initial wave  = base (vec_id % 5 ≠ 0) AND vec_id % 7 ≠ 3
    *  - append wave   = base AND vec_id % 7 = 3
    *  - takedown wave = initial AND vec_id % 11 = 5
    * CHURNED: build(initial) → graph+scheme → append → tombstone →
    * compact; centroids, books-free graph metadata and the derived
    * scheme stay FROZEN from the initial build (the production aging
    * model). FRESH: one build over the same final corpus. One pair per
    * (session, corpus). */
  private val churnIdxCache = new graft.SessionCache[(String, String)]
  private def builtChurnIndexes(s: SparkSession, d: String): (String, String) =
    churnIdxCache.getOrBuild(s, d) {
      val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
      val base = emb.filter(col("vec_id") % 5 =!= 0)
      val initial = base.filter(col("vec_id") % 7 =!= 3)
      // The churned lifecycle chain is serial by semantics (each step
      // reads the previous step's artifacts), but the FRESH rebuild is
      // independent of all of it — build the two arms concurrently
      // (guide §2.6); distinct scratch dirs, order restored by the pair.
      val Seq(churned, fresh) = graft.Par.map(Seq("churned", "fresh")) {
        case "churned" =>
          val churned = graft.Scratch.dir("churnidx", s, d)
          buildSemIndex(s, initial, churned)
          addGraphToSemIndex(s, churned)
          appendToSemIndex(s, base.filter(col("vec_id") % 7 === 3), churned)
          IndexStore.tombstone(initial.filter(col("vec_id") % 11 === 5),
            churned, "vec_id")
          compactSemIndex(s, churned)
          churned
        case _ =>
          val fresh = graft.Scratch.dir("churnfresh", s, d)
          buildSemIndex(s, base.filter(!(col("vec_id") % 7 =!= 3 &&
            col("vec_id") % 11 === 5)), fresh)
          addGraphToSemIndex(s, fresh)
          fresh
      }
      (churned, fresh)
    }

  /** q262 — churn-recall card (round 18, the round-17 verdict's item 3:
    * ChurnRecallSpec's measurement promoted to an oracled card on REAL
    * committed-corpus indexes): the same final corpus reached two ways —
    * CHURNED (build → append → tombstone → compact under frozen
    * centroids and frozen search scheme) vs FRESH (one rebuild) — and
    * each arm's held-out recall@1 against the final-corpus exact top-1.
    * `recall_gap` = fresh − churned; `rebuild_due` fires when the gap
    * crosses [[ChurnRebuildGap]] — the one number an operator watches to
    * schedule the rebuild. The oracle restates the ENTIRE lifecycle:
    * initial build + scheme derivation, frozen-centroid append with
    * DiskANN out+reverse edges, tombstone drop, per-kind compaction
    * re-trim, and the frozen-scheme probe over the compacted corpus. */
  private def q262(s: SparkSession, d: String): DataFrame = {
    val (churned, fresh) = builtChurnIndexes(s, d)
    val emb = t(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    val keep = !(col("vec_id") % 5 =!= 0 && col("vec_id") % 7 =!= 3 &&
      col("vec_id") % 11 === 5)
    val exact = heldOutExactTop1Of(unitize(emb.filter(keep)))
      .localCheckpoint(true) // consumers: one hit-join per arm
    val queries = ivfAdcQueries(s, d)
    val nq = queries.agg(count(lit(1)).as("n_queries"))
    def armRow(name: String, dir: String): DataFrame = {
      val hits = probeGraphIndex(s, queries, dir).join(exact, "query_id")
        .agg(coalesce(sum((col("found_id") === col("exact_id"))
          .cast("long")), lit(0L)).as("hits"))
      val own = indexScheme(s, dir)
      graft.Scalars.withScalar(hits, nq)
        .select(lit(name).as("arm"), lit(own.entries).as("entries"),
          lit(own.width).as("width"), lit(own.hops).as("hops"),
          col("n_queries"), col("hits"),
          (col("hits").cast("double") / col("n_queries").cast("double"))
            .as("recall_at1"))
    }
    // Two independent probes of two independent dirs — concurrent
    // (guide §2.6), input order preserved so the union is unchanged.
    val both = graft.Par.map(Seq("churned" -> churned, "fresh" -> fresh)) {
        case (name, dir) => armRow(name, dir)
      }.reduce(_ unionAll _)
      .localCheckpoint(true) // consumers: row spine + gap scalar
    val gap = both.agg((max(when(col("arm") === "fresh", col("recall_at1")))
        - max(when(col("arm") === "churned", col("recall_at1"))))
      .as("recall_gap"))
    graft.Scalars.withScalar(both, gap)
      .select(col("arm"), col("entries"), col("width"), col("hops"),
        col("n_queries"), col("hits"), col("recall_at1"),
        col("recall_gap"),
        (col("recall_gap") > lit(ChurnRebuildGap)).as("rebuild_due"))
      .orderBy("arm")
  }

  /** The churn card's oracle: the full index lifecycle restated.
    * CHURNED arm — initial-corpus build (centroids = first-k seeds,
    * within/cross edges, calibration sweep → frozen scheme `chgwin`),
    * frozen-centroid append (DiskANN out-edges against the post-append
    * live set + reverse edges), tombstone drop + per-(src, kind)
    * compaction re-trim (`cpgedges` — kind re-inferred from rank-1 cell
    * equality, exact here because within-edges join same-cell nodes and
    * cross-edges different-cell nodes by construction), then one probe
    * chain per sweep arm over the COMPACTED corpus with the FROZEN
    * winner selecting the executed chain. FRESH arm — the standard
    * build + derivation over the final corpus. Both arms scored against
    * the final-corpus exact top-1. */
  private def q262Sql: String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), z -> z[1] * z[2])), (x, y) -> x + y)"
    val arms = GraphConfig.SweepArms.zipWithIndex
    def baseArm(ns: String, filt: String) =
      s"""${ns}buni AS (SELECT vec_id, ue FROM wu WHERE $filt),
         |${ns}params AS (
         |  SELECT GREATEST(16, 1 << (LENGTH(BIN(CAST(FLOOR(SQRT(CAST(COUNT(*) AS DOUBLE))) AS BIGINT))) - 1)) AS k
         |  FROM ${ns}buni),
         |${ns}cent AS (
         |  SELECT cid, cu FROM (
         |    SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, ue AS cu
         |    FROM ${ns}buni) t WHERE cid < (SELECT k FROM ${ns}params)),
         |${ns}bcc AS (
         |  SELECT b.vec_id, ${ns}cent.cid,
         |    ${dot("b.ue", s"${ns}cent.cu")} AS cc
         |  FROM ${ns}buni b CROSS JOIN ${ns}cent),
         |${ns}bassign AS (
         |  SELECT vec_id, cid AS cell FROM (
         |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
         |    FROM ${ns}bcc) t WHERE rn = 1)""".stripMargin
    val cpChains = arms.map { case (a, i) =>
      graphBeamChain(s"cp$i", a.entries, a.width, a.hops,
        rankCte = "chgqrank", qCte = "chgq", memberCte = "cpnodes",
        nodeCte = "cpbuni", uCte = "wu", lowsCte = "cplows",
        edgesCte = "cpgedges")
    }.mkString(",\n")
    val cpBest = arms.map { case (a, i) =>
      s"""  SELECT b.query_id, b.node, b.gcos FROM cp${i}best b, chgwin w
         |  WHERE w.entries = ${a.entries} AND w.width = ${a.width} AND w.hops = ${a.hops}""".stripMargin
    }.mkString("\n  UNION ALL\n")
    s"""WITH we AS (
       |  SELECT vec_id, embedding,
       |    sqrt(list_reduce(list_prepend(0.0, list_transform(embedding,
       |      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), (a, b) -> a + b)) AS nrm
       |  FROM embeddings),
       |wu AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE) / nrm) AS ue FROM we),
       |${baseArm("ch", "vec_id % 5 <> 0 AND vec_id % 7 <> 3")},
       |${graphTailCtes("ch", "chbassign", "chbcc", "chbuni", "wu", "chcent")},
       |${derivedSchemeCtes("ch", "chbassign", "chbuni", "wu")},
       |apu AS (SELECT vec_id, ue FROM wu WHERE vec_id % 5 <> 0 AND vec_id % 7 = 3),
       |apcc AS (
       |  SELECT q.vec_id, chcent.cid, ${dot("q.ue", "chcent.cu")} AS cc
       |  FROM apu q CROSS JOIN chcent),
       |apassign AS (
       |  SELECT vec_id, cid AS cell FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
       |    FROM apcc) t WHERE rn = 1),
       |apassign2 AS (
       |  SELECT vec_id, cid AS cell2 FROM (
       |    SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cc DESC, cid) AS rn
       |    FROM apcc) t WHERE rn = 2),
       |apall AS (
       |  SELECT vec_id, cell FROM chbassign
       |  UNION ALL
       |  SELECT vec_id, cell FROM apassign),
       |apout AS (
       |  SELECT src, dst FROM (
       |    SELECT a.vec_id AS src, b.vec_id AS dst,
       |      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
       |        ${dot("ua.ue", "ub.ue")} DESC, b.vec_id) AS rn
       |    FROM apassign a JOIN apall b ON b.cell = a.cell AND a.vec_id <> b.vec_id
       |    JOIN wu ua ON ua.vec_id = a.vec_id
       |    JOIN wu ub ON ub.vec_id = b.vec_id) t
       |  WHERE rn <= $WithinDegree
       |  UNION ALL
       |  SELECT src, dst FROM (
       |    SELECT a.vec_id AS src, b.vec_id AS dst,
       |      ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
       |        ${dot("ua.ue", "ub.ue")} DESC, b.vec_id) AS rn
       |    FROM apassign2 a JOIN apall b ON b.cell = a.cell2 AND a.vec_id <> b.vec_id
       |    JOIN wu ua ON ua.vec_id = a.vec_id
       |    JOIN wu ub ON ub.vec_id = b.vec_id) t
       |  WHERE rn <= $CrossDegree),
       |tdrop AS (SELECT vec_id FROM wu WHERE vec_id % 5 <> 0 AND vec_id % 7 <> 3 AND vec_id % 11 = 5),
       |cpnodes AS MATERIALIZED (
       |  SELECT a.vec_id, a.cell FROM apall a
       |  WHERE NOT EXISTS (SELECT 1 FROM tdrop t WHERE t.vec_id = a.vec_id)),
       |cpbuni AS MATERIALIZED (
       |  SELECT w.vec_id, w.ue FROM wu w JOIN cpnodes n ON n.vec_id = w.vec_id),
       |cplows AS (SELECT vec_id FROM cpbuni ORDER BY vec_id LIMIT 2),
       |cpedges1 AS (
       |  SELECT e.src, e.dst, ${dot("us.ue", "ud.ue")} AS ecos,
       |    CASE WHEN ns.cell = nd.cell THEN 0 ELSE 1 END AS kind
       |  FROM (SELECT DISTINCT src, dst FROM (
       |          SELECT src, dst FROM chgedges
       |          UNION ALL SELECT src, dst FROM apout
       |          UNION ALL SELECT dst AS src, src AS dst FROM apout)) e
       |  JOIN cpnodes ns ON ns.vec_id = e.src
       |  JOIN cpnodes nd ON nd.vec_id = e.dst
       |  JOIN wu us ON us.vec_id = e.src
       |  JOIN wu ud ON ud.vec_id = e.dst),
       |cpgedges AS MATERIALIZED (
       |  SELECT src, dst FROM (
       |    SELECT src, dst, kind,
       |      ROW_NUMBER() OVER (PARTITION BY src, kind ORDER BY ecos DESC, dst) AS rn
       |    FROM cpedges1) t
       |  WHERE (kind = 0 AND rn <= $WithinDegree) OR (kind = 1 AND rn <= $CrossDegree)),
       |$cpChains,
       |chbest AS (
       |$cpBest),
       |${baseArm("fr",
          "vec_id % 5 <> 0 AND NOT (vec_id % 7 <> 3 AND vec_id % 11 = 5)")},
       |${graphTailCtes("fr", "frbassign", "frbcc", "frbuni", "wu", "frcent")},
       |${derivedSchemeCtes("fr", "frbassign", "frbuni", "wu")},
       |fex AS (
       |  SELECT query_id, neighbor_id AS exact_id FROM (
       |    SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${dot("q.ue", "b.ue")} DESC, b.vec_id) AS rn
       |    FROM frgq q JOIN frbuni b ON q.vec_id <> b.vec_id) t
       |  WHERE rn = 1),
       |chhit AS (
       |  SELECT CAST(COALESCE(SUM(CASE WHEN f.node = x.exact_id THEN 1 ELSE 0 END), 0) AS BIGINT) AS hits
       |  FROM chbest f JOIN fex x USING (query_id)),
       |frhit AS (
       |  SELECT CAST(COALESCE(SUM(CASE WHEN f.node = x.exact_id THEN 1 ELSE 0 END), 0) AS BIGINT) AS hits
       |  FROM frgdbest f JOIN fex x USING (query_id)),
       |nqx AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM chgq),
       |cgap AS (
       |  SELECT (SELECT CAST(hits AS DOUBLE) FROM frhit) / (SELECT CAST(n_queries AS DOUBLE) FROM nqx)
       |       - (SELECT CAST(hits AS DOUBLE) FROM chhit) / (SELECT CAST(n_queries AS DOUBLE) FROM nqx)
       |       AS recall_gap)
       |SELECT r.arm, r.entries, r.width, r.hops, r.n_queries, r.hits, r.recall_at1,
       |  g.recall_gap, g.recall_gap > $ChurnRebuildGap AS rebuild_due
       |FROM (
       |  SELECT 'churned' AS arm, w.entries, w.width, w.hops, nqx.n_queries, chhit.hits,
       |    CAST(chhit.hits AS DOUBLE) / CAST(nqx.n_queries AS DOUBLE) AS recall_at1
       |  FROM chgwin w, nqx, chhit
       |  UNION ALL
       |  SELECT 'fresh', w.entries, w.width, w.hops, nqx.n_queries, frhit.hits,
       |    CAST(frhit.hits AS DOUBLE) / CAST(nqx.n_queries AS DOUBLE)
       |  FROM frgwin w, nqx, frhit) r, cgap g
       |ORDER BY arm""".stripMargin
  }

  /** Noise points of the q263 separability sweep: 0.3 (strong
    * clusters), 0.6 (the committed q257-q259 operating point), 1.2
    * (weak — toward the committed corpus's 0.0 wall). */
  private val SeparabilityNoises = Seq(0.3, 0.6, 1.2)

  /** A clustered graph index at an arbitrary ClusterNoise operating
    * point — the committed 0.6 point reuses the q257 build (PQ rides
    * along there; the graph card ignores it), other points build
    * graph-only. One build per (session, corpus, noise). */
  private val clusteredNoiseIdxCache = new graft.SessionCache[String]
  private def builtClusteredIndexAt(s: SparkSession, d: String,
      noise: Double): String =
    if (noise == ClusterNoise) builtClusteredGraphIndex(s, d)
    else clusteredNoiseIdxCache.getOrBuild(s, s"$d#$noise") {
      val dir = graft.Scratch.dir(s"cgidx${(noise * 10).round}", s, d)
      buildSemIndex(s,
        clusteredEmbeddings(s, d, noise).filter(col("vec_id") % 5 =!= 0),
        dir)
      addGraphToSemIndex(s, dir)
      dir
    }

  /** q263 — separability sweep card (round 18, the round-17 verdict's
    * item 4): every clustered-corpus recall and scheme number through
    * round 17 sat on the single ClusterNoise = 0.6 operating point,
    * with the committed near-random corpus (recall 0.0 at sf0.1) as the
    * only other observation. This card measures the curve between the
    * endpoints: one row per noise point — the scheme the index derives
    * ON THAT CORPUS (drift across points is the scheme story) and the
    * held-out recall@1 of the persisted search at that scheme, with the
    * probe-only scoring bill. Each point is a REAL index built by the
    * production pipeline; the oracle re-derives every point's scheme
    * and search from scratch. */
  private def q263(s: SparkSession, d: String): DataFrame =
    // The three noise points are independent (distinct index dirs,
    // distinct caches): building and probing them concurrently (guide
    // §2.6) overlaps the cold builds' job chains — the card's dominant
    // cost on a fresh session; Par.map keeps point order.
    graft.Par.map(SeparabilityNoises) { noise =>
      val dir = builtClusteredIndexAt(s, d, noise)
      val queries = clusteredQueries(s, d, noise)
      val exact = heldOutExactTop1Of(clusteredUnit(s, d, noise))
        .localCheckpoint(true) // consumers: one hit-join; keeps the exact
        // baseline's audited broadcast theta-join out of the captured plan
      // The exact baseline above is this card's ONLY consumer of the
      // noise-specific clustered unit frame, and it has just eagerly
      // materialized — so for the two non-committed noise points the
      // frame's checkpoint blocks are dead the moment each arm gets
      // here. Evict + free them (round 20, the r19 verdict's standing-
      // memory item: q263 otherwise left up to three corpus-sized
      // MEMORY_AND_DISK checkpoints pinned for the session). The
      // committed ClusterNoise frame stays cached — it is shared by
      // every clustered card (q257–q262). ClusteredCacheBoundSpec pins
      // the bound.
      if (noise != ClusterNoise)
        clusteredUnitCache.evict(s, s"$d#$noise").foreach(freeLocalCheckpoint)
      val (found, pcost) = probeGraphIndexCost(s, queries, dir, -1, -1, -1)
      val hits = found.join(exact, "query_id")
        .agg(coalesce(sum((col("found_id") === col("exact_id"))
          .cast("long")), lit(0L)).as("hits"))
      val nq = queries.agg(count(lit(1)).as("n_queries"))
      val own = indexScheme(s, dir)
      Seq(pcost, nq).foldLeft(hits)(graft.Scalars.withScalar)
        .select(lit(noise).as("cluster_noise"),
          lit(own.entries).as("entries"), lit(own.width).as("width"),
          lit(own.hops).as("hops"), col("n_queries"), col("hits"),
          (col("hits").cast("double") / col("n_queries").cast("double"))
            .as("recall_at1"),
          col("scored_cands"))
    }.reduce(_ unionAll _).orderBy("cluster_noise")

  private def q263Sql: String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), z -> z[1] * z[2])), (x, y) -> x + y)"
    val points = SeparabilityNoises.zipWithIndex.map { case (noise, i) =>
      (noise, s"sp$i")
    }
    val chains = points.map { case (noise, p) =>
      s"""${clusteredSemIndexCtes(noise, p)},
         |${graphTailCtes(p, s"${p}bassign", s"${p}bcc", s"${p}buni",
              s"${p}u", s"${p}cent")},
         |${derivedSchemeCtes(p, s"${p}bassign", s"${p}buni", s"${p}u")},
         |${p}ex AS (
         |  SELECT query_id, neighbor_id AS exact_id FROM (
         |    SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
         |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
         |        ${dot("q.ue", "b.ue")} DESC, b.vec_id) AS rn
         |    FROM ${p}gq q JOIN ${p}buni b ON q.vec_id <> b.vec_id) t
         |  WHERE rn = 1),
         |${p}hit AS (
         |  SELECT CAST(COALESCE(SUM(CASE WHEN f.node = x.exact_id THEN 1 ELSE 0 END), 0) AS BIGINT) AS hits
         |  FROM ${p}gdbest f JOIN ${p}ex x USING (query_id)),
         |${p}nq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM ${p}gq)""".stripMargin
    }.mkString(",\n")
    val rows = points.map { case (noise, p) =>
      s"""SELECT CAST($noise AS DOUBLE) AS cluster_noise,
         |  w.entries, w.width, w.hops,
         |  ${p}nq.n_queries, ${p}hit.hits,
         |  CAST(${p}hit.hits AS DOUBLE) / CAST(${p}nq.n_queries AS DOUBLE) AS recall_at1,
         |  (SELECT scored_cands FROM ${p}gdsc) AS scored_cands
         |FROM ${p}gwin w, ${p}nq, ${p}hit""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH $chains
       |$rows
       |ORDER BY cluster_noise""".stripMargin
  }

  private def heldOutExactTop1(s: SparkSession, d: String): DataFrame =
    heldOutExactTop1Of(unitVectors(s, d))

  /** [[exactTop1]] of the held-out split of an arbitrary (vec_id, …, ue)
    * unit frame against its base split — the clustered-corpus cards share
    * the measurement machinery. */
  private def heldOutExactTop1Of(u: DataFrame): DataFrame =
    exactTop1(u.filter(col("vec_id") % 5 === 0 &&
        col("vec_id") < IvfAdcQueryBound)
      .select(col("vec_id").as("query_id"), col("ue").as("qu")),
      u.filter(col("vec_id") % 5 =!= 0))

  /** q251 — persisted-graph health card (the q208/q212/q244 observability
    * idiom for the graph index): node/edge counts, realized out-degree
    * stats vs the bound (srcs_with_edges names the singleton-cell nodes
    * that legitimately have none), and recall@1 of the persisted search
    * at the [[GraphConfig]]-derived default scheme vs the exact
    * within-split top-1 — the one number an operator reads before
    * raising width or degree. All counters come from the SAME persisted
    * tables the probe reads. */
  private def q251(s: SparkSession, d: String): DataFrame = {
    val dir = builtGraphIndex(s, d)
    val nodes = IndexStore.read(s, dir, "vectors")
    val edges = IndexStore.read(s, dir, "gedges")
    val degs = edges.groupBy(col("src")).agg(count(lit(1)).as("dg"))
      .localCheckpoint(true) // consumers: src count + max degree
    val nn = nodes.agg(count(lit(1)).as("n_nodes"))
    val ne = edges.agg(count(lit(1)).as("n_edges"))
    val se = degs.agg(count(lit(1)).as("srcs_with_edges"))
    val md = degs.agg(max(col("dg")).as("max_out_degree"))
    val exact = heldOutExactTop1(s, d)
    // Build-vs-probe disclosure (round 18): the probe runs through the
    // cost variant so the card carries the probe-only scoring bill
    // beside the one-time build bill — an operator reading this card can
    // no longer mistake amortized build cost for per-probe cost.
    val (found, pcost) = probeGraphIndexCost(s, ivfAdcQueries(s, d), dir,
      -1, -1, -1)
    val hits = found.join(exact, "query_id")
      .agg(sum((col("found_id") === col("exact_id")).cast("long")).as("hits"))
    val bs = graphBuildScorings(s, dir)
    val ps = pcost.select(col("scored_cands").as("probe_scorings"))
    val nq = ivfAdcQueries(s, d).agg(count(lit(1)).as("n_queries"))
    val own = indexScheme(s, dir)
    Seq(ne, se, md, nq, hits, bs, ps).foldLeft(nn)(graft.Scalars.withScalar)
      .select(col("n_nodes"), col("n_edges"), col("srcs_with_edges"),
        (col("n_edges").cast("double") / col("n_nodes").cast("double"))
          .as("mean_out_degree"),
        col("max_out_degree"), lit(GraphDegree).as("degree_bound"),
        lit(own.entries).as("entries"), lit(own.width).as("width"),
        lit(own.hops).as("hops"),
        col("n_queries"), col("hits"),
        (col("hits").cast("double") / col("n_queries").cast("double"))
          .as("recall_at1"),
        col("build_scorings"), col("probe_scorings"))
  }

  private def q251Sql: String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), z -> z[1] * z[2])), (x, y) -> x + y)"
    s"""WITH $graphIdxCtes,
       |${derivedSchemeCtes()},
       |gdegs AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS dg FROM gedges GROUP BY src),
       |gnn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM buni),
       |gne AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_edges FROM gedges),
       |gse AS (SELECT CAST(COUNT(*) AS BIGINT) AS srcs_with_edges FROM gdegs),
       |gmd AS (SELECT CAST(MAX(dg) AS BIGINT) AS max_out_degree FROM gdegs),
       |gex AS (
       |  SELECT query_id, neighbor_id AS exact_id FROM (
       |    SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${dot("q.ue", "b.ue")} DESC, b.vec_id) AS rn
       |    FROM gq q JOIN buni b ON q.vec_id <> b.vec_id) t
       |  WHERE rn = 1),
       |ghit AS (
       |  SELECT CAST(SUM(CASE WHEN f.node = x.exact_id THEN 1 ELSE 0 END) AS BIGINT) AS hits
       |  FROM gdbest f JOIN gex x USING (query_id)),
       |gnq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM gq),
       |gbp AS (
       |  SELECT CAST(COALESCE(SUM(n1 * (n1 - 1) + n1 * COALESCE(n2, 0)), 0) AS BIGINT) AS build_scorings FROM (
       |    SELECT o1.cell, o1.n1, o2.n2
       |    FROM (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n1 FROM bassign GROUP BY cell) o1
       |    LEFT JOIN (SELECT cell2 AS cell, CAST(COUNT(*) AS BIGINT) AS n2
       |               FROM bassign2 GROUP BY cell2) o2 USING (cell)))
       |SELECT gnn.n_nodes, gne.n_edges, gse.srcs_with_edges,
       |  CAST(gne.n_edges AS DOUBLE) / CAST(gnn.n_nodes AS DOUBLE) AS mean_out_degree,
       |  gmd.max_out_degree, CAST($GraphDegree AS INTEGER) AS degree_bound,
       |  gwin.entries, gwin.width, gwin.hops,
       |  gnq.n_queries, ghit.hits,
       |  CAST(ghit.hits AS DOUBLE) / CAST(gnq.n_queries AS DOUBLE) AS recall_at1,
       |  gbp.build_scorings,
       |  (SELECT scored_cands FROM gdsc) AS probe_scorings
       |FROM gnn, gne, gse, gmd, gnq, ghit, gwin, gbp""".stripMargin
  }

  // ---------------------------------------------------------------- q252

  /** q252 — persisted-graph (width, hops) sweep card, the measurement
    * [[GraphConfig.schemeFor]]'s derivation consumes (the q247 nprobe
    * idiom applied to the graph's two search knobs): one row per
    * [[GraphConfig.SweepArms]] arm — held-out recall@1 vs the exact
    * within-split top-1, and the EXECUTED candidate-scoring count the
    * arm paid (read from the expansion frames, not modeled). The card
    * is what makes the registered q250/q251 default honest: the shipped
    * scheme is the cheapest row here meeting [[GraphConfig
    * .DefaultTarget]], pinned row-by-row by GraphConfigSpec.
    *
    * Scale shape: every arm shares the one session-cached index build
    * and ONE probe ([[probeGraphArms]]) — the arm is a column of the
    * frontier, so each hop is one job for all five arms; the frontier is
    * Σ_arms |Q|·entries·width rows with |Q| broadcast, hop joins
    * equi-keyed on the bucketed gedges — the q248 shape over the
    * persisted artifact. */
  private def q252(s: SparkSession, d: String): DataFrame =
    graphSweepCard(s, builtGraphIndex(s, d), ivfAdcQueries(s, d),
      heldOutExactTop1(s, d))

  /** The sweep-card body over an arbitrary (index, query batch, exact
    * reference) triple — shared by q252 (committed corpus) and q258
    * (planted-cluster corpus). */
  private def graphSweepCard(s: SparkSession, dir: String,
      queries: DataFrame, exact0: DataFrame): DataFrame = {
    val exact = exact0
      .localCheckpoint(true) // consumers: the hit join; keeps the exact
      // baseline's audited theta-join out of the card's plan
    val nq = queries.agg(count(lit(1)).as("n_queries"))
    // Every arm in one probe: one prep, one hop chain, one hit aggregate.
    val arms = GraphConfig.SweepArms
    val (found, scored) = probeGraphArms(s, queries, dir, arms)
    // Build-vs-probe disclosure (round 18): the one-time edge-build bill
    // rides every arm row as its own column, so a reader can't mistake
    // the amortized build for per-probe cost (scored_cands is the
    // probe-only bill). NOT checkpointed: withScalar admits a groupless
    // aggregate as provably scalar, while a checkpointed LogicalRDD side
    // would trip the loop-join hygiene gate.
    val bs = graphBuildScorings(s, dir)
    import s.implicits._
    val spine = arms.indices.map(a =>
        (a, arms(a).entries, arms(a).width, arms(a).hops))
      .toDF("arm", "entries", "width", "hops")
    graft.Scalars.withScalar(armRows(spine, found, exact, scored, nq), bs)
      .select(col("entries"), col("width"), col("hops"),
        col("n_queries"), col("hits"), col("recall_at1"), col("scored_cands"),
        col("build_scorings"))
      .orderBy("entries", "width", "hops")
  }

  /** The graph build's candidate-scoring bill, restated from the
    * PERSISTED index: Σ_cell n1·(n1−1) (within arm — every member
    * scores every other member of its rank-1 cell) + Σ_cell n1·n2
    * (cross arm — every node whose rank-2 cell is this cell scores its
    * members). cell2 is recomputed row-locally against the frozen
    * centroids with the build's own expression; the aggregation is
    * occupancy-sized, never a re-join of the pairs themselves. */
  private def graphBuildScorings(s: SparkSession, dir: String): DataFrame = {
    val rows: Seq[Seq[Double]] = centroidRows(s, dir)
    val sc = sortedCells(typedlit(rows), rows.size)
    val asg = IndexStore.read(s, dir, "vectors")
      .select(col("cell"),
        element_at(sc, 2)("cid").cast("bigint").as("cell2"))
    val occ1 = asg.groupBy(col("cell")).agg(count(lit(1)).as("n1"))
    val occ2 = asg.groupBy(col("cell2").as("cell"))
      .agg(count(lit(1)).as("n2"))
    occ1.join(occ2, Seq("cell"), "left")
      .agg(coalesce(sum(col("n1") * (col("n1") - 1) +
          col("n1") * coalesce(col("n2"), lit(0L))), lit(0L))
        .as("build_scorings"))
  }

  private def q252Sql: String = sweepCardSql(graphIdxCtes)

  /** The sweep-card SQL over an arbitrary base CTE chain (committed
    * corpus for q252, planted-cluster for q258 — the chains share every
    * name downstream of the embedding derivation). */
  private def sweepCardSql(baseCtes: String): String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), z -> z[1] * z[2])), (x, y) -> x + y)"
    val arms = GraphConfig.SweepArms.zipWithIndex
    def row(sch: GraphConfig.Scheme, p: String) =
      s"""SELECT CAST(${sch.entries} AS INTEGER) AS entries,
         |  CAST(${sch.width} AS INTEGER) AS width,
         |  CAST(${sch.hops} AS INTEGER) AS hops,
         |  gnq.n_queries, ${p}hit.hits,
         |  CAST(${p}hit.hits AS DOUBLE) / CAST(gnq.n_queries AS DOUBLE) AS recall_at1,
         |  ${p}sc.scored_cands, gbp.build_scorings
         |FROM gnq, ${p}hit, ${p}sc, gbp""".stripMargin
    s"""WITH $baseCtes,
       |gex AS (
       |  SELECT query_id, neighbor_id AS exact_id FROM (
       |    SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${dot("q.ue", "b.ue")} DESC, b.vec_id) AS rn
       |    FROM gq q JOIN buni b ON q.vec_id <> b.vec_id) t
       |  WHERE rn = 1),
       |gnq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM gq),
       |gbp AS (
       |  SELECT CAST(COALESCE(SUM(n1 * (n1 - 1) + n1 * COALESCE(n2, 0)), 0) AS BIGINT) AS build_scorings FROM (
       |    SELECT o1.cell, o1.n1, o2.n2
       |    FROM (SELECT cell, CAST(COUNT(*) AS BIGINT) AS n1 FROM bassign GROUP BY cell) o1
       |    LEFT JOIN (SELECT cell2 AS cell, CAST(COUNT(*) AS BIGINT) AS n2
       |               FROM bassign2 GROUP BY cell2) o2 USING (cell))),
       |${arms.map { case (sch, i) =>
           graphBeamChain(s"a$i", sch.entries, sch.width, sch.hops)
         }.mkString(",\n")},
       |${arms.map { case (_, i) =>
           s"""a${i}hit AS (
              |  SELECT CAST(SUM(CASE WHEN f.node = x.exact_id THEN 1 ELSE 0 END) AS BIGINT) AS hits
              |  FROM a${i}best f JOIN gex x USING (query_id))""".stripMargin
         }.mkString(",\n")}
       |${arms.map { case (sch, i) => row(sch, s"a$i") }
         .mkString("\nUNION ALL\n")}
       |ORDER BY entries, width, hops""".stripMargin
  }

  // ---------------------------------------------------------------- q253

  /** q253 — hybrid ANN card: the DiskANN SERVING shape, composed from
    * the two persisted artifacts the index dir already carries. The
    * IVFADC probe is a strong but quantized ranker (ADC error can
    * misorder the top), the graph walk is exact-scored but entry-bound;
    * the hybrid uses each where it is strong — ADC ranks the probed
    * cells' candidates, the top-[[HybridSeeds]] become graph entries
    * (one independent beam each, exact-scored from hop 0 by
    * [[beamCore]]'s entry join), and [[HybridHops]] hops of
    * [[HybridWidth]]-beam refinement recover neighbors the quantizer
    * misordered or the probed cells missed. Three arms priced on the
    * SAME executed frames against the same exact top-1: `ivfadc` (ADC
    * top-1 at nprobe [[IvfAdcNprobe]]), `graph` (the q250 default
    * scheme), `hybrid` (ADC pairs + its own expansion count — the full
    * bill, nothing amortized away). The graph and hybrid beams are two
    * arms of ONE [[beamCore]] chain ([[strategyRows]]): the graph arm
    * walks 3 hops, the hybrid arm finishes after [[HybridHops]] and
    * passes through the last hop unchanged.
    *
    * Scale shape: the seed frame is |Q|·seeds rows (always broadcast),
    * refinement hops are the bucketed-gedges equi-joins of q250, and
    * the ADC stage is exactly q243's — composing the probes adds no new
    * plan class. */
  private val HybridSeeds = 3
  private val HybridWidth = 1
  private val HybridHops = 2

  private def q253(s: SparkSession, d: String): DataFrame = {
    builtIvfAdc(s, d) // ensures the PQ artifacts on the shared dir
    val dir = builtGraphIndex(s, d) // same dir; ensures gedges
    val queries = ivfAdcQueries(s, d)
    val p = graphProbePrep(s, queries, dir)
    val scored = ivfAdcScoredCands(s, queries, dir, IvfAdcNprobe)
      .select(col("query_id"), col("neighbor_id"), col("adc_cos"))
      .localCheckpoint(true) // consumers: ivfadc top-1 + seeds + pair count
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_cos").desc, col("neighbor_id"))
    // The graph arm enters by the cell rule (with the LIMIT-2 fallback);
    // the hybrid arm at the top-HybridSeeds ADC candidates, no fallback.
    val seeds = scored.withColumn("rn", row_number().over(wAdc))
      .filter(col("rn") <= HybridSeeds)
      .join(p.qv.select(col("query_id"), col("qu")), "query_id")
      .select(lit(1).as("arm"), col("query_id"), col("qu"),
        col("rn").as("beam"), col("neighbor_id").as("node"))
    val entry = withFallback(p, cellEntries(p, Seq(GraphConfig.Default)),
      Seq(0)).unionByName(seeds)
    strategyRows(s, p, queries, heldOutExactTop1(s, d), entry,
      Seq(GraphConfig.Default,
        GraphConfig.Scheme(HybridSeeds, HybridWidth, HybridHops)),
      scored, scored.agg(count(lit(1)).as("adc_pairs"),
        count(lit(1)).as("hybrid_pairs")),
      col("hits"))
  }

  private def q253Sql: String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), z -> z[1] * z[2])), (x, y) -> x + y)"
    def rowSql(strategy: String, hit: String, sc: String) =
      s"""SELECT '$strategy' AS strategy, hnq.n_queries, $hit.hits,
         |  CAST($hit.hits AS DOUBLE) / CAST(hnq.n_queries AS DOUBLE) AS recall_at1,
         |  $sc
         |FROM hnq, $hit""".stripMargin
    s"""WITH $semIndexCtes,
       |$ivfAdcTailCtes,
       |${graphTailCtes()},
       |${defaultChain("gd")},
       |hascore AS MATERIALIZED (
       |  SELECT query_id, neighbor_id, adc_cos FROM ascore),
       |hex AS (
       |  SELECT query_id, neighbor_id AS exact_id FROM (
       |    SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${dot("q.ue", "b.ue")} DESC, b.vec_id) AS rn
       |    FROM gq q JOIN buni b ON q.vec_id <> b.vec_id) t
       |  WHERE rn = 1),
       |hnq AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM gq),
       |hcnd AS (SELECT CAST(COUNT(*) AS BIGINT) AS scored_cands FROM hascore),
       |adcb AS (
       |  SELECT query_id, neighbor_id AS found_id FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_cos DESC, neighbor_id) AS rn
       |    FROM hascore) t WHERE rn = 1),
       |hseed AS (
       |  SELECT query_id, rnk AS beam, neighbor_id AS node FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc_cos DESC, neighbor_id) AS rnk
       |    FROM hascore) t WHERE rnk <= $HybridSeeds),
       |hyh0 AS (
       |  SELECT en.query_id, en.beam, en.node, ${dot("q.ue", "n.ue")} AS gcos
       |  FROM hseed en
       |  JOIN buni n ON n.vec_id = en.node
       |  JOIN u q ON q.vec_id = en.query_id),
       |${beamHopCtes("hy", HybridWidth, HybridHops)},
       |ahit AS (
       |  SELECT CAST(SUM(CASE WHEN f.found_id = x.exact_id THEN 1 ELSE 0 END) AS BIGINT) AS hits
       |  FROM adcb f JOIN hex x USING (query_id)),
       |ghit2 AS (
       |  SELECT CAST(SUM(CASE WHEN f.node = x.exact_id THEN 1 ELSE 0 END) AS BIGINT) AS hits
       |  FROM gdbest f JOIN hex x USING (query_id)),
       |hyhit AS (
       |  SELECT CAST(SUM(CASE WHEN f.node = x.exact_id THEN 1 ELSE 0 END) AS BIGINT) AS hits
       |  FROM hybest f JOIN hex x USING (query_id))
       |${rowSql("graph", "ghit2", "(SELECT scored_cands FROM gdsc) AS scored_cands")}
       |UNION ALL
       |${rowSql("hybrid", "hyhit",
           "(SELECT scored_cands FROM hysc) + (SELECT scored_cands FROM hcnd) AS scored_cands")}
       |UNION ALL
       |${rowSql("ivfadc", "ahit", "(SELECT scored_cands FROM hcnd) AS scored_cands")}
       |ORDER BY strategy""".stripMargin
  }

  // ---------------------------------------------------------------- q248

  /** q248 — beam-vs-greedy graph-ANN card (the production upgrade over
    * q245's greedy: NSW/HNSW deployments search with a width-ef frontier
    * precisely because greedy strands in local maxima of the neighbor
    * graph). Both arms run in ONE [[beamSearch]] over the SAME graph and
    * query split — greedy IS the width-1 arm — so
    * the card's two rows differ only in the knob it prices: recall@1 vs
    * the exact top-1, against the candidate scorings each search paid
    * (Σ per-hop frontier-expansion rows, the dots a deployment multiplies
    * by d to cost a query). The recall step between the rows against the
    * ~width× scoring multiplier is the graph twin of q247's nprobe sweep:
    * the operator picks the smallest width that clears their SLA.
    *
    * Scale shape: q245's, with the arm as a frontier column — hop joins
    * touch edge/vector tables on equi-keys, the frontier is
    * Σ_arms |Q|·width·(1+degree) rows per hop with |Q| broadcast, and
    * width/hops are constants, so plan size is fixed; the cost axis is
    * measured per arm from the executed expansion frames, not modeled. */
  private val BeamWidth = 3

  private def q248(s: SparkSession, d: String): DataFrame = {
    val (asg, edges) = graphAnnParts(s, d)
    val exact = graphExactTop1(s, asg)
      .localCheckpoint(true) // consumers: the hit join; keeps the exact
      // baseline's audited theta-join out of the card's plan
    val nq = asg.filter(col("vec_id") < 8)
      .agg(count(lit(1)).as("n_queries"))
    // Both strategies in one ad-hoc beam: greedy IS the width-1 arm.
    val strategies = Seq("beam" -> BeamWidth, "greedy" -> 1)
    val (frontier, scored) = beamSearch(s, asg, edges,
      strategies.map { case (_, w) => GraphConfig.Scheme(1, w, GraphHops) })
    import s.implicits._
    val spine = strategies.indices.map(a =>
        (a, strategies(a)._1, strategies(a)._2))
      .toDF("arm", "strategy", "width")
    armRows(spine, armTop1(frontier), exact, scored, nq)
      .select(col("strategy"), col("n_queries"), col("hits"),
        col("recall_at1"), col("scored_cands"), col("width"),
        lit(GraphHops).as("hops"))
      .orderBy("strategy")
  }

  /** Beam CTE chain on top of [[graphAnnCtes]]: the greedy arm reuses the
    * existing h/nb/trace CTEs verbatim; the beam arm re-runs the hop
    * unrolling with `rn <= width` retention and a DISTINCT before the
    * rank (one beam slot per reached node). */
  private def q248Sql: String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), z -> z[1] * z[2])), (x, y) -> x + y)"
    def bhop(t: Int) =
      s"""bnb$t AS (
         |  SELECT f.query_id, n.vec_id AS node, ${dot("q.ue", "n.ue")} AS gcos
         |  FROM bh${t - 1} f
         |  JOIN edges e ON e.src = f.node
         |  JOIN u n ON n.vec_id = e.dst
         |  JOIN u q ON q.vec_id = f.query_id
         |  WHERE e.dst <> f.query_id),
         |bh$t AS (
         |  SELECT query_id, node, gcos FROM (
         |    SELECT query_id, node, gcos,
         |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY gcos DESC, node) AS rn
         |    FROM (SELECT DISTINCT query_id, node, gcos FROM
         |          (SELECT query_id, node, gcos FROM bh${t - 1}
         |           UNION ALL SELECT query_id, node, gcos FROM bnb$t) zz) z) t
         |  WHERE rn <= $BeamWidth)""".stripMargin
    s"""WITH $graphAnnCtes,
       |bh0 AS (SELECT query_id, node, gcos FROM h0),
       |${(1 to GraphHops).map(bhop).mkString(",\n")},
       |nqg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM qv),
       |gsc AS (
       |  SELECT CAST(${(1 to GraphHops)
            .map(t => s"(SELECT COUNT(*) FROM nb$t)").mkString(" + ")}
       |    AS BIGINT) AS scored_cands),
       |bsc AS (
       |  SELECT CAST(${(1 to GraphHops)
            .map(t => s"(SELECT COUNT(*) FROM bnb$t)").mkString(" + ")}
       |    AS BIGINT) AS scored_cands),
       |ghit AS (SELECT CAST(SUM(hit) AS BIGINT) AS hits FROM trace),
       |bbest AS (
       |  SELECT query_id, node FROM (
       |    SELECT query_id, node,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY gcos DESC, node) AS rn
       |    FROM bh$GraphHops) t WHERE rn = 1),
       |bhit AS (
       |  SELECT CAST(SUM(CASE WHEN b.node = x.exact_id THEN 1 ELSE 0 END) AS BIGINT) AS hits
       |  FROM bbest b JOIN exact x USING (query_id))
       |SELECT 'beam' AS strategy, nqg.n_queries, bhit.hits,
       |  CAST(bhit.hits AS DOUBLE) / CAST(nqg.n_queries AS DOUBLE) AS recall_at1,
       |  bsc.scored_cands, CAST($BeamWidth AS INTEGER) AS width,
       |  CAST($GraphHops AS INTEGER) AS hops
       |FROM nqg, bhit, bsc
       |UNION ALL
       |SELECT 'greedy' AS strategy, nqg.n_queries, ghit.hits,
       |  CAST(ghit.hits AS DOUBLE) / CAST(nqg.n_queries AS DOUBLE) AS recall_at1,
       |  gsc.scored_cands, CAST(1 AS INTEGER) AS width,
       |  CAST($GraphHops AS INTEGER) AS hops
       |FROM nqg, ghit, gsc
       |ORDER BY strategy""".stripMargin
  }

  // ---------------------------------------------------------------- q249

  /** q249 — filtered ANN over the persisted IVFADC index: top-3 among
    * neighbors satisfying an attribute predicate (`label = `
    * [[FilterLabel]], ~10 % selective on the synthetic labels), the
    * constraint every production retrieval deployment hits the week it
    * ships (tenant/language/license scoping). The card prices the two
    * standard strategies against the SAME probe work:
    *
    *  - PRE-FILTER over the BAKED attribute (round 16): the filter
    *    column rides the codes rows ([[addPqToSemIndex]]'s `attrs` —
    *    +4 bytes/vector beside the m code bytes), so every ADC-scored
    *    candidate is attribute-checked BEFORE the top-3 cut with ZERO
    *    attribute lookups — full recall w.r.t. the probed cells, the
    *    join gone from the executed plan (FilteredAnnSpec captures the
    *    plan and pins bit-parity vs the join formulation).
    *  - POST-FILTER with over-fetch against an EXTERNAL attribute
    *    table: rank the unfiltered top-[[FilteredOverFetch]] first,
    *    look up only those, keep the top-3 survivors — the shape a
    *    deployment is stuck with when the filter column ARRIVES AFTER
    *    the build (a fresh policy bit): |Q|·overfetch lookups, and
    *    queries whose over-fetch window holds < 3 matching rows come up
    *    short (kept_pairs shows the shortfall; recall pays it).
    *
    * Both recalls are against the exact cosine top-3 AMONG MATCHING base
    * vectors, so the card reads as "bake at build and filtering is
    * free at full probe recall; retrofit it and you buy lookups OR
    * recall" — the +4 B/vector rung PLANS.md priced, now executed. */
  private val FilterLabel = 1
  private val FilteredOverFetch = 9

  private def q249(s: SparkSession, d: String): DataFrame = {
    val dir = builtIvfAdc(s, d)
    val attrs = t(s, d, "embeddings")
      .select(col("vec_id").as("neighbor_id"), col("label"))
    val scored = ivfAdcScoredCands(s, ivfAdcQueries(s, d), dir, IvfAdcNprobe)
      .localCheckpoint(true) // consumers: both arms + the pair count
    val exf3 = {
      val u = unitVectors(s, d) // carries label — no attrs join needed
      val qv = u.filter(col("vec_id") % 5 === 0 &&
          col("vec_id") < IvfAdcQueryBound)
        .select(col("vec_id").as("query_id"), col("ue").as("qu"))
      val base = u.filter(col("vec_id") % 5 =!= 0 &&
          col("label") === FilterLabel)
        .select(col("vec_id").as("neighbor_id"), col("ue").as("cu"))
      val w = Window.partitionBy(col("query_id"))
        .orderBy(expr("graft_dot(qu, cu)").desc, col("neighbor_id"))
      broadcast(qv).join(base, col("query_id") =!= col("neighbor_id"))
        .withColumn("rnk", rank().over(w)).filter(col("rnk") <= 3)
        .select(col("query_id"), col("neighbor_id"))
        .localCheckpoint(true) // consumers: one overlap join per arm
    }
    val nq = ivfAdcQueries(s, d).agg(count(lit(1)).as("n_queries"))
    val pairs = scored.agg(count(lit(1)).as("scored_pairs"))
    val frac = unitVectors(s, d).filter(col("vec_id") % 5 =!= 0)
      .agg((sum((col("label") === FilterLabel).cast("long")).cast("double") /
        count(lit(1)).cast("double")).as("filter_frac"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_cos").desc, col("neighbor_id"))
    def card(strategy: String, kept: DataFrame,
        lookups: DataFrame): DataFrame = {
      val k = kept.localCheckpoint(true) // consumers: kept count + overlap
      val keptCnt = k.agg(count(lit(1)).as("kept_pairs"))
      val overlap = k.join(exf3, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("overlap"))
      Seq(pairs, frac, lookups, keptCnt, overlap)
        .foldLeft(nq)(graft.Scalars.withScalar)
        .select(lit(strategy).as("strategy"), col("n_queries"),
          col("filter_frac"), col("scored_pairs"), col("attr_lookups"),
          col("kept_pairs"),
          (col("overlap").cast("double") /
            (lit(3.0) * col("n_queries").cast("double"))).as("recall_at3"))
    }
    // Pre-filter reads the BAKED label straight off the scored frame —
    // no attrs join anywhere in this arm's plan.
    val pre3 = scored.filter(col("label") === FilterLabel)
      .withColumn("rnk", rank().over(w)).filter(col("rnk") <= 3)
      .select(col("query_id"), col("neighbor_id"))
    val over9 = scored.withColumn("rnk", rank().over(w))
      .filter(col("rnk") <= FilteredOverFetch)
      .select(col("query_id"), col("neighbor_id"), col("adc_cos"))
      .localCheckpoint(true) // consumers: lookup count + survivor re-rank
    // Post-filter deliberately prices the EXTERNAL-attribute shape: the
    // join stands in for the lookup a retrofit deployment pays.
    val post3 = over9.join(attrs, Seq("neighbor_id"))
      .filter(col("label") === FilterLabel)
      .withColumn("rnk", rank().over(w)).filter(col("rnk") <= 3)
      .select(col("query_id"), col("neighbor_id"))
    import s.implicits._
    card("pre_filter", pre3, Seq(0L).toDF("attr_lookups"))
      .unionAll(card("post_filter", post3,
        over9.agg(count(lit(1)).as("attr_lookups"))))
      .orderBy("strategy")
  }

  private def q249Sql: String = {
    def dot(a: String, b: String) =
      s"list_reduce(list_prepend(0.0, list_transform(list_zip($a, $b), z -> z[1] * z[2])), (x, y) -> x + y)"
    s"""WITH $ivfAdcCtes,
       |attrs AS (SELECT vec_id AS neighbor_id, label FROM embeddings),
       |exf3 AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
       |      RANK() OVER (PARTITION BY q.vec_id ORDER BY
       |        ${dot("q.ue", "b.ue")} DESC, b.vec_id) AS rnk
       |    FROM qv q JOIN buni b ON q.vec_id <> b.vec_id
       |    JOIN attrs a ON a.neighbor_id = b.vec_id AND a.label = $FilterLabel) t
       |  WHERE rnk <= 3),
       |nqx AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_queries FROM qv),
       |spx AS (SELECT CAST(COUNT(*) AS BIGINT) AS scored_pairs FROM cand),
       |fr AS (
       |  SELECT CAST(SUM(CASE WHEN a.label = $FilterLabel THEN 1 ELSE 0 END) AS DOUBLE)
       |      / CAST(COUNT(*) AS DOUBLE) AS filter_frac
       |  FROM buni b LEFT JOIN attrs a ON a.neighbor_id = b.vec_id),
       |pre3 AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT s.query_id, s.neighbor_id,
       |      RANK() OVER (PARTITION BY s.query_id ORDER BY s.adc_cos DESC, s.neighbor_id) AS rnk
       |    FROM ascore s JOIN attrs a ON a.neighbor_id = s.neighbor_id
       |      AND a.label = $FilterLabel) t
       |  WHERE rnk <= 3),
       |prelk AS (SELECT CAST(0 AS BIGINT) AS attr_lookups),
       |prek AS (SELECT CAST(COUNT(*) AS BIGINT) AS kept_pairs FROM pre3),
       |preov AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS overlap
       |  FROM pre3 JOIN exf3 USING (query_id, neighbor_id)),
       |over9 AS (
       |  SELECT query_id, neighbor_id, adc_cos FROM (
       |    SELECT query_id, neighbor_id, adc_cos,
       |      RANK() OVER (PARTITION BY query_id ORDER BY adc_cos DESC, neighbor_id) AS rnk
       |    FROM ascore) t WHERE rnk <= $FilteredOverFetch),
       |post3 AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT o.query_id, o.neighbor_id,
       |      RANK() OVER (PARTITION BY o.query_id ORDER BY o.adc_cos DESC, o.neighbor_id) AS rnk
       |    FROM over9 o JOIN attrs a ON a.neighbor_id = o.neighbor_id
       |      AND a.label = $FilterLabel) t
       |  WHERE rnk <= 3),
       |postlk AS (SELECT CAST(COUNT(*) AS BIGINT) AS attr_lookups FROM over9),
       |postk AS (SELECT CAST(COUNT(*) AS BIGINT) AS kept_pairs FROM post3),
       |postov AS (
       |  SELECT CAST(COUNT(*) AS BIGINT) AS overlap
       |  FROM post3 JOIN exf3 USING (query_id, neighbor_id))
       |SELECT 'post_filter' AS strategy, nqx.n_queries, fr.filter_frac,
       |  spx.scored_pairs, postlk.attr_lookups, postk.kept_pairs,
       |  CAST(postov.overlap AS DOUBLE) / (3.0 * CAST(nqx.n_queries AS DOUBLE)) AS recall_at3
       |FROM nqx, fr, spx, postlk, postk, postov
       |UNION ALL
       |SELECT 'pre_filter' AS strategy, nqx.n_queries, fr.filter_frac,
       |  spx.scored_pairs, prelk.attr_lookups, prek.kept_pairs,
       |  CAST(preov.overlap AS DOUBLE) / (3.0 * CAST(nqx.n_queries AS DOUBLE)) AS recall_at3
       |FROM nqx, fr, spx, prelk, prek, preov
       |ORDER BY strategy""".stripMargin
  }

  val all: Seq[Q] = Seq(
    Q("q221_pca_power_card", q221, Some(q221Sql)),
    Q("q240_pq_ann", q240, Some(q240Sql)),
    Q("q241_pq_recall_card", q241, Some(q241Sql)),
    Q("q243_ivfadc_search", q243, Some(q243Sql)),
    Q("q244_ivfadc_recall_card", q244, Some(q244Sql)),
    Q("q245_graph_ann_trace", q245, Some(q245Sql)),
    Q("q246_graph_ann_card", q246, Some(q246Sql)),
    Q("q247_ivfadc_nprobe_sweep", q247, Some(q247Sql)),
    Q("q248_beam_ann_card", q248, Some(q248Sql)),
    Q("q249_filtered_ann", q249, Some(q249Sql)),
    Q("q250_graph_index_search", q250, Some(q250Sql)),
    Q("q251_graph_index_card", q251, Some(q251Sql)),
    Q("q252_graph_width_sweep", q252, Some(q252Sql)),
    Q("q253_hybrid_ann_card", q253, Some(q253Sql)),
    Q("q254_graph_index_top3", q254, Some(q254Sql)),
    Q("q255_opq_rotated_search", q255, Some(q255Sql)),
    Q("q256_hybrid_index_top3", q256, Some(q256Sql)),
    Q("q257_clustered_graph_search", q257, Some(q257Sql)),
    Q("q258_clustered_graph_sweep", q258, Some(q258Sql)),
    Q("q259_clustered_hybrid_card", q259, Some(q259Sql)),
    Q("q260_graph_scheme_card", q260, Some(q260Sql)),
    Q("q261_clustered_opq_hybrid_card", q261, Some(q261Sql)),
    Q("q262_churn_recall_card", q262, Some(q262Sql)),
    Q("q263_separability_sweep", q263, Some(q263Sql)),
    Q("q264_opq_iter2_search", q264, Some(q264Sql)),
    Q("q31_embed_norms", q31, Some(q31Sql)),
    Q("q114_semdedup", q114, Some(q114Sql)),
    Q("q211_incremental_semdedup", q211, Some(q211Sql)),
    Q("q212_sem_index_card", q212, Some(q212Sql)),
    Q("q213_nprobe_recall_card", q213, Some(q213Sql)),
    Q("q214_dedup_modality_matrix", q214, Some(q214Sql)),
    Q("q215_kmeans_refine_card", q215, Some(q215Sql)),
    Q("q218_tau_drift_card", q218, Some(q218Sql)),
    Q("q75_embed_quantize", q75, Some(q75Sql)),
    Q("q85_ann_quantized", q85, Some(q85Sql)),
    Q("q32_ann_bruteforce", q32, Some(q32Sql)),
    Q("q33_ann_lsh", q33, Some(q33Sql)),
    Q("q40_embed_nn_dedup", q40, Some(q40Sql)),
    Q("q52_ann_ivf", q52, Some(q52Sql)),
    Q("q131_hard_negatives", q131, Some(q131Sql)),
    Q("q138_semantic_decontam", q138, Some(q138Sql)),
    Q("q141_proto_pruning", q141, Some(q141Sql)))
}
