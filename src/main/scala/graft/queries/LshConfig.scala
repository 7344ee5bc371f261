package graft.queries

import org.apache.spark.sql.SparkSession

/** Shared MinHash-LSH banding configuration for q28 / q112 / DedupStream
  * — the recall-targeted knob q209's detection-probability curve makes
  * principled. A banding of b bands × r rows catches a pair at Jaccard J
  * with p = 1 − (1 − J^r)^b; the shipped default (4×4 over 16 lanes)
  * sits at ~23% single-probe recall at the J = 0.5 verify threshold and
  * 88% at J = 0.8 (q209 publishes the full grid). When a deployment
  * needs a different point on the curve, it either pins (bands, rows)
  * directly or states the SLA — target recall at a target J — and
  * [[schemeFor]] derives the cheapest scheme meeting it, the
  * `lshBitsFor` / `PctGate` corpus-derived-knob idiom applied to
  * banding.
  *
  * The BUILT INDEX carries its scheme as metadata
  * (`DedupOps.buildDedupIndex` commits it in the index manifest with the
  * three tables; probe/append read it back), so a probe always bands exactly the way
  * the index was built even across sessions with different conf — the
  * same discipline as the semantic index persisting its calibrated τ.
  * Session conf is consulted only where no index exists yet (q28's
  * in-query banding, index builds).
  *
  * Cost model behind [[schemeFor]]'s tie-breaks: sketch width and band
  * rows per doc are both ∝ lanes = b·r (storage + shuffle), so fewest
  * lanes wins; among equal-lane schemes, more rows per band means a
  * sharper S-curve knee — fewer sub-threshold collisions reaching the
  * exact-Jaccard verifier — so larger r wins ties. The oracle SQL of
  * the shipped queries encodes [[Default]]; tests that exercise other
  * schemes go through index round-trip specs, not SQL oracles. */
object LshConfig {

  final case class Scheme(bands: Int, rows: Int) {
    require(bands >= 1 && rows >= 1, s"degenerate banding ($bands x $rows)")
    def lanes: Int = bands * rows

    /** Detection probability 1 − (1 − J^r)^b at Jaccard `j` — q209's
      * curve, unrolled fixed-order multiplication (no libm pow). */
    def recallAt(j: Double): Double = {
      var jr = 1.0
      var i = 0
      while (i < rows) { jr *= j; i += 1 }
      var miss = 1.0
      i = 0
      while (i < bands) { miss *= (1.0 - jr); i += 1 }
      1.0 - miss
    }
  }

  val Default: Scheme = Scheme(4, 4)

  /** Sketch-width ceiling: 256 lanes = 2 KB of signature per doc —
    * production MinHash indexes run 100-250 permutations; past this the
    * band table starts competing with the shingle store for index
    * bytes. */
  val MaxLanes: Int = 256

  /** The cheapest scheme meeting a recall SLA — `targetRecall` at
    * Jaccard `atJ` — that also keeps the S-curve's LOW tail down:
    * detection probability at the noise point `noiseJ` must not exceed
    * `maxNoiseRecall`. The noise constraint is what makes the
    * derivation honest: without it the pure recall-per-lane optimum is
    * always 1-row bands (any single colliding lane a candidate), whose
    * below-threshold collisions flood the exact-Jaccard verifier —
    * cheap sketches, quadratic verify. Among qualifying schemes:
    * fewest lanes (sketch bytes + band rows per doc are both ∝ b·r),
    * ties to the largest rows-per-band (sharper knee, fewer
    * false-positive candidates). Enumeration is ≤ MaxLanes·H(MaxLanes)
    * schemes — driver-side, deterministic, no libm pow. */
  def schemeFor(targetRecall: Double, atJ: Double,
      maxLanes: Int = MaxLanes, noiseJ: Double = 0.1,
      maxNoiseRecall: Double = 0.05): Scheme = {
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"target recall must be in (0,1): $targetRecall")
    require(atJ > 0.0 && atJ < 1.0, s"target Jaccard must be in (0,1): $atJ")
    require(noiseJ < atJ, s"noise point $noiseJ must sit below the target J $atJ")
    val candidates = for {
      r <- 1 to maxLanes
      b <- 1 to maxLanes / r
      sch = Scheme(b, r)
      if sch.recallAt(atJ) >= targetRecall && sch.recallAt(noiseJ) <= maxNoiseRecall
    } yield sch
    require(candidates.nonEmpty,
      s"no scheme within $maxLanes lanes reaches recall $targetRecall at J=$atJ " +
        s"while keeping p(J=$noiseJ) <= $maxNoiseRecall — widen maxLanes or relax the SLA")
    candidates.minBy(sch => (sch.lanes, -sch.rows))
  }

  /** The session-level knob: explicit `spark.graft.lsh.bands/rows` pins
    * a scheme; else `spark.graft.lsh.targetRecall` +
    * `spark.graft.lsh.atJaccard` derive one via [[schemeFor]]; else
    * [[Default]]. */
  def fromConf(s: SparkSession): Scheme = {
    val c = s.conf
    // Both-or-neither, fail-fast: a half-set pin (a typo'd key, a partial
    // rollout) silently falling through to Default would build an index
    // with a scheme the operator did not intend — and a probe-vs-index
    // scheme mismatch zeroes recall (see the class scaladoc). Same
    // contract for the SLA pair.
    (c.getOption("spark.graft.lsh.bands"), c.getOption("spark.graft.lsh.rows")) match {
      case (Some(b), Some(r)) => Scheme(b.toInt, r.toInt)
      case (Some(_), None) | (None, Some(_)) => throw new IllegalArgumentException(
        "spark.graft.lsh.bands and spark.graft.lsh.rows must be set together " +
          "(exactly one is set — a half-specified pin would silently fall back " +
          "to the default scheme)")
      case (None, None) =>
        (c.getOption("spark.graft.lsh.targetRecall"),
            c.getOption("spark.graft.lsh.atJaccard")) match {
          case (Some(t), Some(j)) => schemeFor(t.toDouble, j.toDouble)
          case (Some(_), None) | (None, Some(_)) => throw new IllegalArgumentException(
            "spark.graft.lsh.targetRecall and spark.graft.lsh.atJaccard must be " +
              "set together (exactly one is set)")
          case _ => Default
        }
    }
  }
}
