package graft.queries

/** Recall-targeted search configuration for the persisted graph-ANN
  * index — [[LshConfig]]'s SLA-derivation discipline applied to the
  * graph member of the quartet. The LSH side derives (bands, rows) from
  * an analytic S-curve; a navigable graph has no closed-form recall
  * curve, so the honest equivalent is an EMPIRICAL one: the q252 sweep
  * card measures held-out recall@1 and executed candidate scorings per
  * (entries, width, hops) arm on the committed corpus (all arms in one
  * probe, the arm a column of the beam frontier), and [[schemeFor]]
  * picks the cheapest arm meeting the recall target from exactly those
  * rows. GraphConfigSpec pins [[MeasuredCurve]] ≡ the
  * q252 card row-by-row, so the shipped default can never drift from
  * the published measurement.
  *
  * The three knobs attack different failure modes:
  *  - `entries` — one independent beam per top-E query cell (the graph
  *    twin of IVF's nprobe): recovers quantizer boundary errors at the
  *    ENTRY, which no width can reach from a single rank-1 entry
  *    because width only widens the walk inside the entered component.
  *  - `width` — beam slots per walk: recovers greedy local maxima
  *    INSIDE a component (q248's planted trap).
  *  - `hops` — walk length: recovers targets more edges away than the
  *    budget.
  *
  * Cost model behind the tie-breaks: each beam pays its entry plus
  * ≈ hops·width·degree expansion scorings, and beams are independent,
  * so a query pays ≈ entries·(1 + hops·width·degree) (q252's
  * `scored_cands` column measures the executed count; this model only
  * orders the arms). Fewest modeled scorings wins; among equal-cost
  * schemes fewer hops wins (hops are SEQUENTIAL joins — latency —
  * while entries and width are parallel fan-out inside one hop), then
  * smaller width, then fewer entries. */
object GraphConfig {

  final case class Scheme(entries: Int, width: Int, hops: Int) {
    require(entries >= 1 && width >= 1 && hops >= 1,
      s"degenerate search ($entries x $width x $hops)")

    /** Modeled per-query candidate scorings at out-degree `degree`. */
    def cost(degree: Int = 4): Int = entries * (1 + hops * width * degree)
  }

  /** The sweep grid q252 publishes: the greedy single-entry baseline,
    * width alone, entries alone, then the two combined at increasing
    * entry counts — each knob priced both in isolation and where it is
    * expected to live (entries×width together). */
  val SweepArms: Seq[Scheme] = Seq(
    Scheme(1, 1, 3), Scheme(1, 3, 3), Scheme(4, 1, 3),
    Scheme(4, 3, 3), Scheme(8, 3, 3))

  /** Held-out recall@1 per arm — the committed q252 card at sf0.01
    * (8-query held-out split over the 400-vector base index, round-16
    * cross-cell-edge graph). Re-pin whenever the graph construction or
    * the corpus changes; GraphConfigSpec fails loudly if this drifts
    * from what q252 actually measures.
    *
    * Sample-size caveat (round-17, the ADVICE note): 8 held-out queries
    * quantize recall to EIGHTHS, so arm ordering near the 0.5 target can
    * flip on a single query, and the constants are corpus-specific. This
    * curve is therefore only for ad-hoc (index-less) searches — a built
    * graph index derives and COMMITS its own scheme from a sweep on its
    * own corpus at build time ([[graft.queries.VectorOps]]'s
    * `addGraphToSemIndex`, which commits the measured curve with the
    * chosen arm flagged), and probes read that row back, the same way
    * the LSH index commits its (bands, rows). */
  val MeasuredCurve: Seq[(Scheme, Double)] = Seq(
    Scheme(1, 1, 3) -> 0.25,
    Scheme(1, 3, 3) -> 0.375,
    Scheme(4, 1, 3) -> 0.375,
    Scheme(4, 3, 3) -> 0.625,
    Scheme(8, 3, 3) -> 0.875)

  /** The cheapest measured scheme meeting `targetRecall`; if no arm
    * reaches the target, the best-recall arms (cheapest among them) —
    * a sweep can only promise what it measured, and the fallback makes
    * "ask for more than the graph can do" degrade to "do the best it
    * can" instead of throwing inside a registered query. */
  def schemeFor(targetRecall: Double,
      curve: Seq[(Scheme, Double)] = MeasuredCurve): Scheme = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"target recall must be in (0,1]: $targetRecall")
    require(curve.nonEmpty, "empty recall curve")
    val qualifying = curve.filter(_._2 >= targetRecall)
    val pool = if (qualifying.nonEmpty) qualifying
      else {
        val best = curve.map(_._2).max
        curve.filter(_._2 == best)
      }
    pool.map(_._1).minBy(s => (s.cost(), s.hops, s.width, s.entries))
  }

  /** Default recall SLA for the registered q250/q251 probes. */
  val DefaultTarget: Double = 0.5

  val Default: Scheme = schemeFor(DefaultTarget)
}
