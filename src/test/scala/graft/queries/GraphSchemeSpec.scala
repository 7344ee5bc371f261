package graft.queries

import graft.SparkSpec
import graft.operators.IndexStore
import org.apache.spark.sql.functions._

/** The persisted graph search scheme (round 17, the round-16 verdict's
  * top item): a built graph index DERIVES its (entries, width, hops) by
  * running the [[GraphConfig.SweepArms]] grid on its OWN corpus at build
  * time, and commits the measured curve as the graph kind's `sweep` in
  * the index manifest, the chosen scheme flagged on its row — the
  * LshConfig discipline (a built index carries its scheme as metadata;
  * probes read it back regardless of session conf or library default).
  * Pins:
  *  1. the build writes the full measured curve with exactly one chosen
  *     row, and the choice ≡ [[GraphConfig.schemeFor]] re-applied to the
  *     persisted curve (the metadata is self-consistent, not a copy of
  *     the library constant);
  *  2. a NON-DEFAULT committed scheme drives the probe: results are
  *     bit-equal to the explicit-knob probe at that scheme, from a fresh
  *     session;
  *  3. an index without the graph kind refuses a graph probe — there is
  *     no default to fall back to.
  */
class GraphSchemeSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(tag: String): String =
    graft.Scratch.fresh(s"gscheme_$tag")

  /** 24 deterministic 4-d vectors with mild cluster structure — enough
    * nodes that the sweep's 8 calibration queries and the probe batch
    * are both non-degenerate. */
  private def corpus = {
    def v(i: Int): Seq[Double] = {
      val a = (i % 3).toDouble
      Seq(math.cos(a) + 0.11 * i, math.sin(a) - 0.07 * i,
        0.3 * ((i % 5) - 2), 1.0 + 0.05 * i)
    }
    (0 until 24).map(i => (i.toLong, v(i))).toDF("vec_id", "embedding")
  }

  private def probes =
    (100 until 106).map(i =>
      (i.toLong, Seq(1.0 + 0.02 * i, -0.5, 0.25 * (i % 4), 0.8)))
      .toDF("vec_id", "embedding")

  private def build(dir: String): Unit = {
    VectorOps.buildSemIndex(spark, corpus, s"$dir/index")
    VectorOps.addGraphToSemIndex(spark, s"$dir/index")
  }

  test("build persists a self-consistent curve with exactly one chosen row") {
    val dir = freshDir("derive")
    build(dir)
    val rows = IndexStore.kind(spark, s"$dir/index", "graph").sweep
      .sortBy(r => (r.entries, r.width, r.hops))
    assert(rows.length === GraphConfig.SweepArms.size,
      "one persisted row per sweep arm")
    val curve = rows.map(r =>
      GraphConfig.Scheme(r.entries, r.width, r.hops) -> r.recallAt1)
    assert(curve.map(_._1).toSet === GraphConfig.SweepArms.toSet)
    val chosen = rows.filter(_.chosen)
    assert(chosen.length === 1, "exactly one chosen arm")
    val loaded = VectorOps.loadGraphScheme(spark, s"$dir/index")
    assert(loaded.isDefined)
    assert(loaded.get === GraphConfig.schemeFor(GraphConfig.DefaultTarget,
      curve), "chosen row ≡ schemeFor re-applied to the persisted curve")
    assert(rows.forall(_.nCalib === 8L),
      "24-node corpus holds out the full 8-query calibration split")
  }

  test("a non-default persisted scheme drives probes, from a fresh session") {
    val dir = freshDir("nondefault")
    build(dir)
    // Commit a deliberately non-default scheme (the greedy single-entry
    // arm — on a multi-cell corpus its entry misses are exactly what the
    // default's extra entries recover, so the two probes genuinely
    // diverge) by moving the sweep's chosen flag, the one place the
    // build records its choice.
    val nd = GraphConfig.Scheme(1, 1, 3)
    assert(nd !== GraphConfig.Default)
    IndexStore.commit(spark, s"$dir/index") { ks =>
      ks + ("graph" -> ks("graph").copy(sweep = ks("graph").sweep.map(a =>
        a.copy(chosen = GraphConfig.Scheme(a.entries, a.width, a.hops) == nd))))
    }
    val fresh = spark.newSession()
    assert(VectorOps.loadGraphScheme(fresh, s"$dir/index") === Some(nd),
      "scheme metadata round-trips through a fresh session")
    val viaMeta = VectorOps.probeGraphIndex(fresh, probes, s"$dir/index")
      .collect().map(_.toSeq).toSet
    val explicit = VectorOps.probeGraphIndex(fresh, probes, s"$dir/index",
        entries = nd.entries, width = nd.width, hops = nd.hops)
      .collect().map(_.toSeq).toSet
    assert(viaMeta === explicit,
      "default-arg probe must search at the PERSISTED scheme")
    // And the metadata genuinely changes the search relative to the
    // library default on this corpus — the knob is load-bearing here.
    val atDefault = VectorOps.probeGraphIndex(fresh, probes, s"$dir/index",
        entries = GraphConfig.Default.entries,
        width = GraphConfig.Default.width, hops = GraphConfig.Default.hops)
      .collect().map(_.toSeq).toSet
    assert((viaMeta != atDefault) || nd == GraphConfig.Default,
      "the greedy scheme must diverge from the multi-entry default " +
        "on this corpus (if this fails, pick a more separating fixture)")
  }

  test("an index without the graph kind refuses a graph probe") {
    val dir = freshDir("nograph")
    VectorOps.buildSemIndex(spark, corpus, s"$dir/index")
    assert(VectorOps.loadGraphScheme(spark, s"$dir/index").isEmpty)
    val viaMeta = intercept[IllegalStateException] {
      VectorOps.probeGraphIndex(spark, probes, s"$dir/index").collect()
    }
    assert(viaMeta.getMessage.contains(s"$dir/index"), viaMeta.getMessage)
    // Explicit knobs need no scheme, but there are still no edges.
    val explicit = intercept[IllegalStateException] {
      VectorOps.probeGraphIndex(spark, probes, s"$dir/index",
        entries = GraphConfig.Default.entries,
        width = GraphConfig.Default.width, hops = GraphConfig.Default.hops)
        .collect()
    }
    assert(explicit.getMessage.contains(s"$dir/index"), explicit.getMessage)
  }
}
