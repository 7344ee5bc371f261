package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The recall-targeted banding knob (round-11 verdict item 5): q209's
  * detection-probability curve made operational. Pins the curve math,
  * the SLA-driven scheme derivation (including the noise constraint
  * that keeps the verifier from drowning in 1-row-band candidates),
  * default-parity of the generalized banding with the pre-knob 4×4
  * formulation, and a full non-default index round-trip where the
  * persisted scheme metadata — not the probing session's conf — decides
  * how probes band. */
class LshConfigSpec extends SparkSpec {
  import LshConfig._

  test("recallAt reproduces q209's curve for the published 16-lane schemes") {
    def pow(x: Double, n: Int): Double = Iterator.fill(n)(x).product
    for {
      (b, r) <- Seq((16, 1), (8, 2), (4, 4), (2, 8), (1, 16))
      j <- Seq(0.05, 0.5, 0.8, 0.95)
    } assert(Scheme(b, r).recallAt(j) === 1.0 - pow(1.0 - pow(j, r), b),
      s"scheme ${b}x$r at J=$j")
    // The shipped default's audited operating points (q209's card).
    assert(math.abs(Default.recallAt(0.5) - 0.2275) < 5e-4)
    assert(Default.recallAt(0.8) > 0.87 && Default.recallAt(0.8) < 0.89)
  }

  test("schemeFor meets the SLA with the fewest lanes and honors the noise ceiling") {
    val sch = schemeFor(targetRecall = 0.9, atJ = 0.5)
    assert(sch === Scheme(18, 3),
      "0.9 recall at J=0.5 under the default 5% noise ceiling at J=0.1")
    assert(sch.recallAt(0.5) >= 0.9 && sch.recallAt(0.1) <= 0.05)
    // Minimality: no qualifying scheme with fewer lanes exists.
    val cheaper = for {
      r <- 1 to MaxLanes; b <- 1 to MaxLanes / r
      s = Scheme(b, r)
      if s.lanes < sch.lanes && s.recallAt(0.5) >= 0.9 && s.recallAt(0.1) <= 0.05
    } yield s
    assert(cheaper.isEmpty)
    // Without the noise ceiling the degenerate 1-row optimum would win —
    // the constraint is load-bearing, not decorative.
    assert(schemeFor(0.9, 0.5, noiseJ = 0.05, maxNoiseRecall = 0.999) === Scheme(4, 1))
    // An SLA the lane budget cannot reach fails loudly.
    intercept[IllegalArgumentException] {
      schemeFor(targetRecall = 0.999, atJ = 0.3)
    }
  }

  test("fromConf: default, pinned scheme, and SLA-derived scheme") {
    assert(fromConf(spark) === Default)
    try {
      spark.conf.set("spark.graft.lsh.bands", "8")
      spark.conf.set("spark.graft.lsh.rows", "2")
      assert(fromConf(spark) === Scheme(8, 2))
    } finally {
      spark.conf.unset("spark.graft.lsh.bands")
      spark.conf.unset("spark.graft.lsh.rows")
    }
    try {
      spark.conf.set("spark.graft.lsh.targetRecall", "0.9")
      spark.conf.set("spark.graft.lsh.atJaccard", "0.5")
      assert(fromConf(spark) === Scheme(18, 3))
    } finally {
      spark.conf.unset("spark.graft.lsh.targetRecall")
      spark.conf.unset("spark.graft.lsh.atJaccard")
    }
    assert(fromConf(spark) === Default)
  }

  test("fromConf fails fast on every half-specified pin") {
    // A typo'd key or partial rollout must NOT silently fall back to
    // Default — a probe banding differently from its index zeroes recall.
    for ((key, value) <- Seq(
        "spark.graft.lsh.bands" -> "8",
        "spark.graft.lsh.rows" -> "2",
        "spark.graft.lsh.targetRecall" -> "0.9",
        "spark.graft.lsh.atJaccard" -> "0.5")) {
      try {
        spark.conf.set(key, value)
        val e = intercept[IllegalArgumentException] { fromConf(spark) }
        assert(e.getMessage.contains("must be set together"), s"half-pin $key")
      } finally spark.conf.unset(key)
    }
    // And a half-pin does not poison the session once cleared.
    assert(fromConf(spark) === Default)
  }

  test("q242 scheme-derivation card == schemeFor, row by row (the three implementations cannot drift)") {
    val rows = graft.SparkEntry.queries("q242_lsh_scheme_derivation")(
        spark, "/root/testdata/sf0.001")
      .collect()
    assert(rows.length === 4)
    rows.foreach { r =>
      val sch = schemeFor(r.getDouble(1), r.getDouble(2))
      assert((r.getInt(3), r.getInt(4)) === ((sch.bands, sch.rows)),
        s"card row $r vs schemeFor $sch")
      assert(math.abs(r.getDouble(6) - sch.recallAt(r.getDouble(2))) === 0.0,
        "recall column must be the recallAt fold bit-for-bit")
    }
  }

  test("an index BUILT under the SLA conf persists the derived scheme end-to-end") {
    import org.apache.spark.sql.functions.split
    import spark.implicits._
    val root = graft.Scratch.fresh("lshsla")
    val base = Seq(
      (10L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"),
      (11L, "one two three four five six seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    try {
      spark.conf.set("spark.graft.lsh.targetRecall", "0.9")
      spark.conf.set("spark.graft.lsh.atJaccard", "0.5")
      DedupOps.buildDedupIndex(base, s"$root/index")
    } finally {
      spark.conf.unset("spark.graft.lsh.targetRecall")
      spark.conf.unset("spark.graft.lsh.atJaccard")
    }
    // The build derived (18, 3) from the SLA and persisted it; probes in
    // a DIFFERENT conf world band the index's way.
    assert(DedupOps.indexScheme(spark, s"$root/index") === Scheme(18, 3))
    val v = DedupOps.probeDedupIndex(spark,
      Seq((500L, "alpha bravo charlie delta echo foxtrot golf hotel india juliet"))
        .toDF("doc_id", "text"), s"$root/index").head()
    assert(v.getString(1) === "exact" && v.getLong(2) === 10L)
  }

  test("generalized banding is byte-identical to the pre-knob 4x4 formulation") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog today"),
      (2L, "pack my box with five dozen liquor jugs right now"),
      (3L, "a b c"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
    val legacy = docs
      .select(col("doc_id"), expr("graft_minhash(toks, 3, 16)").as("mh"))
      .select(col("doc_id"), explode(expr(
        """transform(sequence(0, 3), b ->
          |  struct(b AS band,
          |         concat_ws(',', mh[b*4], mh[b*4+1], mh[b*4+2], mh[b*4+3]) AS sig))"""
          .stripMargin)).as("bs"))
      .select(col("doc_id"), col("bs.band"), col("bs.sig"))
      .collect().map(_.toSeq).toSet
    val knobbed = DedupOps.mhBandsOf(docs, Default)
      .collect().map(_.toSeq).toSet
    assert(knobbed === legacy)
  }

  test("non-default index round-trip: persisted scheme metadata wins over session conf") {
    import spark.implicits._
    val root = graft.Scratch.fresh("lshknob")
    val baseText = "alpha bravo charlie delta echo foxtrot golf hotel india " +
      "juliet kilo lima mike november oscar papa quebec romeo sierra tango"
    val base = Seq(
      (10L, baseText),
      (11L, "one two three four five six seven eight nine ten eleven twelve"))
      .toDF("doc_id", "text")
    try {
      spark.conf.set("spark.graft.lsh.bands", "8")
      spark.conf.set("spark.graft.lsh.rows", "2")
      DedupOps.buildDedupIndex(base, s"$root/index")
    } finally {
      spark.conf.unset("spark.graft.lsh.bands")
      spark.conf.unset("spark.graft.lsh.rows")
    }
    // The index banded 8x2 and says so in its metadata.
    assert(DedupOps.indexScheme(spark, s"$root/index") === Scheme(8, 2))
    val bandsPerDoc = graft.operators.IndexStore.read(spark, s"$root/index", "bands")
      .groupBy("doc_id").count().collect().map(_.getLong(1)).toSet
    assert(bandsPerDoc === Set(8L))

    // Probe from a DEFAULT-conf session: a near-dup of doc 10 (one token
    // appended, J = 18/19) must band-match — possible only if the probe
    // reads the 8x2 scheme from the index rather than banding 4x4 over a
    // 16-lane re-sketch of a differently-laned index.
    val probe = Seq((90L, baseText + " zulu")).toDF("doc_id", "text")
    val out = DedupOps.probeDedupIndex(spark, probe, s"$root/index")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(out(90L) === (("near", 10L)), s"probe under persisted scheme: $out")
  }
}
