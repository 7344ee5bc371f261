package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Beam-vs-greedy graph-ANN (q248's engine): the width-1 beam IS q245's
  * greedy search, and a wider frontier buys recall by keeping alive the
  * second-best branch a greedy walk discards. Pinned two ways:
  *
  *  1. STRUCTURE on the real corpus — width 1 reproduces the q245 trace
  *     bit-identically; the final frontier never holds more than `width`
  *     rows per query and never the same node twice (the beam-slot dedup);
  *     the card's beam row never pays fewer candidate scorings than the
  *     greedy row on the same graph.
  *  2. A PLANTED GREEDY TRAP — an engineered one-cell corpus where the
  *     entry's cluster is a local maximum: greedy walks to the cluster's
  *     best member and strands there (the current node competes, so it
  *     never leaves), while the width-3 frontier keeps the lower-scoring
  *     BRIDGE node whose out-edges cross to the cluster holding the true
  *     nearest neighbor. Beam hits, greedy misses, on the same graph —
  *     the non-vacuity proof that width is a real lever, not a constant
  *     relabeling (the SnmMultipassSpec planted-pair discipline).
  */
class BeamAnnSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def q248(d: String) =
    VectorOps.all.find(_.name == "q248_beam_ann_card").get.fn(spark, d)

  test("card shape: two arms, greedy never out-scores beam's budget") {
    val rows = q248(sf).collect()
    assert(rows.length === 2)
    val byStrategy = rows.map(r => r.getString(0) -> r).toMap
    assert(byStrategy.keySet === Set("beam", "greedy"))
    val beam = byStrategy("beam"); val greedy = byStrategy("greedy")
    assert(beam.getInt(5) === 3 && greedy.getInt(5) === 1, "widths")
    assert(beam.getInt(6) === greedy.getInt(6), "same hop budget")
    assert(beam.getLong(1) === greedy.getLong(1) && beam.getLong(1) > 0L,
      "same query split")
    assert(beam.getLong(4) >= greedy.getLong(4),
      s"beam must pay at least greedy's scorings: $beam vs $greedy")
    Seq(beam, greedy).foreach { r =>
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
      assert(r.getLong(2) <= r.getLong(1), "hits bounded by queries")
    }
    assert(beam.getDouble(3) >= greedy.getDouble(3),
      s"on this corpus beam recall must not trail greedy: $beam vs $greedy")
  }

  test("width 1 reproduces the greedy trace bit-identically") {
    val (asg, edges) = VectorOps.graphAnnParts(spark, sf)
    val (frontier, _) = VectorOps.graphBeamFrontier(spark, asg, edges, 1)
    val viaBeam = frontier
      .select(col("query_id"), col("node"), col("gcos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val viaTrace = VectorOps.all.find(_.name == "q245_graph_ann_trace").get
      .fn(spark, sf)
      .select(col("query_id"), col("found_id"), col("found_cos"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(viaBeam === viaTrace)
  }

  test("frontier invariants: <= width rows per query, no duplicate slots") {
    val (asg, edges) = VectorOps.graphAnnParts(spark, sf)
    val (frontier, scored) = VectorOps.graphBeamFrontier(spark, asg, edges, 3)
    val perQ = frontier.groupBy(col("query_id"))
      .agg(count(lit(1)).as("n"), countDistinct(col("node")).as("d"))
      .collect()
    assert(perQ.nonEmpty)
    perQ.foreach { r =>
      assert(r.getLong(1) <= 3L, s"beam overflow: $r")
      assert(r.getLong(1) === r.getLong(2), s"duplicate beam slot: $r")
    }
    assert(scored.head().getLong(0) > 0L)
  }

  /** One cell (all extras nearest seed e0), two clusters inside it:
    * A = {16,17,18} around 33°-40° off e0 in the (e0,e1) plane plus the
    * bridge X=20 tilted toward (e0,e2); B = {21,22} at ~31°-32° in the
    * (e0,e2) plane plus the true nearest T=23 at 18°. Verified geometry
    * (within-degree 3 + one cross edge to the rank-2 cell, which scores
    * ~0 for query e0 and never enters a cut): entry(query 0) = 16; 16's
    * within out-edges = {18,17,X}; greedy's hop-1 argmax is 17 whose
    * neighborhood ({18,16,X}) never beats itself, so greedy ends at 17;
    * the width-3 frontier keeps X (3rd-best at hop 1), X's within
    * out-edges {22,21,23} cross to B, and 23 wins every later cut. */
  test("planted trap: greedy strands in the entry cluster, beam crosses the bridge") {
    import spark.implicits._
    val dim = 16
    def e(i: Int): Seq[Double] = Seq.tabulate(dim)(j => if (j == i) 1.0 else 0.0)
    def inPlane(axis2: Int, deg: Double): Seq[Double] = {
      val rad = math.toRadians(deg)
      Seq.tabulate(dim)(j =>
        if (j == 0) math.cos(rad) else if (j == axis2) math.sin(rad) else 0.0)
    }
    val x20 = {
      val raw = Seq(0.80, 0.35, 0.45) ++ Seq.fill(dim - 3)(0.0)
      val n = math.sqrt(raw.map(v => v * v).sum)
      raw.map(_ / n)
    }
    val rows: Seq[(Long, Seq[Double], Int)] =
      ((0 until dim).map(i => (i.toLong, e(i))) ++ Seq(
        16L -> inPlane(1, 40), 17L -> inPlane(1, 33),
        18L -> inPlane(1, 35),
        20L -> x20,
        21L -> inPlane(2, 32), 22L -> inPlane(2, 31),
        23L -> inPlane(2, 18))).map { case (id, v) => (id, v, 0) }
    val dir = graft.Scratch.fresh("beamtrap")
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    val (asg, edges) = VectorOps.graphAnnParts(spark, dir)
    val exact = VectorOps.graphExactTop1(spark, asg)
      .filter(col("query_id") === 0L).head().getLong(1)
    assert(exact === 23L, s"fixture: query 0's true nearest must be 23, got $exact")

    def top1(width: Int): (Long, Double) = {
      val (frontier, _) = VectorOps.graphBeamFrontier(spark, asg, edges, width)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col("gcos").desc, col("node"))
      val r = frontier.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1 && col("query_id") === 0L)
        .select(col("node"), col("gcos")).head()
      (r.getLong(0), r.getDouble(1))
    }
    val (greedyNode, greedyCos) = top1(1)
    val (beamNode, beamCos) = top1(3)
    assert(greedyNode === 17L,
      s"greedy must strand at the entry cluster's best member: $greedyNode")
    assert(beamNode === 23L, s"beam must cross the bridge to 23: $beamNode")
    assert(beamCos > greedyCos + 0.05,
      s"the trap must cost greedy real cosine: $greedyCos vs $beamCos")

    // The card over the trap corpus shows the same step in aggregate.
    val card = q248(dir).collect().map(r => r.getString(0) -> r).toMap
    assert(card("beam").getDouble(3) > card("greedy").getDouble(3),
      s"card must surface the planted recall step: ${card.values.toSeq}")
  }
}
