package graft.queries

import graft.SparkSpec

/** q142 against a brute-force Math.log PMI reference — the naive double
  * formulation of the identity the decomposed portable-ln path computes —
  * plus the ranking/threshold semantics. */
class PmiSpec extends SparkSpec {
  import spark.implicits._

  test("q142 PMI matches a brute-force reference and ranks the planted collocation first") {
    val dir = graft.Scratch.fresh("pmi")
    // "qq zz" always co-occur (high PMI); "the x*" pairs are frequent but
    // independent (low PMI); everything crosses the min-count 5 floor
    val texts = (1 to 20).map(i =>
      (i.toLong, s"qq zz the x${i % 3} the x${(i + 1) % 3} the x${i % 3}"))
    texts.map { case (id, tx) => (id, tx, "en", "s", tx.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextOps.queries("q142_pmi_collocations")(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getDouble(3)))
    // brute-force reference
    val toks = texts.map(_._2.split("\\s+").toSeq)
    val uni = toks.flatten.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val bi = toks.flatMap(_.sliding(2).map(p => (p(0), p(1))))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    val nu = uni.values.sum.toDouble
    val nb = bi.values.sum.toDouble
    def ref(a: String, b: String): Double =
      math.log(bi((a, b)) / nb) - math.log(uni(a) / nu) - math.log(uni(b) / nu)
    got.foreach { case ((a, b), (cnt, pmi)) =>
      assert(cnt === bi((a, b)))
      assert(cnt >= 5, s"min-count floor violated for ($a,$b)")
      assert(math.abs(pmi - ref(a, b)) < 1e-12, s"($a,$b): $pmi vs ${ref(a, b)}")
    }
    // the perfectly-associated pair tops the ranking
    assert(got.head._1 === (("qq", "zz")))
    // ranking is PMI-descending
    val pmis = got.map(_._2._2)
    assert(pmis.zip(pmis.tail).forall { case (x, y) => x >= y })
  }
}
