package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** q239 (rotated-key multi-pass SNM) vs q235 (single pass): the recall
  * claim is structural — pass 0 IS q235 — and this spec pins both the
  * subset direction and the strict improvement on the adversarial
  * fixture single-pass SNM is known to miss: near-identical docs whose
  * keys diverge in the FIRST two characters (different sort block, never
  * adjacent in key order), separated by enough filler that no window
  * reaches across. */
class SnmMultipassSpec extends SparkSpec {

  private def run(name: String, dir: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, dir)

  private def dupPairs(df: DataFrame): Set[(Long, Long)] =
    df.filter(col("is_dup")).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("multi-pass candidate recall is a superset of single-pass on real data") {
    val d = "/root/testdata/sf0.001"
    val single = run("q235_sorted_neighborhood", d)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val multi = run("q239_snm_multipass", d)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(single.subsetOf(multi),
      s"pass 0 ≡ q235, so every single-pass pair must survive the union; " +
        s"missing: ${(single -- multi).take(5)}")
    assert(dupPairs(run("q235_sorted_neighborhood", d))
      .subsetOf(dupPairs(run("q239_snm_multipass", d))),
      "verified dups are a pure function of the pair — subset must hold there too")
  }

  test("planted prefix-divergent near-dups: found by a rotated pass, missed by pass 0") {
    import spark.implicits._
    val root = graft.Scratch.fresh("snm")
    // Shared 30-char tail, first two chars diverge ("aa" vs "zz"), so the
    // pass-0 keys land in different 2-char blocks. Filler docs populate
    // both blocks so window adjacency cannot rescue the pair by luck.
    val tail = "commonsharedtailtextbodyhere12"
    val planted = Seq(
      10L -> s"aa$tail",
      20L -> s"zz$tail")
    val filler = (1 to 40).flatMap { i =>
      Seq((100L + i) -> f"aa_filler_$i%02d_unrelated_words_here",
          (200L + i) -> f"zz_filler_$i%02d_other_unrelated_body")
    }.map { case (id, t) => id.toLong -> t }
    (planted ++ filler).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$root/documents.parquet")

    val single = run("q235_sorted_neighborhood", root)
    val multi = run("q239_snm_multipass", root)
    assert(!dupPairs(single).contains((10L, 20L)),
      "fixture broken: single-pass found the planted pair — filler too thin")
    assert(dupPairs(multi).contains((10L, 20L)),
      s"a rotated pass must catch the prefix-divergent pair; got ${dupPairs(multi)}")
    // And the finding pass is a rotated one, not pass 0.
    val row = multi.filter(col("doc_a") === 10L && col("doc_b") === 20L).head()
    assert(row.getAs[Int]("first_pass") > 0,
      s"pair must be found by a rotated pass: $row")
    // Strictly more verified dups than single-pass on this fixture.
    assert(dupPairs(multi).size > dupPairs(single).size)
  }
}
