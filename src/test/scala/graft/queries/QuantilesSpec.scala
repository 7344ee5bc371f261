package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q137 against a plain sorted-array reference — including the tie-heavy
  * distribution where bucket boundaries land inside runs of equal keys
  * (the case GlobalRank's contiguous-run guarantee exists for). */
class QuantilesSpec extends SparkSpec {
  import spark.implicits._

  private def check(texts: Seq[(Long, String)]): Unit = {
    val dir = graft.Scratch.fresh("quant")
    texts.map { case (id, tx) => (id, tx, "en", "s", 1L) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = PipelineOps.queries("q137_exact_quantiles")(spark, dir)
      .collect().map(r => r.getInt(0) -> r.getLong(2)).toMap
    val sorted = texts
      .map { case (id, tx) => (tx.trim.split("\\s+").length.toLong, id) }
      .sorted.map(_._1)
    val n = sorted.size
    Seq(25, 50, 75, 90, 99).foreach { p =>
      val rank = (p * n + 99) / 100 // ceil(p/100 * n) in integer arithmetic
      assert(got(p) === sorted(rank - 1), s"p$p of n=$n")
    }
  }

  test("q137 matches the sorted-array Type-1 quantiles on a skewed fixture") {
    check((1 to 300).map(i => (i.toLong, Seq.fill(i * i % 97 + 1)("w").mkString(" "))))
  }

  test("q137 is exact when ties span bucket boundaries") {
    // only 3 distinct lengths over 200 docs: every percentile rank falls
    // inside a run of equal keys
    check((1 to 200).map(i => (i.toLong, Seq.fill(Seq(5, 5, 5, 9, 20)(i % 5))("w").mkString(" "))))
  }
}
