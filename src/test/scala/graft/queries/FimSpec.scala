package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q136 invariants the corpus oracle can't state: the FIM rendering is
  * LOSSLESS (parsing the sentinels back and reassembling P+M+S recovers
  * the original token stream), the rate gate lands near 0.5, and the
  * whole transform is a pure function of doc_id + text. */
class FimSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(n: Int): String = {
    val dir = graft.Scratch.fresh("fim")
    (1 to n).map { i =>
      val words = (0 until (i % 9)).map(j => s"w${(i * 7 + j) % 13}")
      (i.toLong, words.mkString(" "), "en", "s", 10L)
    }.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q136 PSM rendering is lossless: P+M+S reassembles the original tokens") {
    val dir = fixture(200)
    val rows = PipelineOps.queries("q136_fim_transform")(spark, dir).collect()
    val orig = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("text")).collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    var applied = 0
    rows.foreach { r =>
      val (id, txt) = (r.getLong(0), r.getString(5))
      if (r.getBoolean(2)) {
        applied += 1
        // <fim_prefix>P<fim_suffix>S<fim_middle>M  →  P ++ M ++ S
        val body = txt.stripPrefix("<fim_prefix>")
        val Array(p, rest) = body.split("<fim_suffix>", 2)
        val Array(sfx, m) = rest.split("<fim_middle>", 2)
        def toks(x: String) = x.split("\\s+").filter(_.nonEmpty).toSeq
        assert(toks(p) ++ toks(m) ++ toks(sfx) === toks(orig(id).trim),
          s"doc $id does not reassemble")
        // cut bookkeeping matches the rendered spans
        assert(toks(p).size === r.getLong(3) &&
          toks(m).size === r.getLong(4) - r.getLong(3))
      } else {
        assert(txt === orig(id), s"passthrough doc $id must be verbatim")
      }
    }
    // rate gate: md5-uniform → ~half of the eligible (n>=2) docs
    val eligible = orig.values.count(_.trim.split("\\s+").count(_.nonEmpty) >= 2)
    assert(applied > eligible / 3 && applied < 2 * eligible / 3,
      s"$applied applied of $eligible eligible")
  }

  test("q136 is deterministic across reruns and partitionings") {
    val dir = fixture(60)
    val r1 = PipelineOps.queries("q136_fim_transform")(spark, dir).collect().toSeq
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      spark.conf.set("spark.sql.shuffle.partitions", "5")
      val r2 = PipelineOps.queries("q136_fim_transform")(spark, dir).collect().toSeq
      assert(r1.map(_.toSeq) === r2.map(_.toSeq))
    } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
  }
}
