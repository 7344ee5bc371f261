package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q224's confusable-mixing screen on engineered homoglyph fixtures —
  * the attack shape the gate exists for: Cyrillic confusables inside
  * Latin text that exact/shingle dedup cannot see. */
class ScriptMixSpec extends SparkSpec {

  private lazy val dir: String = {
    import spark.implicits._
    val d = graft.Scratch.fresh("script")
    Seq(
      (1L, "paypal account verification required"), // pure latin
      (2L, "pаypаl account verification required"), // Cyrillic а
      (3L, "中文文档内容"), // pure han
      (4L, "αβγ mixed with latin"), // greek + latin
      (5L, "")) // empty
      .toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  private lazy val rows =
    graft.SparkEntry.queries("q224_script_mix")(spark, dir)
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap

  test("homoglyph substitution flips the confusable flag, not the dominant script") {
    assert(!rows(1L).getAs[Boolean]("confusable_mix"))
    assert(rows(1L).getAs[String]("dominant_script") === "latin")
    assert(rows(2L).getAs[Boolean]("confusable_mix"))
    assert(rows(2L).getAs[String]("dominant_script") === "latin")
    assert(rows(2L).getAs[Long]("n_cyrillic") === 2L)
  }

  test("pure han: dominant han, no confusable flag") {
    assert(rows(3L).getAs[String]("dominant_script") === "han")
    assert(!rows(3L).getAs[Boolean]("confusable_mix"))
    assert(rows(3L).getAs[Long]("n_han") === 6L)
  }

  test("greek-latin mix is confusable; counts partition the doc") {
    assert(rows(4L).getAs[Boolean]("confusable_mix"))
    val r = rows(4L)
    val sum = Seq("n_latin", "n_cyrillic", "n_greek", "n_han", "n_arabic",
      "n_other").map(r.getAs[Long]).sum
    assert(sum === r.getAs[Long]("nch"))
  }

  test("empty text: zero counts, latin by tie priority, no flag") {
    val r = rows(5L)
    assert(r.getAs[Long]("nch") === 0L)
    assert(r.getAs[String]("dominant_script") === "latin")
    assert(!r.getAs[Boolean]("confusable_mix"))
  }
}
