package graft.queries

import graft.SparkSpec
import org.scalatest.funsuite.AnyFunSuite

/** The q233 log-histogram bucket math — exhaustive over v in [1, 2^20]:
  * the index must be monotone, every value must fall inside its own
  * bucket's [lo, hi], the midpoint must honor the 2^-3 relative-error
  * guarantee, and the whole space must use <= 8 buckets per exponent.
  * (The DuckDB oracle gates engine parity; this gates the FORMULA.) */
class QuantileSketchSpec extends AnyFunSuite {

  private def idxOf(v: Long): Int = {
    val e = 63 - java.lang.Long.numberOfLeadingZeros(v) // len(bin(v)) - 1
    (e * 8 + ((v * 8) / (1L << e) - 8)).toInt
  }
  private def lo(idx: Int): Long =
    (((8L + idx % 8) << (idx / 8)) + 7L) / 8L
  private def hi(idx: Int): Long =
    ((((9L + idx % 8) << (idx / 8)) + 7L) / 8L) - 1L

  test("every v lands inside its own bucket bounds (exhaustive to 2^20)") {
    var v = 1L
    while (v <= (1L << 20)) {
      val i = idxOf(v)
      assert(lo(i) <= v && v <= hi(i), s"v=$v idx=$i lo=${lo(i)} hi=${hi(i)}")
      v += 1
    }
  }

  test("bucket index is monotone non-decreasing in v") {
    var v = 1L; var prev = -1
    while (v <= (1L << 20)) {
      val i = idxOf(v)
      assert(i >= prev, s"idx regressed at v=$v")
      prev = i; v += 1
    }
  }

  test("midpoint estimate is within 2^-3 relative error of any bucket member") {
    var v = 1L
    while (v <= (1L << 20)) {
      val i = idxOf(v)
      val mid = (lo(i) + hi(i)) / 2
      assert(math.abs(mid - v).toDouble / v.toDouble <= 0.125 + 1e-12,
        s"v=$v mid=$mid")
      v += 1
    }
  }

  test("sub-bucket index stays in [0, 8) and buckets tile without gaps") {
    var v = 1L
    while (v <= (1L << 20)) {
      val s = idxOf(v) % 8
      assert(s >= 0 && s < 8)
      v += 1
    }
    // adjacent indices tile: hi(i) + 1 == lo(i + 1) wherever both occupied
    val seen = (1L to (1L << 16)).map(idxOf).distinct.sorted
    seen.sliding(2).foreach { case Seq(a, b) =>
      if (b == a + 1) assert(hi(a) + 1 === lo(b), s"gap between idx $a and $b")
    }
  }
}

/** The q233 EMPTY-CORPUS degenerate (round-13 guard, round-14 test): no
  * values → no buckets → no selectable rank. The engine must return the
  * zero-row card with the REGULAR card's schema — the same shape the
  * DuckDB oracle's `sel` join produces on an empty corpus — instead of
  * the pre-guard sk(-1) IndexOutOfBounds. */
class QuantileSketchEmptySpec extends SparkSpec {

  test("q233 on an empty corpus: zero-row card, schema identical to the populated card") {
    import org.apache.spark.sql.types._
    val root = graft.Scratch.fresh("q233_empty")
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType),
      StructField("lang", StringType), StructField("source", StringType),
      StructField("n_chars", LongType)))
    spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      .write.mode("overwrite").parquet(s"$root/documents.parquet")
    val empty = graft.SparkEntry.queries("q233_quantile_sketch")(spark, root)
    assert(empty.count() === 0L)
    val populated =
      graft.SparkEntry.queries("q233_quantile_sketch")(spark, "/root/testdata/sf0.001")
    assert(empty.schema.map(f => (f.name, f.dataType)) ===
      populated.schema.map(f => (f.name, f.dataType)),
      s"empty-card schema drifted:\n${empty.schema}\nvs\n${populated.schema}")
  }
}
