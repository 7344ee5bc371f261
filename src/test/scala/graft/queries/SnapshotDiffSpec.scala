package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** q130 beyond the corpus oracle: an independent JVM MessageDigest
  * reference computes the expected per-doc status from the same nibble
  * rule, so the spec catches a divergence the oracle can't (both engines
  * implementing the same wrong derivation would still hash-match). */
class SnapshotDiffSpec extends SparkSpec {
  import spark.implicits._

  private def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  test("q130 statuses match an independent MessageDigest derivation") {
    val dir = graft.Scratch.fresh("snapdiff")
    // enough ids that the 16 nibble classes are all hit
    val docs = (1L to 200L).map(i => (i, s"text body $i", "en", "s", 10L))
    docs.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = SourceOps.queries("q130_snapshot_diff")(spark, dir).collect()
      .map(r => r.getLong(0) -> r.getString(3)).toMap

    val expected = scala.collection.mutable.Map.empty[Long, String]
    docs.foreach { case (id, _, _, _, _) =>
      md5hex(s"v2|$id").head match {
        case '0' => expected(id) = "removed"
        case '1' => expected(id) = "changed"
        case '2' => expected(id) = "unchanged"; expected(id + 10000000L) = "added"
        case _   => expected(id) = "unchanged"
      }
    }
    assert(got === expected.toMap)
    // all four statuses are load-bearing on this fixture
    assert(got.values.toSet === Set("added", "removed", "changed", "unchanged"))
  }
}
