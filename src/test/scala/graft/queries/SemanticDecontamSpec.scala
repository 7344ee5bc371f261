package graft.queries

import graft.SparkSpec

/** q138 semantics the corpus oracle can't isolate: a planted paraphrase
  * (near-parallel vector) of a benchmark row flags, an orthogonal one
  * doesn't, and argmax ties break to the lowest benchmark id. */
class SemanticDecontamSpec extends SparkSpec {
  import spark.implicits._

  test("q138 flags near-parallel vectors and clears orthogonal ones") {
    val dir = graft.Scratch.fresh("semdec")
    val rows = Seq(
      (0L, Seq(1f, 0f, 0f, 0f), 0),    // benchmark (0 % 50 = 0)
      (50L, Seq(0f, 1f, 0f, 0f), 1),   // benchmark
      (1L, Seq(0.99f, 0.01f, 0.1f, 0f), 2), // near-copy of bench 0 → flag
      (2L, Seq(0f, 0f, 0f, 2f), 3),    // orthogonal to both → clear
      (3L, Seq(0.6f, 0.75f, 0f, 0f), 4)) // between the two, closer to 50
    rows.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = VectorOps.queries("q138_semantic_decontam")(spark, dir)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(2), r.getDouble(3), r.getBoolean(4)))).toMap
    assert(got.keySet === Set(1L, 2L, 3L))
    assert(got(1L)._1 === 0L && got(1L)._3, "near-copy must flag against bench 0")
    assert(got(2L)._1 === 0L && got(2L)._2 === 0.0 && !got(2L)._3,
      "orthogonal vector ties at cos 0 -> lowest bench id, not contaminated")
    assert(got(3L)._1 === 50L && got(3L)._3, "closer to bench 50")
  }
}
