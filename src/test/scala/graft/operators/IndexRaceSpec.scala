package graft.operators

import graft.SparkSpec
import graft.queries.VectorOps
import org.apache.spark.sql.functions.col

/** The round-14 residual takedown race, now CLOSED by the index writer
  * lock and hammered here: one thread issues 100 takedowns while another
  * runs compaction passes concurrently. Pre-lock, a takedown landing
  * between a compaction's final tombstone re-read and its overwrite was
  * silently clobbered — the retired vector stayed matchable forever.
  * With the lock, every takedown either precedes the re-read (survives
  * via the fresh-read anti-join) or waits out the overwrite (survives
  * trivially). The invariant checked is the user-visible one: after the
  * dust settles and one final compaction runs, NO taken-down vector
  * remains in the store.
  */
class IndexRaceSpec extends SparkSpec {

  import spark.implicits._

  test("100 concurrent takedowns survive racing compaction passes") {
    val dir = graft.Scratch.fresh("race_sem")
    def vec(i: Int): Seq[Double] = {
      val t = i.toDouble / 7.0
      Seq(math.cos(t), math.sin(t), math.cos(2 * t) / 3.0, 0.1 * (i % 3))
    }
    val base = (0 until 120).map(i => (i.toLong, vec(i)))
      .toDF("vec_id", "embedding")
    VectorOps.buildSemIndex(spark, base, dir)

    val takedownIds = (0 until 120 by 6).flatMap(i => Seq(i, i + 1, i + 2,
      i + 3, i + 4)).take(100).map(_.toLong)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    @volatile var takedownsDone = false

    val taker = new Thread(() =>
      try takedownIds.foreach { id =>
        IndexStore.tombstone(Seq(id).toDF("vec_id"), dir, "vec_id")
      } catch { case t: Throwable => failures.add(t); () }
      finally takedownsDone = true)
    val compactor = new Thread(() =>
      try while (!takedownsDone) VectorOps.compactSemIndex(spark, dir)
      catch { case t: Throwable => failures.add(t); () })

    taker.start(); compactor.start()
    taker.join(); compactor.join()
    assert(failures.isEmpty, s"racing writer threw: ${failures.peek()}")

    // One serialized final pass applies whatever tombstones remain.
    VectorOps.compactSemIndex(spark, dir)
    val surviving = IndexStore.read(spark, dir, "vectors")
      .filter(col("vec_id").isin(takedownIds: _*))
      .select("vec_id").collect().map(_.getLong(0)).toSeq
    assert(surviving.isEmpty,
      s"takedowns lost to the compaction race: ${surviving.sorted.take(10)}")
    // And the non-retired majority is untouched.
    assert(IndexStore.read(spark, dir, "vectors").count() === 120 - 100)
  }

  test("dedup index: 100 concurrent takedowns survive racing compactions") {
    import graft.queries.DedupOps
    val dir = graft.Scratch.fresh("race_dedup")
    // Distinct multi-token texts so every doc lands in exact AND
    // bands/shingles (>= 3 tokens clears the banding filter).
    val base = (0 until 120).map(i =>
      (i.toLong, s"alpha bravo charlie delta echo token$i tail${i % 7}"))
      .toDF("doc_id", "text")
    DedupOps.buildDedupIndex(base, dir)

    val takedownIds = (0 until 120 by 6).flatMap(i => Seq(i, i + 1, i + 2,
      i + 3, i + 4)).take(100).map(_.toLong)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    @volatile var takedownsDone = false

    val taker = new Thread(() =>
      try takedownIds.foreach { id =>
        IndexStore.tombstone(Seq(id).toDF("doc_id"), dir, "doc_id")
      } catch { case t: Throwable => failures.add(t); () }
      finally takedownsDone = true)
    val compactor = new Thread(() =>
      try while (!takedownsDone) DedupOps.compactDedupIndex(spark, dir)
      catch { case t: Throwable => failures.add(t); () })

    taker.start(); compactor.start()
    taker.join(); compactor.join()
    assert(failures.isEmpty, s"racing writer threw: ${failures.peek()}")

    DedupOps.compactDedupIndex(spark, dir)
    val surviving = Seq(
      IndexStore.read(spark, dir, "exact").select(col("exact_doc").as("doc_id")),
      IndexStore.read(spark, dir, "bands").select(col("doc_id")),
      IndexStore.read(spark, dir, "shingles").select(col("doc_id")))
      .reduce(_.union(_)).distinct()
      .filter(col("doc_id").isin(takedownIds: _*))
      .collect().map(_.getLong(0)).toSeq
    assert(surviving.isEmpty,
      s"takedowns lost to the compaction race: ${surviving.sorted.take(10)}")
    assert(IndexStore.read(spark, dir, "shingles").count() === 120 - 100)
  }
}
