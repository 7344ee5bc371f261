package graft.queries

import graft.SparkSpec
import graft.operators.IndexStore
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** The index manifest's commit protocol (graft.operators.IndexStore):
  *
  *  1. STALE-READ REGRESSIONS — reads the per-artifact side files and
  *     their per-session caches allowed: a rotation-free PQ re-encode
  *     over a rotated build (a fresh session applied the leftover
  *     rotation), a semantic rebuild over a dir carrying PQ and graph
  *     artifacts (their probes kept returning ids the rebuilt vector
  *     store no longer holds), a rebuild or re-encode from ANOTHER
  *     session (this session kept ranking against its cached centroids or
  *     books), and a dir deleted and rebuilt at the same path (the
  *     JVM-wide parsed-manifest memo must see the new version file).
  *  2. CRASH STATES — for each index build and each rewrite (compaction of
  *     either family, rebucket, a takedown's tombstone table), the states
  *     an abort leaves (new generations written with no new version, a
  *     dot-temp manifest never renamed) read as the previous committed
  *     build whole — rows, bucket counts and probe verdicts — or, before
  *     a first build, throw naming the dir; never a mix. Simulated with
  *     no hook in main code: a finished build or rewrite is rolled back
  *     by renaming its last version to the dot-temp a crash before the
  *     rename leaves, then deleting it.
  */
class IndexManifestSpec extends SparkSpec {

  private val dim = 4
  private def axis(i: Int): Seq[Double] =
    Seq.tabulate(dim)(j => if (j == i % dim) 1.0 else 0.05 * ((i / dim) + 1))

  /** The IvfAdcSpec fixture: 16 spread seeds + near-copies of direction 0. */
  private val baseRows: Seq[(Long, Seq[Double])] =
    (0 until 16).map(i => (i.toLong, axis(i))) ++
      (16 until 20).map(i => (i.toLong, Seq(1.0, 0.01 * (i - 15), 0.0, 0.0)))

  private def vecs(rows: Seq[(Long, Seq[Double])]): DataFrame = {
    import spark.implicits._
    rows.toDF("vec_id", "embedding")
  }
  private def queries: DataFrame =
    vecs(Seq(500L -> Seq(1.0, 0.02, 0.01, 0.0), 501L -> axis(6).map(_ * 2.0),
      502L -> Seq(0.3, 0.3, 0.9, 0.1)))

  /** A second corpus over the same directions, ids 100-119: the near-
    * copies come first, so its centroids, cells and τ all differ from
    * [[baseRows]]'s. */
  private val otherRows: Seq[(Long, Seq[Double])] =
    (0 until 4).map(i => (100L + i, Seq(0.0, 0.0, 1.0, 0.02 * (i + 1)))) ++
      (4 until 20).map(i => (100L + i, axis(i + 1)))

  private def docs(rows: (Long, String)*): DataFrame = {
    import spark.implicits._
    rows.toSeq.toDF("doc_id", "text")
  }
  private val novelText = (1 to 30).map(i => s"tok$i").mkString(" ")
  private def corpusA = docs(1L -> "the quick brown fox jumps over the lazy dog",
    2L -> novelText)
  private def corpusB = docs(3L -> "pack my box with five dozen liquor jugs",
    4L -> (1 to 30).map(i => s"mot$i").mkString(" "))
  private def probeDocs = docs(500L -> novelText,
    501L -> ((1 to 29).map(i => s"tok$i").mkString(" ") + " zzz"),
    502L -> "pack my box with five dozen liquor jugs")

  private def freshIdx(tag: String): String =
    graft.Scratch.fresh(s"manifest_$tag") + "/index"

  private def rows(df: DataFrame): Set[Seq[Any]] =
    df.collect().map(_.toSeq).toSet

  /** `body` throws IllegalStateException naming `dir`. */
  private def refuses(dir: String)(body: => Any): Unit = {
    val e = intercept[IllegalStateException](body)
    assert(e.getMessage.contains(dir), e.getMessage)
    (): Unit
  }

  private def versions(dir: String): Seq[Long] =
    Option(new java.io.File(s"$dir/_manifest").list()).toSeq.flatten
      .collect { case n if n.matches("v\\d+") => n.drop(1).toLong }

  /** Roll back the last commit into the two states a crash before it
    * leaves — a dot-temp never renamed, then no trace — checking
    * `readers` in each. */
  private def rolledBack(dir: String)(readers: => Unit): Unit = {
    val v = versions(dir).max
    val f = new java.io.File(s"$dir/_manifest/v$v")
    val tmp = new java.io.File(s"$dir/_manifest/.v$v.tmp")
    assert(f.renameTo(tmp))
    new java.io.File(s"$dir/_manifest/.v$v.crc").delete()
    readers
    assert(tmp.delete())
    readers
  }

  // ------------------------------------------------------- stale reads

  test("a rotation-free re-encode after a rotated build reads the same from a fresh session") {
    val dir = freshIdx("rot")
    VectorOps.buildSemIndex(spark, vecs(baseRows), dir)
    VectorOps.addPqToSemIndex(spark, dir, learnedRotation = true)
    VectorOps.addPqToSemIndex(spark, dir)
    val fresh = spark.newSession()
    assert(VectorOps.ivfAdcDistortion(fresh, dir) ===
      VectorOps.ivfAdcDistortion(spark, dir))
    assert(rows(VectorOps.probeIvfAdcTop3(fresh, queries, dir)) ===
      rows(VectorOps.probeIvfAdcTop3(spark, queries, dir)))
  }

  test("a semantic rebuild drops the pq and graph kinds built from the old vectors") {
    val dir = freshIdx("rebuild")
    VectorOps.buildSemIndex(spark, vecs(baseRows), dir)
    VectorOps.addPqToSemIndex(spark, dir)
    VectorOps.addGraphToSemIndex(spark, dir)
    VectorOps.buildSemIndex(spark, vecs(baseRows.take(12)), dir)
    assert(!VectorOps.hasPq(spark, dir) && !VectorOps.hasGraph(spark, dir))
    refuses(dir)(VectorOps.probeIvfAdcTop3(spark, queries, dir).collect())
    refuses(dir)(VectorOps.ivfAdcDistortion(spark, dir))
    refuses(dir)(VectorOps.probeGraphIndex(spark, queries, dir).collect())
    refuses(dir)(VectorOps.probeGraphIndex(spark, queries, dir,
      entries = 1, width = 1, hops = 2).collect())
    VectorOps.addPqToSemIndex(spark, dir)
    VectorOps.addGraphToSemIndex(spark, dir)
    val live = (0L until 12L).toSet
    val adc = VectorOps.probeIvfAdcTop3(spark, queries, dir).collect()
    val graph = VectorOps.probeGraphIndex(spark, queries, dir).collect()
    assert(adc.nonEmpty && graph.nonEmpty)
    assert(adc.map(_.getLong(1)).forall(live), adc.toSeq)
    assert(graph.map(_.getLong(1)).forall(live), graph.toSeq)
  }

  test("a semantic rebuild from another session reads the same in every session") {
    val dir = freshIdx("xsem")
    VectorOps.buildSemIndex(spark, vecs(baseRows), dir)
    val before = rows(VectorOps.probeSemIndex(spark, queries, dir))
    VectorOps.buildSemIndex(spark.newSession(), vecs(otherRows), dir)
    val after = rows(VectorOps.probeSemIndex(spark, queries, dir))
    assert(after === rows(VectorOps.probeSemIndex(spark.newSession(), queries, dir)))
    assert(after !== before)
  }

  test("a PQ re-encode from another session reads the same in every session") {
    val dir = freshIdx("xpq")
    VectorOps.buildSemIndex(spark, vecs(baseRows), dir)
    VectorOps.addPqToSemIndex(spark, dir)
    val before = rows(VectorOps.probeIvfAdcTop3(spark, queries, dir))
    VectorOps.addPqToSemIndex(spark.newSession(), dir, lloydIters = 2,
      learnedRotation = true)
    val after = rows(VectorOps.probeIvfAdcTop3(spark, queries, dir))
    assert(after === rows(VectorOps.probeIvfAdcTop3(spark.newSession(), queries, dir)))
    assert(after !== before)
  }

  test("a dir deleted and rebuilt at the same path reads as the new build") {
    val dir = freshIdx("redo")
    val ref = freshIdx("redo_ref")
    VectorOps.buildSemIndex(spark, vecs(otherRows), ref)
    VectorOps.buildSemIndex(spark, vecs(baseRows), dir)
    val old = rows(VectorOps.probeSemIndex(spark, queries, dir))
    graft.Fs.delete(dir)
    VectorOps.buildSemIndex(spark, vecs(otherRows), dir)
    val want = rows(VectorOps.probeSemIndex(spark, queries, ref))
    assert(want !== old)
    assert(rows(VectorOps.probeSemIndex(spark, queries, dir)) === want)
    assert(IndexStore.kind(spark, dir, "sem") === IndexStore.kind(spark, ref, "sem"))
  }

  // ---------------------------------------------------- refused commits

  test("a commit refuses a non-finite centroid; the previous version stays the latest") {
    val dir = freshIdx("nan")
    VectorOps.buildSemIndex(spark, vecs(baseRows), dir)
    val before = versions(dir).max
    val sem = rows(VectorOps.probeSemIndex(spark, queries, dir))
    val e = intercept[IllegalArgumentException] {
      IndexStore.commit(spark, dir) { ks =>
        ks + ("sem" -> ks("sem").copy(centroids =
          ks("sem").centroids.updated(0, Seq(Double.NaN, 0.0, 0.0, 1.0))))
      }
    }
    Seq(dir, "sem", "centroids").foreach(w =>
      assert(e.getMessage.contains(w), e.getMessage))
    assert(versions(dir).max === before)
    assert(rows(VectorOps.probeSemIndex(spark.newSession(), queries, dir)) === sem)
  }

  test("a commit refuses a graph kind without exactly one chosen sweep row") {
    val dir = freshIdx("unchosen")
    VectorOps.buildSemIndex(spark, vecs(baseRows), dir)
    VectorOps.addGraphToSemIndex(spark, dir)
    val scheme = VectorOps.loadGraphScheme(spark, dir)
    val before = versions(dir).max
    val e = intercept[IllegalArgumentException] {
      IndexStore.commit(spark, dir) { ks =>
        ks + ("graph" -> ks("graph").copy(
          sweep = ks("graph").sweep.map(_.copy(chosen = false))))
      }
    }
    assert(e.getMessage.contains(dir), e.getMessage)
    assert(versions(dir).max === before)
    assert(VectorOps.loadGraphScheme(spark.newSession(), dir) === scheme)
  }

  // ------------------------------------------------------- crash states

  test("buildDedupIndex: an aborted rebuild reads the previous build whole, an aborted first build has no manifest") {
    val dir = freshIdx("dedup")
    DedupOps.buildDedupIndex(corpusA, dir)
    val built = rows(DedupOps.probeDedupIndex(spark, probeDocs, dir))
    val scheme = DedupOps.indexScheme(spark, dir)
    val tables = IndexStore.tables(spark, dir)
      .map(t => t -> rows(IndexStore.read(spark, dir, t))).toMap
    def readers(): Unit = {
      assert(rows(DedupOps.probeDedupIndex(spark, probeDocs, dir)) === built)
      assert(DedupOps.indexScheme(spark, dir) === scheme)
      tables.foreach { case (t, r) =>
        assert(rows(IndexStore.read(spark, dir, t)) === r, t) }
    }
    DedupOps.buildDedupIndex(corpusB, dir)
    val rebuilt = rows(DedupOps.probeDedupIndex(spark, probeDocs, dir))
    assert(rebuilt !== built)
    rolledBack(dir)(readers())

    val first = freshIdx("dedup1")
    DedupOps.buildDedupIndex(corpusB, first)
    assert(rows(DedupOps.probeDedupIndex(spark, probeDocs, first)) === rebuilt)
    rolledBack(first) {
      refuses(first)(DedupOps.probeDedupIndex(spark, probeDocs, first).collect())
    }
  }

  test("buildSemIndex: an aborted rebuild reads the previous sem, pq and graph kinds whole") {
    val dir = freshIdx("sem")
    VectorOps.buildSemIndex(spark, vecs(baseRows), dir)
    VectorOps.addPqToSemIndex(spark, dir)
    VectorOps.addGraphToSemIndex(spark, dir)
    val sem = rows(VectorOps.probeSemIndex(spark, queries, dir))
    val adc = rows(VectorOps.probeIvfAdcTop3(spark, queries, dir))
    val graph = rows(VectorOps.probeGraphIndex(spark, queries, dir))
    def readers(): Unit = {
      assert(VectorOps.hasPq(spark, dir) && VectorOps.hasGraph(spark, dir))
      assert(rows(VectorOps.probeSemIndex(spark, queries, dir)) === sem)
      assert(rows(VectorOps.probeIvfAdcTop3(spark, queries, dir)) === adc)
      assert(rows(VectorOps.probeGraphIndex(spark, queries, dir)) === graph)
    }
    VectorOps.buildSemIndex(spark, vecs(baseRows.take(12)), dir)
    assert(!VectorOps.hasPq(spark, dir) && !VectorOps.hasGraph(spark, dir))
    rolledBack(dir)(readers())
  }

  test("addPqToSemIndex: an aborted re-encode reads the previous ADC build, the float index stays whole") {
    val dir = freshIdx("pq")
    VectorOps.buildSemIndex(spark, vecs(baseRows), dir)
    VectorOps.addPqToSemIndex(spark, dir, learnedRotation = true)
    val sem = rows(VectorOps.probeSemIndex(spark, queries, dir))
    val adc = rows(VectorOps.probeIvfAdcTop3(spark, queries, dir))
    val distortion = VectorOps.ivfAdcDistortion(spark, dir)
    def readers(): Unit = {
      assert(IndexStore.kind(spark, dir, "pq").pqRotation.isDefined)
      assert(rows(VectorOps.probeIvfAdcTop3(spark, queries, dir)) === adc)
      assert(VectorOps.ivfAdcDistortion(spark.newSession(), dir) === distortion)
      assert(rows(VectorOps.probeSemIndex(spark, queries, dir)) === sem)
    }
    VectorOps.addPqToSemIndex(spark, dir)
    assert(IndexStore.kind(spark, dir, "pq").pqRotation.isEmpty)
    rolledBack(dir)(readers())
  }

  test("addGraphToSemIndex: an aborted first build leaves the semantic index as committed") {
    val dir = freshIdx("graph")
    VectorOps.buildSemIndex(spark, vecs(baseRows), dir)
    VectorOps.addPqToSemIndex(spark, dir)
    val sem = rows(VectorOps.probeSemIndex(spark, queries, dir))
    val adc = rows(VectorOps.probeIvfAdcTop3(spark, queries, dir))
    val before = versions(dir).max
    def readers(): Unit = {
      assert(versions(dir).max === before)
      refuses(dir)(VectorOps.probeGraphIndex(spark, queries, dir).collect())
      assert(VectorOps.loadGraphScheme(spark, dir).isEmpty)
      assert(rows(VectorOps.probeSemIndex(spark, queries, dir)) === sem)
      assert(rows(VectorOps.probeIvfAdcTop3(spark, queries, dir)) === adc)
    }
    readers()
    VectorOps.addGraphToSemIndex(spark, dir)
    assert(VectorOps.loadGraphScheme(spark, dir).isDefined)
    rolledBack(dir)(readers())
  }

  // ------------------------------------------------------ rewrite crash states

  test("rebucket: every aborted step reads the same rows, never at a count the files lack") {
    val dir = freshIdx("rebucket")
    DedupOps.buildDedupIndex(corpusA, dir)
    val verdicts = rows(DedupOps.probeDedupIndex(spark, probeDocs, dir))
    val exact = rows(IndexStore.read(spark, dir, "exact"))
    def readers(): Unit = {
      assert(IndexStore.spec(spark, dir, "exact") ===
        Some((IndexStore.DefaultBuckets, Seq("norm_key"))))
      assert(rows(IndexStore.read(spark, dir, "exact")) === exact)
      assert(rows(DedupOps.probeDedupIndex(spark, probeDocs, dir)) === verdicts)
    }
    IndexStore.rebucket(spark, dir, "exact", 4)
    assert(IndexStore.spec(spark, dir, "exact") === Some((4, Seq("norm_key"))))
    rolledBack(dir)(readers())
  }

  /** Every committed table's rows, by table. */
  private def snapshot(dir: String): Map[String, Set[Seq[Any]]] =
    IndexStore.tables(spark, dir)
      .map(t => t -> rows(IndexStore.read(spark, dir, t))).toMap

  test("compactDedupIndex: an aborted compaction reads the previous tables, tombstones and verdicts") {
    val dir = freshIdx("dcompact")
    DedupOps.buildDedupIndex(corpusA, dir)
    DedupOps.appendToDedupIndex(corpusB, dir)
    DedupOps.appendToDedupIndex(corpusB, dir) // a retry's duplicate rows
    IndexStore.tombstone(docs(1L -> "", 999L -> ""), dir, "doc_id")
    val tables = snapshot(dir)
    val specs = tables.keys.map(t => t -> IndexStore.spec(spark, dir, t)).toMap
    val verdicts = rows(DedupOps.probeDedupIndex(spark, probeDocs, dir))
    def readers(): Unit = {
      assert(snapshot(dir) === tables)
      tables.keys.foreach(t => assert(IndexStore.spec(spark, dir, t) === specs(t), t))
      assert(rows(DedupOps.probeDedupIndex(spark, probeDocs, dir)) === verdicts)
    }
    DedupOps.compactDedupIndex(spark, dir)
    val compacted = snapshot(dir)
    assert(compacted("tombstones") === Set(Seq(999L)))
    assert(compacted("shingles").size < tables("shingles").size)
    assert(rows(DedupOps.probeDedupIndex(spark, probeDocs, dir)) === verdicts)
    rolledBack(dir)(readers())
  }

  test("compactSemIndex: an aborted compaction reads the previous vectors, codes, edges and verdicts") {
    val dir = freshIdx("scompact")
    VectorOps.buildSemIndex(spark, vecs(baseRows), dir)
    VectorOps.addPqToSemIndex(spark, dir)
    VectorOps.addGraphToSemIndex(spark, dir)
    val extra = vecs(Seq(200L -> Seq(-0.5, -0.5, 0.5, 0.5)))
    VectorOps.appendToSemIndex(spark, extra, dir)
    VectorOps.appendToSemIndex(spark, extra, dir) // a retry's duplicate rows
    IndexStore.tombstone(vecs(Seq(16L -> axis(0), 999L -> axis(0))), dir, "vec_id")
    val tables = snapshot(dir)
    val probes = (rows(VectorOps.probeSemIndex(spark, queries, dir)),
      rows(VectorOps.probeIvfAdcTop3(spark, queries, dir)),
      rows(VectorOps.probeGraphIndex(spark, queries, dir)))
    def readers(): Unit = {
      assert(snapshot(dir) === tables)
      assert((rows(VectorOps.probeSemIndex(spark, queries, dir)),
        rows(VectorOps.probeIvfAdcTop3(spark, queries, dir)),
        rows(VectorOps.probeGraphIndex(spark, queries, dir))) === probes)
    }
    VectorOps.compactSemIndex(spark, dir)
    val compacted = snapshot(dir)
    assert(compacted("tombstones") === Set(Seq(999L)))
    Seq("vectors", "codes").foreach(t =>
      assert(compacted(t).size < tables(t).size, t))
    rolledBack(dir)(readers())
  }

  test("tombstone: an aborted first takedown reads as none; one issued during a compaction survives it") {
    val dir = freshIdx("takedown")
    DedupOps.buildDedupIndex(corpusA, dir)
    val verdicts = rows(DedupOps.probeDedupIndex(spark, probeDocs, dir))
    IndexStore.tombstone(docs(2L -> ""), dir, "doc_id")
    assert(rows(DedupOps.probeDedupIndex(spark, probeDocs, dir)) !== verdicts)
    rolledBack(dir) {
      assert(IndexStore.tombstones(spark, dir).isEmpty)
      assert(rows(DedupOps.probeDedupIndex(spark, probeDocs, dir)) === verdicts)
    }

    // Doc 1 is retired before the pass, doc 2 while the pass holds the
    // writer lock (its lock file is present from the pass's first step to
    // its commit): the late takedown waits for the commit, so the pass
    // neither applies nor drops it — it lands in the new tombstone
    // generation, and the next pass applies it.
    IndexStore.tombstone(docs(1L -> ""), dir, "doc_id")
    @volatile var compacted = false
    val compactor = new Thread(() => {
      DedupOps.compactDedupIndex(spark, dir)
      compacted = true
    })
    compactor.start()
    val lock = new java.io.File(s"$dir/__lock")
    while (!lock.exists() && !compacted) Thread.sleep(1)
    IndexStore.tombstone(docs(2L -> ""), dir, "doc_id")
    compactor.join()
    def holds(doc: Long) =
      !IndexStore.read(spark, dir, "shingles").filter(col("doc_id") === doc).isEmpty
    assert(!holds(1L) && holds(2L))
    assert(rows(IndexStore.tombstones(spark, dir).get) === Set(Seq(2L)))
    assert(DedupOps.probeDedupIndex(spark, probeDocs, dir)
      .filter(col("match_doc") === 2L).isEmpty)
    DedupOps.compactDedupIndex(spark, dir)
    assert(!holds(2L))
    assert(IndexStore.read(spark, dir, "exact").filter(col("exact_doc") === 2L).isEmpty)
  }
}
