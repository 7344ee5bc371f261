package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.types._

/** Round-15 hardening of the bucketed index store: the three ADVICE
  * findings (stale spec under a bucketing-disabled rebuild, spec-write
  * crash ordering — now the manifest commit, see IndexManifestSpec —
  * DDL escaping + empty-corpus registration) plus the
  * writer-lock primitive and the rebucket lifecycle op's contract
  * checks. Plan-shape coverage for rebucket lives in
  * IndexColocationSpec beside the other co-location arms.
  */
class IndexStoreSpec extends SparkSpec {

  import spark.implicits._

  private def freshDir(tag: String): String =
    graft.Scratch.fresh(s"ixs_$tag")

  private def rows(n: Int) =
    (1 to n).map(i => (i.toLong, s"v$i")).toDF("k", "v")

  /** A one-table index: `table` written and committed as its own kind. */
  private def create(df: org.apache.spark.sql.DataFrame, dir: String,
      table: String, keys: Seq[String]): Unit =
    IndexStore.build(spark, dir, table)(
      IndexStore.Kind(Map(IndexStore.write(df, dir, table, keys))))

  /** Catalog name of the committed generation of `table`. */
  private def committedName(dir: String, table: String): String =
    IndexStore.tableName(dir, table,
      IndexStore.manifest(spark, dir).table(table).get.gen)

  private def dropCatalog(dir: String, table: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS `${committedName(dir, table)}`")

  test("bucketing-disabled rebuild over a bucketed dir clears spec + catalog") {
    val dir = freshDir("dis")
    create(rows(10), dir, "t", Seq("k"))
    assert(IndexStore.spec(spark, dir, "t").isDefined)
    try {
      spark.conf.set(IndexStore.EnabledConf, "false")
      create(rows(7), dir, "t", Seq("k"))
    } finally spark.conf.unset(IndexStore.EnabledConf)
    // No spec or catalog entry may claim CLUSTERED BY over the plain
    // generation's files — a read doing so fails at scan time.
    assert(IndexStore.spec(spark, dir, "t").isEmpty)
    assert(!spark.catalog.tableExists(committedName(dir, "t")))
    assert(IndexStore.read(spark, dir, "t").count() === 7)
  }

  test("empty-corpus table registers in a fresh catalog from the spec schema") {
    val dir = freshDir("emp")
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(StructField("k", LongType), StructField("v", StringType))))
    create(empty, dir, "t", Seq("k"))
    assert(IndexStore.manifest(spark, dir).table("t").map(_.schema) ===
      Some(empty.schema.toDDL))
    dropCatalog(dir, "t") // simulate a fresh session's in-memory catalog
    val back = IndexStore.read(spark, dir, "t")
    assert(back.count() === 0)
    assert(back.schema.fieldNames.toSeq === Seq("k", "v"))
  }

  test("index dir containing a quote survives DDL re-registration") {
    val base = freshDir("quo")
    val dir = s"$base/it's"
    create(rows(5), dir, "t", Seq("k"))
    dropCatalog(dir, "t")
    assert(IndexStore.read(spark, dir, "t").count() === 5)
  }

  test("withLock is reentrant and cleans its lock file") {
    val dir = freshDir("ree")
    val out = IndexStore.withLock(spark, dir) {
      IndexStore.withLock(spark, dir) { 42 }
    }
    assert(out === 42)
    assert(!new java.io.File(s"$dir/__lock").exists())
  }

  test("withLock mutual exclusion: racy read-modify-write stays exact") {
    val dir = freshDir("mux")
    var counter = 0 // deliberately unsynchronized
    val threads = (1 to 16).map { _ =>
      new Thread(() =>
        (1 to 25).foreach { _ =>
          IndexStore.withLock(spark, dir) {
            val seen = counter
            Thread.`yield`()
            counter = seen + 1
          }
        })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(counter === 16 * 25)
    assert(!new java.io.File(s"$dir/__lock").exists())
  }

  test("a lock file from a dead process is broken and reclaimed") {
    val dir = freshDir("ded")
    val dead = new ProcessBuilder("true").start()
    dead.waitFor()
    val deadPid = dead.pid()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/__lock"),
      deadPid.toString.getBytes)
    assert(IndexStore.withLock(spark, dir) { "ok" } === "ok")
  }

  test("a live foreign holder fails loudly, not silently") {
    val dir = freshDir("liv")
    val other = new ProcessBuilder("sleep", "60").start()
    try {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/__lock"),
        other.pid().toString.getBytes)
      intercept[IllegalStateException] {
        IndexStore.withLock(spark, dir) { "should not run" }
      }
      (): Unit
    } finally { other.destroy(); other.waitFor(); () }
  }

  test("rebucket rewrites layout only: rows, spec count, registration") {
    val dir = freshDir("reb")
    create(rows(40), dir, "t", Seq("k"))
    val before = IndexStore.read(spark, dir, "t")
      .collect().map(_.toSeq).toSet
    IndexStore.rebucket(spark, dir, "t", 3)
    assert(IndexStore.spec(spark, dir, "t") === Some((3, Seq("k"))))
    val after = IndexStore.read(spark, dir, "t")
    assert(after.collect().map(_.toSeq).toSet === before)
    // and the new generation is registered at the new count
    assert(spark.catalog.tableExists(committedName(dir, "t")))
    IndexStore.rebucket(spark, dir, "t", 5)
    assert(IndexStore.spec(spark, dir, "t") === Some((5, Seq("k"))))
    assert(IndexStore.read(spark, dir, "t").collect().map(_.toSeq).toSet === before)
    // Three generations written (build, two rebuckets); only the two the
    // kept manifest versions list survive.
    assert(new java.io.File(dir).list().filter(_.matches("t\\.g\\d+")).toSet ===
      Set("t.g2", "t.g3"))
  }

  test("rebucket refuses plain-parquet tables and bad counts") {
    val dir = freshDir("rbe")
    try {
      spark.conf.set(IndexStore.EnabledConf, "false")
      create(rows(5), dir, "t", Seq("k"))
    } finally spark.conf.unset(IndexStore.EnabledConf)
    intercept[IllegalArgumentException] {
      IndexStore.rebucket(spark, dir, "t", 4)
    }
    val dir2 = freshDir("rbz")
    create(rows(5), dir2, "t", Seq("k"))
    intercept[IllegalArgumentException] {
      IndexStore.rebucket(spark, dir2, "t", 0)
    }
    (): Unit
  }
}
