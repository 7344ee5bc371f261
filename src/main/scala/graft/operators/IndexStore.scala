package graft.operators

import graft.Fs
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Persistence for the incremental dedup / semantic indexes: table
  * generations, one manifest per index directory, one writer lock.
  *
  * A table's rows live in a GENERATION directory, `<dir>/<table>.g<N>`.
  * A generation is written once, whole, and never changed in place
  * except by [[append]]; every build and every rewrite — compaction,
  * [[rebucket]], a takedown's tombstone rewrite — writes the next
  * generation beside the current one and then commits the manifest
  * entry that points at it. The commit is the only switch: before it,
  * every reader reads the previous generation, whole.
  *
  * A bucketed generation is an EXTERNAL bucketed table (`bucketBy(n,
  * keys)` + `saveAsTable` with an explicit `path`) registered under a
  * catalog name that carries the generation ([[tableName]]), so a
  * probe's index-side scan reports `HashPartitioning(keys, n)` and only
  * the batch side shuffles — per-probe work ∝ batch, the 100 TB contract
  * (IndexColocationSpec pins the plans). Tables are built at
  * [[DefaultBuckets]] (test-sized; a 100 TB deployment sizes buckets at
  * ~128-512 MB) and only [[rebucket]] changes the count.
  * `spark.graft.index.bucketing=false` builds plain parquet instead, the
  * parity arm IndexColocationSpec compares against.
  *
  * One JSON manifest, `<dir>/_manifest/v<N>`, holds everything else a
  * reader needs: the KINDS present (dedup; sem, pq, graph; tombstones),
  * each kind's build parameters, build metadata ([[Kind]]: the centroids
  * and τ, the PQ books, the graph sweep) and tables, and each table's
  * generation, bucket spec and schema (from which a fresh session —
  * in-memory catalog — re-registers the table by DDL). The manifest is
  * the only home of that metadata: no side file beside the tables, and
  * no per-session copy that another session's commit could leave stale.
  * The protocol:
  *  - writers write their generations first and commit LAST
  *    ([[commit]]): under [[withLock]], a dot-temp renamed to the next
  *    version — a name that does not exist yet, so nothing committed is
  *    ever removed first. A build commits its kind, and the kinds it
  *    drops, in one version; a rewrite commits every table it rewrote in
  *    one version;
  *  - readers open tables only through the highest version; no manifest,
  *    or a kind or table it does not list, throws IllegalStateException
  *    naming the dir — there is no default to fall back to;
  *  - the last two versions are kept, so a reader that resolved the
  *    previous one is never yanked; after each commit, every generation
  *    neither kept version lists is deleted, unless a writer of this JVM
  *    is still writing it (a generation an aborted writer left behind is
  *    deleted by the next commit once that JVM is gone);
  *  - a version file is created once, by [[Fs.writeNew]]'s rename onto a
  *    fresh name, and never rewritten, so its parse is memoized JVM-wide
  *    by (path, modification time, length) — every read still lists
  *    `_manifest`, which is how another session's or process's commit
  *    becomes visible, but parses only a version it has not seen (a dir
  *    deleted and rebuilt at the same path writes its `v<N>` anew, with
  *    another modification time). The memo is bounded at
  *    [[ParsedVersions]] entries; an evicted one is parsed again.
  *
  * TAKEDOWNS are one protocol for every index family: [[tombstone]]
  * appends ids to the committed `tombstones` table (plain parquet, one
  * column: the family's id), probes drop tombstoned ids at once
  * ([[tombstones]], [[dropTombstoned]]), and [[compact]] applies them in
  * one locked pass — each table's compaction rule over its live rows,
  * plus the tombstone table rewritten to the ids no table held.
  */
object IndexStore {

  val EnabledConf = "spark.graft.index.bucketing"
  val DefaultBuckets = 8

  /** Maximum time a writer waits for a sibling IN-PROCESS writer before
    * [[withLock]] gives up (a cross-process holder fails fast instead —
    * see withLock). */
  val LockWaitMs = 120000L

  /** One table's manifest entry: its generation, bucket count (0 = plain
    * parquet), keys, and the row schema as DDL — registrable even for an
    * EMPTY table. */
  final case class Table(gen: Long, buckets: Int, keys: Seq[String],
      schema: String)

  /** One arm of a graph index's build-time scheme sweep: its recall@1
    * over the `nCalib` calibration queries, and whether the build chose
    * it. */
  final case class SweepArm(entries: Int, width: Int, hops: Int,
      recallAt1: Double, nCalib: Long, chosen: Boolean)

  /** One index kind: its tables, its build parameters, and the build
    * metadata its probes rank against. Each kind fills only its own
    * metadata fields; the others keep their empty defaults.
    *  - sem: `centroids` (row i is centroid i) and `tau`, which is absent
    *    when the index has no within-cell pair;
    *  - pq: `pqDims` (each subspace's dimensions), `pqBooks` (one
    *    sub-codebook per subspace) and `pqRotation`, present only for a
    *    learned-rotation build;
    *  - graph: `sweep`, the measured scheme curve; its one `chosen` row
    *    is the scheme probes search at.
    * Doubles round-trip the JSON exactly. */
  final case class Kind(tables: Map[String, Table],
      params: Map[String, String] = Map.empty,
      centroids: Seq[Seq[Double]] = Nil, tau: Option[Double] = None,
      pqDims: Seq[Seq[Int]] = Nil, pqBooks: Seq[Seq[Seq[Double]]] = Nil,
      pqRotation: Option[Seq[Seq[Double]]] = None,
      sweep: Seq[SweepArm] = Nil)

  final case class Manifest(version: Long, kinds: Map[String, Kind]) {
    def table(name: String): Option[Table] =
      kinds.valuesIterator.flatMap(_.tables.get(name)).nextOption()
    private[IndexStore] def gens: Set[(String, Long)] =
      kinds.valuesIterator.flatMap(_.tables.map { case (n, t) => n -> t.gen })
        .toSet
  }

  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
  private val VersionName = "v(\\d+)".r
  private val GenName = "(.+)\\.g(\\d+)".r
  private def manifestDir(dir: String) = s"$dir/_manifest"

  /** The directory holding generation `gen` of `table`. */
  private def location(dir: String, table: String, gen: Long) =
    s"$dir/$table.g$gen"

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** Catalog name of one generation of an index table — dir-hashed so
    * concurrent sessions over different scratch dirs never collide in a
    * shared catalog, and per generation so a name never outlives the
    * files it was registered over. */
  def tableName(dir: String, table: String, gen: Long): String =
    s"graft_idx_${md5Hex(dir).take(12)}_${table}_g$gen"

  private def enabled(s: SparkSession): Boolean =
    s.conf.getOption(EnabledConf).forall(_.toBoolean)

  /** SQL-literal escape for the LOCATION path and identifier escape for
    * key columns — an index dir containing a quote (or a key named with
    * a backtick) must produce valid DDL, not injected DDL. */
  private def sqlLit(v: String): String = v.replace("'", "''")
  private def ident(v: String): String = "`" + v.replace("`", "``") + "`"

  // ------------------------------------------------------------- manifest

  /** Bound of the JVM-wide parsed-version memo. */
  val ParsedVersions = 64

  /** Parsed manifests by (path, modification time, length) of their
    * version file, least recently used evicted first. */
  private val parsed = java.util.Collections.synchronizedMap(
    new java.util.LinkedHashMap[(String, Long, Long), Manifest](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[(String, Long, Long), Manifest]): Boolean =
        size > ParsedVersions
    })

  private def latest(dir: String): Option[Manifest] =
    Fs.ls(manifestDir(dir)).flatMap(f => f.getPath.getName match {
        case VersionName(v) => Some(v.toLong -> f)
        case _ => None
      }).maxByOption(_._1).map { case (_, f) =>
        val key = (f.getPath.toString, f.getModificationTime, f.getLen)
        Option(parsed.get(key)).getOrElse {
          val m = org.json4s.jackson.Serialization
            .read[Manifest](Fs.read(f.getPath.toString))
          parsed.put(key, m)
          m
        }
      }

  /** The latest committed manifest of `dir`. */
  def manifest(s: SparkSession, dir: String): Manifest =
    latest(dir).getOrElse(
      throw new IllegalStateException(s"index $dir has no committed manifest"))

  /** A committed kind of `dir`; throws naming the dir when it is absent. */
  def kind(s: SparkSession, dir: String, name: String): Kind =
    manifest(s, dir).kinds.getOrElse(name, throw new IllegalStateException(
      s"index $dir has no committed '$name' kind"))

  def has(s: SparkSession, dir: String, name: String): Boolean =
    manifest(s, dir).kinds.contains(name)

  /** Every committed table of `dir`. */
  def tables(s: SparkSession, dir: String): Seq[String] =
    manifest(s, dir).kinds.valuesIterator.flatMap(_.tables.keys).toSeq

  private def table(s: SparkSession, dir: String, name: String): Table =
    manifest(s, dir).table(name).getOrElse(throw new IllegalStateException(
      s"index $dir has no committed table '$name'"))

  /** The committed (buckets, keys) of a table; None for plain parquet. */
  private[graft] def spec(s: SparkSession, dir: String,
      table: String): Option[(Int, Seq[String])] = {
    val t = this.table(s, dir, table)
    if (t.buckets > 0) Some((t.buckets, t.keys)) else None
  }

  /** Commit the next manifest version: `f` applied to the latest
    * committed kinds (none in a fresh dir). Runs under the writer lock,
    * so concurrent committers — the pq and graph arms of one build —
    * never lose each other's kinds. A change that changes nothing
    * writes no version; a kind it adds or changes is [[validate]]d
    * first, so a refused commit leaves the latest version as it was.
    * After the version is written, versions older than the previous one
    * and the generations neither kept version lists are deleted. */
  private[graft] def commit(s: SparkSession, dir: String)(
      f: Map[String, Kind] => Map[String, Kind]): Unit =
    withLock(s, dir) {
      val cur = latest(dir)
      val kinds = cur.fold(Map.empty[String, Kind])(_.kinds)
      val next = f(kinds)
      next.foreach { case (n, k) =>
        if (!kinds.get(n).contains(k)) validate(dir, n, k) }
      if (next != kinds) {
        val m = Manifest(cur.fold(1L)(_.version + 1), next)
        Fs.writeNew(s"${manifestDir(dir)}/v${m.version}",
          org.json4s.jackson.Serialization.write(m))
        Fs.list(manifestDir(dir)).collect {
          case n @ VersionName(old) if old.toLong < m.version - 1 => n
        }.foreach(n => Fs.delete(s"${manifestDir(dir)}/$n"))
        sweep(s, dir, m.gens ++ cur.fold(Set.empty[(String, Long)])(_.gens))
      }
    }

  /** Refuse a kind the manifest cannot carry or a probe cannot use: a
    * non-finite double (JSON has none; json4s would write `null` and read
    * it back silently), or a graph sweep without exactly one chosen row. */
  private def validate(dir: String, name: String, k: Kind): Unit = {
    def refuse(why: String) =
      throw new IllegalArgumentException(s"index $dir: kind '$name' $why")
    Seq("centroids" -> k.centroids.flatten, "tau" -> k.tau.toSeq,
        "pqBooks" -> k.pqBooks.flatten.flatten,
        "pqRotation" -> k.pqRotation.toSeq.flatten.flatten,
        "sweep" -> k.sweep.map(_.recallAt1))
      .collectFirst { case (f, xs) if xs.exists(x => x.isNaN || x.isInfinite) => f }
      .foreach(f => refuse(s"has a non-finite value in '$f'"))
    if (name == "graph" && k.sweep.count(_.chosen) != 1)
      refuse(s"needs exactly one chosen sweep row, has ${k.sweep.count(_.chosen)}")
  }

  /** (Re)build kind `name` of `dir`: run `write` — which writes the
    * kind's tables as fresh generations and returns its entry, metadata
    * included — then commit one version that lists it and drops `drops`
    * (kinds derived from the one rebuilt). Until that commit, readers see
    * the previous build whole. Only the commit holds the writer lock, so
    * independent kinds build concurrently. */
  private[graft] def build(s: SparkSession, dir: String, name: String,
      drops: Seq[String] = Nil)(write: => Kind): Unit = {
    val k = write
    commit(s, dir)(_ -- drops + (name -> k))
  }

  // ---------------------------------------------------------- generations

  /** Generations allocated in this JVM and not yet committed, as (dir,
    * table, gen): [[sweep]] leaves them to their writer. */
  private val pending = scala.collection.mutable.Set[(String, String, Long)]()

  /** The next generation of `table`: above every one on disk or still
    * being written, so no committed version lists it. */
  private def allocate(dir: String, table: String): Long =
    pending.synchronized {
      val taken = Fs.list(dir).collect { case GenName(`table`, g) => g.toLong } ++
        pending.collect { case (`dir`, `table`, g) => g }
      val g = taken.maxOption.getOrElse(0L) + 1
      pending += ((dir, table, g))
      g
    }

  /** Delete every generation of `dir` that `keep` does not list and no
    * writer of this JVM still holds, with its catalog entry. */
  private def sweep(s: SparkSession, dir: String,
      keep: Set[(String, Long)]): Unit =
    pending.synchronized {
      pending --= keep.map { case (t, g) => (dir, t, g) }
      Fs.list(dir).collect {
        case n @ GenName(t, g) if !keep((t, g.toLong)) &&
            !pending((dir, t, g.toLong)) => (n, t, g.toLong)
      }
    }.foreach { case (n, t, g) =>
      s.sql(s"DROP TABLE IF EXISTS ${ident(tableName(dir, t, g))}")
      Fs.delete(s"$dir/$n")
    }

  /** Write `df` as the next generation of `table` — bucketed into `n`
    * buckets on `keys`, plain parquet when `n` is 0 — and return its
    * entry; readers see it only once a commit lists it. A failed write
    * leaves no generation behind. */
  private def writeGen(df: DataFrame, dir: String, table: String, n: Int,
      keys: Seq[String]): Table = {
    val t = Table(allocate(dir, table), n, keys, df.schema.toDDL)
    val path = location(dir, table, t.gen)
    try {
      if (n == 0) df.write.parquet(path)
      else {
        val name = tableName(dir, table, t.gen)
        // A dir deleted and rebuilt at the same path reuses generation
        // numbers; the catalog may still hold the old build's name.
        df.sparkSession.sql(s"DROP TABLE IF EXISTS ${ident(name)}")
        df.write.bucketBy(n, keys.head, keys.tail: _*)
          .sortBy(keys.head, keys.tail: _*)
          .option("path", path)
          .saveAsTable(name)
      }
      t
    } catch {
      case e: Throwable =>
        pending.synchronized(pending -= ((dir, table, t.gen)))
        Fs.delete(path)
        throw e
    }
  }

  /** Write a build's table — bucketed on `keys` unless bucketing is
    * disabled — as a fresh generation, and return its manifest entry for
    * the build to commit. */
  private[graft] def write(df: DataFrame, dir: String, table: String,
      keys: Seq[String]): (String, Table) =
    table -> writeGen(df, dir, table,
      if (enabled(df.sparkSession)) DefaultBuckets else 0, keys)

  /** Ensure the session catalog holds the generation `t` of `table` (DDL
    * over the manifest entry's spec and schema — no data movement);
    * returns the catalog name. */
  private def register(s: SparkSession, dir: String, table: String,
      t: Table): String = {
    val name = tableName(dir, table, t.gen)
    if (!s.catalog.tableExists(name)) {
      val cols = t.keys.map(ident).mkString(", ")
      s.sql(s"CREATE TABLE ${ident(name)} (${t.schema}) USING PARQUET " +
        s"CLUSTERED BY ($cols) SORTED BY ($cols) INTO ${t.buckets} BUCKETS " +
        s"LOCATION '${sqlLit(location(dir, table, t.gen))}'")
    }
    name
  }

  /** Read a committed index table — through the catalog (bucketed scan,
    * no index-side Exchange on key joins/aggs) when it is bucketed, plain
    * parquet otherwise. Rows are identical either way; only the plan
    * shape differs. */
  def read(s: SparkSession, dir: String, table: String): DataFrame =
    read(s, dir, table, this.table(s, dir, table))

  /** Read a table by its entry — the committed one, or one a build has
    * written but not yet committed (the graph build probes its own edges
    * to derive the scheme it commits with them). */
  private[graft] def read(s: SparkSession, dir: String, table: String,
      t: Table): DataFrame =
    if (t.buckets == 0) s.read.parquet(location(dir, table, t.gen))
    else {
      val name = register(s, dir, table, t)
      // Drop any cached resolution first: appends can come from OTHER
      // sessions over the same catalog (a streaming foreachBatch runs in
      // a cloned session), and a stale cached file listing would
      // silently miss their rows. Re-listing per read is exactly what
      // the plain `read.parquet` layout paid on every probe.
      s.catalog.refreshTable(name)
      s.table(name)
    }

  /** Append rows to a committed table's generation, preserving its
    * bucketing (each append lays down one file per written bucket — the
    * small-files accretion [[compact]] manages). Under the writer lock,
    * so an append never lands in a generation a rewrite is replacing. */
  def append(df: DataFrame, dir: String, table: String): Unit = {
    val s = df.sparkSession
    withLock(s, dir) {
      val t = this.table(s, dir, table)
      if (t.buckets == 0)
        df.write.mode(SaveMode.Append).parquet(location(dir, table, t.gen))
      else {
        val name = register(s, dir, table, t)
        df.write.mode(SaveMode.Append)
          .bucketBy(t.buckets, t.keys.head, t.keys.tail: _*)
          .sortBy(t.keys.head, t.keys.tail: _*)
          .saveAsTable(name)
        // The session caches the resolved relation (file listing
        // included); without an explicit refresh a probe AFTER the
        // append can read the pre-append listing and silently miss the
        // new rows — the streaming refresh loop's whole point.
        s.catalog.refreshTable(name)
      }
    }
  }

  /** Parquet data files of the committed generations of `tables` — the
    * signal a compaction threshold reads: append-only refresh adds one
    * file-set per micro-batch per table, and probe scan cost grows with
    * file count (open/footer overhead per file — the streaming
    * small-files problem). */
  def fileCount(s: SparkSession, dir: String, tables: Seq[String]): Long = {
    val m = manifest(s, dir)
    tables.flatMap(n => m.table(n).map(t =>
        Fs.list(location(dir, n, t.gen)).count(_.endsWith(".parquet")).toLong))
      .sum
  }

  /** The one rewrite path of every index table: under the writer lock,
    * each table in `rules` gets a next generation holding its rule
    * applied to its current rows, and one commit points the manifest at
    * all of them — a crash anywhere before it reads as the previous
    * generations, whole. A bucketed rewrite repartitions by the bucket
    * keys into `buckets` (the committed count when 0), so each task owns
    * exactly one bucket → one file per bucket; a plain one coalesces to
    * ~128 MB files. Nothing is moved or deleted in place: the replaced
    * generations go once no kept manifest version lists them. */
  private[graft] def rewrite(s: SparkSession, dir: String,
      rules: Map[String, DataFrame => DataFrame], buckets: Int = 0): Unit =
    withLock(s, dir) {
      val next = rules.map { case (name, f) =>
        val t = this.table(s, dir, name)
        val n = if (buckets > 0) buckets else t.buckets
        val rows = f(read(s, dir, name, t))
        name -> (if (n == 0) {
          val bytes = Fs.on(location(dir, name, t.gen))(
            _.getContentSummary(_).getLength)
          writeGen(rows.coalesce(
              math.max(1L, (bytes + (128L << 20) - 1) / (128L << 20)).toInt),
            dir, name, 0, t.keys)
        } else writeGen(rows.repartition(n, t.keys.map(col): _*),
          dir, name, n, t.keys))
      }
      commit(s, dir)(_.map { case (n, k) =>
        n -> k.copy(tables = k.tables.map { case (t, e) =>
          t -> next.getOrElse(t, e) })
      })
    }

  // ------------------------------------------------------------ takedowns

  /** The table (and kind) holding an index's takedowns. */
  val Tombstones = "tombstones"

  /** One table's compaction: its id columns — the family's id, or both
    * endpoints of an edge — by which a takedown removes its rows, and the
    * rule collapsing the rows that remain to their canonical form. */
  final case class Compaction(ids: Seq[String], rule: DataFrame => DataFrame)

  /** Retire ids from the index: append column `key` of `ids` to the
    * committed tombstone table (committed as its own kind by the first
    * takedown, so a rebuild keeps it). Takedowns take effect at the NEXT
    * PROBE — probes drop tombstoned ids — and are PHYSICALLY applied by
    * the next [[compact]]. Retiring an id FORGETS its content: a later
    * identical doc or vector probes novel and becomes the new canonical
    * (DedupTtlSpec, SemTtlSpec). A tombstone for an id not (yet) indexed
    * survives compaction, so retire-before-arrival cannot be resurrected
    * by a late append replay. Under the writer lock, so a takedown
    * either precedes a compaction pass or follows its commit
    * (IndexRaceSpec hammers the interleaving). */
  private[graft] def tombstone(ids: DataFrame, dir: String,
      key: String): Unit = {
    val s = ids.sparkSession
    withLock(s, dir) {
      val rows = ids.select(col(key))
      if (manifest(s, dir).table(Tombstones).isDefined)
        append(rows, dir, Tombstones)
      else commit(s, dir)(_ + (Tombstones ->
        Kind(Map(Tombstones -> writeGen(rows, dir, Tombstones, 0, Seq(key))))))
    }
  }

  /** The distinct tombstoned ids, or None when the index never had a
    * takedown — the probe skips its anti-joins entirely then. */
  private[graft] def tombstones(s: SparkSession,
      dir: String): Option[DataFrame] =
    manifest(s, dir).table(Tombstones).map(read(s, dir, Tombstones, _).distinct())

  /** `df` minus the rows whose `key` is tombstoned (no-op without
    * tombstones). The tombstone side is takedown-sized — AQE broadcasts
    * it; work ∝ df, never ∝ index × tombstones. */
  private[graft] def dropTombstoned(df: DataFrame, key: String,
      tombs: Option[DataFrame]): DataFrame =
    tombs.fold(df)(tb => df.join(tb.toDF("__tomb"),
      col(key) === col("__tomb"), "left_anti"))

  /** Compact an index in one locked [[rewrite]]: every committed table of
    * `tables` is rewritten to its rule over its rows minus the tombstoned
    * ids, and the tombstone table to the ids no table held (the takedowns
    * not applied yet: retire-before-arrival). One commit switches all of
    * them, so readers see the index before the pass or after it, never a
    * table applied and its tombstones gone; a takedown issued meanwhile
    * waits for the commit and lands in the new tombstone generation.
    * Probe verdicts are invariant: each rule collapses rows exactly as
    * the probe already does, and the probe already skips tombstoned ids.
    * Work ∝ index size (one shuffle per table) — run it from a
    * maintenance arm, never inline with a probe. */
  private[graft] def compact(s: SparkSession, dir: String,
      tables: Map[String, Compaction]): Unit =
    withLock(s, dir) {
      val m = manifest(s, dir)
      val live = tables.filter { case (t, _) => m.table(t).isDefined }
      val tombs = tombstones(s, dir)
      val rules = live.map { case (t, c) => t -> ((df: DataFrame) =>
        c.rule(c.ids.foldLeft(df)(dropTombstoned(_, _, tombs)))) }
      val survivors = m.table(Tombstones).map { tt =>
        val id = tt.keys.head
        val present = live.toSeq.flatMap { case (t, c) =>
          c.ids.map(i => read(s, dir, t).select(col(i).as(id))) }
        Tombstones -> ((cur: DataFrame) =>
          cur.distinct().join(present.reduce(_.union(_)), Seq(id), "left_anti"))
      }
      rewrite(s, dir, rules ++ survivors)
    }

  // ------------------------------------------------------------ writer lock

  /** Per-index-dir writer locks, two layers:
    *
    *  - IN-PROCESS: a per-dir ReentrantLock gives real mutual exclusion
    *    between the writers that actually coexist in one JVM — the
    *    streaming driver's takedown arm vs its maintenance arm, specs,
    *    a Verify/Bench session. Commits, appends, takedowns and whole
    *    rewrites run under it, so a takedown or an append never lands in
    *    a generation a compaction is replacing.
    *  - CROSS-PROCESS: a `__lock` file (pid inside) makes the
    *    single-writer-per-index deployment contract FAIL LOUDLY instead
    *    of corrupting reads — a second process finding a live foreign
    *    holder throws; a lock left by a CRASHED pid is broken and
    *    reclaimed (the Scratch.sweepDead discipline). A multi-host
    *    production deployment replaces this file with its coordination
    *    service / table-format commit protocol; the in-process layer and
    *    the write orderings are what carry over unchanged.
    */
  private val jvmLocks =
    new java.util.concurrent.ConcurrentHashMap[String,
      java.util.concurrent.locks.ReentrantLock]()

  private def lockPath(dir: String) = s"$dir/__lock"

  /** Run `body` as THE writer for `dir`'s index. Reentrant (a compaction
    * already holding the lock commits through [[commit]], which takes it
    * again).
    * Throws IllegalStateException on a live foreign-process holder or
    * when an in-process sibling holds it past [[LockWaitMs]]. */
  def withLock[T](s: SparkSession, dir: String)(body: => T): T = {
    // Fair: a takedown waiting out a compaction pass gets the lock before
    // a maintenance loop's next pass, instead of starving behind it.
    val l = jvmLocks.computeIfAbsent(dir,
      _ => new java.util.concurrent.locks.ReentrantLock(true))
    if (!l.tryLock(LockWaitMs, java.util.concurrent.TimeUnit.MILLISECONDS))
      throw new IllegalStateException(
        s"index writer lock for $dir held elsewhere in this process for " +
          s">${LockWaitMs}ms — single-writer contract violated")
    try {
      val first = l.getHoldCount == 1
      if (first) acquireLockFile(dir)
      try body
      finally if (first) Fs.on(lockPath(dir)) { (fs, p) => fs.delete(p, false); () }
    } finally l.unlock()
  }

  /** Atomically create the lock file with our pid. An existing file from
    * a DEAD pid (crashed writer) is broken; a live foreign pid throws —
    * this is contract enforcement, not a wait queue: two processes
    * mutating one index concurrently is a deployment error. */
  private def acquireLockFile(dir: String): Unit =
    Fs.on(lockPath(dir)) { (fs, p) =>
      var done = false
      while (!done) {
        try {
          val out = fs.create(p, false)
          try out.write(ProcessHandle.current.pid.toString
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          finally out.close()
          done = true
        } catch {
          case _: java.io.IOException =>
            val holder = scala.util.Try {
              val in = fs.open(p)
              val buf = new java.io.ByteArrayOutputStream()
              try org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
              finally in.close()
              new String(buf.toByteArray,
                java.nio.charset.StandardCharsets.UTF_8).trim.toLong
            }.toOption
            val alive = holder.exists(pid =>
              pid != ProcessHandle.current.pid &&
                scala.util.Try(ProcessHandle.of(pid)
                  .map[Boolean](_.isAlive).orElse(false): Boolean)
                  .getOrElse(true))
            if (alive)
              throw new IllegalStateException(
                s"index $dir is being written by live process ${holder.get} — " +
                  "single-writer contract violated")
            // dead / unreadable / our own stale file: break and retry
            fs.delete(p, false)
            (): Unit
        }
      }
    }

  // ------------------------------------------------------------- rebucket

  /** Re-bucket a table to `n` buckets — the lifecycle op for an index
    * that OUTGREW its build-time bucket count (buckets are frozen at
    * build so probe plans stay exchange-free; growth eventually makes
    * per-bucket files exceed the 128-512 MB target and the only prior
    * remedy was a full external rebuild). A [[rewrite]] at the new count:
    * every committed version claims only the partitioning its
    * generation's files have. Rows are untouched; only layout changes, so
    * probe results are invariant (IndexColocationSpec pins it and
    * re-checks plan co-location at the new count). */
  def rebucket(s: SparkSession, dir: String, table: String, n: Int): Unit =
    withLock(s, dir) {
      val cur = this.table(s, dir, table).buckets
      if (cur == 0)
        throw new IllegalArgumentException(
          s"$dir/$table is not a bucketed index table — build it with " +
            "bucketing on before rebucketing")
      require(n > 0, s"bucket count must be positive: $n")
      if (n != cur) rewrite(s, dir, Map(table -> identity), n)
    }

  /** Exact table row count from parquet FOOTER metadata — O(files) small
    * metadata reads instead of a full Spark scan-and-count job, which is
    * what lets [[rebucketIfGrown]] run in a streaming hot loop per
    * micro-batch without paying an O(table) scan when far under target
    * (parquet footers record exact per-file row counts, so this is not
    * an estimate). None when any file's footer is unreadable — the
    * caller falls back to the exact count job. */
  private def footerRowCount(path: String): Option[Long] = scala.util.Try {
    Fs.on(path) { (fs, p) =>
      val it = fs.listFiles(p, true)
      var total = 0L
      // Mirror Spark's InMemoryFileIndex visibility filter: any path
      // component starting with '_' or '.' (e.g. _temporary task files,
      // .staging leftovers from a crashed or concurrent write) is invisible
      // to a committed read and must not inflate the rebucket trigger.
      def visible(path: org.apache.hadoop.fs.Path): Boolean = {
        var cur = path
        var ok = true
        while (cur != null && !cur.toUri.getPath.equals(p.toUri.getPath)) {
          val n = cur.getName
          if (n.startsWith("_") || n.startsWith(".")) ok = false
          cur = cur.getParent
        }
        ok
      }
      while (it.hasNext) {
        val f = it.next()
        if (f.isFile && f.getPath.getName.endsWith(".parquet") &&
            visible(f.getPath)) {
          val r = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile
              .fromStatus(f, fs.getConf))
          try {
            val blocks = r.getFooter.getBlocks
            var i = 0
            while (i < blocks.size()) { total += blocks.get(i).getRowCount; i += 1 }
          } finally r.close()
        }
      }
      total
    }
  }.toOption

  /** The auto-trigger for [[rebucket]]: when the table's rows-per-
    * bucket exceed `targetRowsPerBucket`, grow the bucket count to the
    * next power of two that brings it back under target (powers of two
    * keep repartition-friendly counts; GROW-ONLY — shrinking a bucketed
    * index is never urgent and a flapping count would churn rewrites).
    * Rows are the LAYOUT-INVARIANT growth signal: a production daemon
    * usually watches per-bucket file size against the 128-512 MB scan
    * unit, but bytes FEED BACK through the rewrite itself (more buckets
    * → more per-file overhead → more bytes), which at small scale turns
    * the trigger into a doubling loop, while the row count is identical
    * before and after a rewrite — and at fixed schema rows ∝ payload
    * bytes anyway, so the operator states the same target divided by
    * the row width. Plain-parquet tables are left alone. Returns
    * whether a rebucket ran. The rewrite itself serializes on the index
    * writer lock inside [[rebucket]], so a streaming refresh can call
    * this between micro-batches exactly like the compaction-threshold
    * arm. */
  private[graft] def rebucketIfGrown(s: SparkSession, dir: String,
      table: String, targetRowsPerBucket: Long): Boolean = {
    require(targetRowsPerBucket > 0,
      s"target rows per bucket must be positive: $targetRowsPerBucket")
    val t = this.table(s, dir, table)
    t.buckets match {
      case 0 => false
      case n =>
        // Footer metadata first (cheap, exact); a Spark count job only as
        // the fallback for an unreadable footer — the round-16 version
        // paid a full read(...).count() per micro-batch even when far
        // under target.
        val rows = footerRowCount(location(dir, table, t.gen))
          .getOrElse(read(s, dir, table, t).count())
        val needed = ((rows + targetRowsPerBucket - 1) /
          targetRowsPerBucket).max(1L)
        var want = n.toLong
        while (want < needed) want *= 2
        if (want > n && want <= Int.MaxValue) {
          rebucket(s, dir, table, want.toInt)
          true
        } else false
    }
  }
}
