package graft

import org.apache.spark.sql.SparkSession

/** Scratch-directory naming for round-trip sinks (CSV/JSON/parquet
  * write-then-read queries), named once instead of hand-rolled per module.
  *
  * The key has three isolation axes:
  *  - an md5 prefix of the sf-dir STRING — `hashCode` was the old key, but
  *    `math.abs(Int.MinValue)` is negative and 32-bit hashCode collisions
  *    across sf dirs would share a scratch path between scales;
  *  - the pid — two JVMs on the same scale (Verify racing Bench) must not
  *    interleave an overwrite-mode write with the sibling's read;
  *  - the session's identity hash — two SparkSessions in ONE JVM running
  *    the same query concurrently would otherwise race on one
  *    overwrite-mode dir.
  */
object Scratch {

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .map(b => f"$b%02x").mkString

  /** Recursive delete that never FOLLOWS a directory symlink: in a shared
    * world-writable tmpdir an adversary can plant `graft_rt_<deadpid>_x`
    * containing a symlink to a directory elsewhere, and a naive
    * listFiles-recursion would traverse the link and delete the TARGET's
    * contents. A symlink (to anything) is unlinked itself; only real
    * directories are recursed into. */
  private def rmNoFollow(f: java.io.File): Unit = {
    val p = f.toPath
    if (!java.nio.file.Files.isSymbolicLink(p) && f.isDirectory) {
      val kids = f.listFiles(); if (kids != null) kids.foreach(rmNoFollow)
    }
    f.delete()
  }

  /** Dirs handed out by this JVM, deleted on clean shutdown — without
    * this, every (kind, scale, pid, session) combination leaves a full
    * table copy in tmpdir and repeated bench/verify sessions on a
    * long-lived host fill the disk monotonically. Registered lazily so
    * JVMs that never touch a round-trip query add no hook. */
  private val issued = new java.util.concurrent.ConcurrentHashMap[String, Boolean]()
  private lazy val hook: Unit = Runtime.getRuntime.addShutdownHook(new Thread(() =>
    issued.keySet.forEach(d => rmNoFollow(new java.io.File(d)))))

  /** Sweep siblings left by CRASHED JVMs: the shutdown hook only covers
    * clean exits of THIS process, so graft_rt_* dirs whose embedded pid
    * is no longer alive are reclaimed here (cheap — one tmpdir listing
    * per handed-out dir, prefix- and numeric-guarded). */
  private def sweepDead(tmp: java.io.File): Unit = {
    val kids = tmp.listFiles()
    if (kids == null) return
    kids.foreach { f =>
      val parts = f.getName.split("_")
      if (f.getName.startsWith("graft_rt_") && parts.length >= 2 &&
          parts(parts.length - 2).forall(_.isDigit)) {
        val alive = scala.util.Try(
          ProcessHandle.of(parts(parts.length - 2).toLong)
            .map[Boolean](_.isAlive).orElse(false)).getOrElse(true)
        if (!alive) rmNoFollow(f)
      }
    }
  }

  private def tmp = System.getProperty("java.io.tmpdir")

  /** Hand out `d`: sweep crashed siblings, then register `d` for deletion
    * at this JVM's shutdown. */
  private def track(d: String): String = {
    sweepDead(new java.io.File(tmp))
    hook
    issued.put(d, true)
    d
  }

  def dir(kind: String, spark: SparkSession, sfDir: String): String =
    track(s"$tmp/graft_rt_${kind}_" +
      s"${md5Hex(sfDir).take(12)}_${ProcessHandle.current.pid}_" +
      f"${System.identityHashCode(spark)}%08x")

  /** A new, empty dir no other caller shares (`graft_rt_<kind>_<pid>_<n>`)
    * — the specs' temp dirs — under the same shutdown deletion and
    * dead-pid sweep as [[dir]]. */
  def fresh(kind: String): String =
    track(java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(tmp),
      s"graft_rt_${kind}_${ProcessHandle.current.pid}_").toString)
}
