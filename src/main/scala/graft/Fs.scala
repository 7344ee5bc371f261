package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** File I/O for the commit protocols (the streaming merge markers and
  * epochs in `graft.streaming.EventStream`, the index manifests in
  * `graft.operators.IndexStore`) and the small listings beside them,
  * run in the Spark application's own process, through the Hadoop
  * FileSystem resolved from each path (file://, hdfs://, s3a://, ...),
  * not java.io.File: a local-disk file against an HDFS/S3 checkpoint or
  * index would silently decouple the metadata from the data it
  * describes.
  *
  * Object-store note: both protocols get their correctness from one
  * commit point under a SINGLE WRITER (Structured Streaming's
  * one-active-query-per-checkpoint model; the index writer lock), not
  * from createNewFile atomicity, so eventual-consistency-era S3
  * create-if-absent races are out of scope by construction. */
object Fs {
  private def conf =
    org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration

  def on[A](p: String)(f: (FileSystem, Path) => A): A = {
    val path = new Path(p)
    f(path.getFileSystem(conf), path)
  }

  def exists(p: String): Boolean = on(p)(_.exists(_))

  def read(p: String): String = on(p) { (fs, path) =>
    val in = fs.open(path)
    try new String(org.apache.hadoop.io.IOUtils.readFullyToByteArray(in), "UTF-8")
    finally in.close()
  }

  /** Atomic publish: write a dot-temp beside `p`, then rename it onto
    * `p`. A crash mid-write leaves only the invisible temp (dot prefix —
    * no protocol listing reads it), never a torn target; rename is atomic
    * on HDFS and posix filesystems, and on object stores its copy is one
    * full-object PUT. `prepare` runs on the target just before the
    * rename (FileSystem.rename has no overwrite). */
  private def publish(p: String, s: String)(
      prepare: (FileSystem, Path) => Unit): Unit = on(p) { (fs, path) =>
    val tmp = new Path(path.getParent, s".${path.getName}.tmp")
    val out = fs.create(tmp, true)
    try out.write(s.getBytes("UTF-8")) finally out.close()
    prepare(fs, path)
    if (!fs.rename(tmp, path))
      throw new java.io.IOException(s"atomic publish failed: $tmp -> $p")
  }

  /** Replace `p` atomically. An existing `p` is deleted first: a crash in
    * that sliver leaves NO file, so a caller must treat a missing file as
    * recoverable (the streaming epoch does). */
  def write(p: String, s: String): Unit =
    publish(p, s)((fs, path) => if (fs.exists(path)) fs.delete(path, false))

  /** Publish `p`, which must not exist yet — nothing is deleted, so no
    * crash point leaves less than was there: the form for a commit point.
    * Callers serialize writers, so an existing `p` throws. */
  def writeNew(p: String, s: String): Unit =
    publish(p, s)((fs, path) =>
      if (fs.exists(path)) throw new java.io.IOException(s"refusing to overwrite $p"))

  /** create-if-absent; true when this call (or a prior one) left the
    * marker in place. */
  def touch(p: String): Boolean = on(p) { (fs, path) =>
    fs.createNewFile(path) || fs.exists(path)
  }

  def delete(p: String): Unit = on(p) { (fs, path) =>
    fs.delete(path, true); (): Unit
  }

  /** Entries directly under `p`; empty when `p` does not exist. */
  def ls(p: String): Seq[FileStatus] = on(p) { (fs, path) =>
    if (!fs.exists(path)) Seq.empty else fs.listStatus(path).toSeq
  }

  /** Entry names directly under `p`; empty when `p` does not exist. */
  def list(p: String): Seq[String] = ls(p).map(_.getPath.getName)
}
