package graft.sources

import java.net.URI

import org.apache.hadoop.fs.{FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

/** A RawLocalFileSystem wearing a non-`file:` scheme. Registering it as
  * `graftfs:` makes every [[SnapshotTable]] metadata and data IO take the
  * Hadoop-FileSystem code path (`rootIsLocal = false`) while still backed
  * by local disk — the cheapest way to PROVE no java.nio escape remains on
  * scheme'd roots: a stray `Paths.get("graftfs:///…")` would resolve the
  * whole URI as a RELATIVE file name and create a literal `graftfs:`
  * directory under the CWD instead of touching the store root, which the
  * spec asserts never happens. `rename` refuses an existing target, the
  * HDFS shape the log's record publish relies on (RawLocalFileSystem's own
  * rename replaces it). */
class GraftTestFs extends RawLocalFileSystem {
  override def getScheme: String = "graftfs"
  override def getUri: URI = URI.create("graftfs:///")

  /** RawLocalFileSystem's status objects load permissions LAZILY via
    * `new java.io.File(path.toUri)`, which rejects any non-`file:` scheme —
    * re-wrap every status with eager default permissions so consumers
    * (Spark's listing, LocatedFileStatus) never trigger that load. */
  private def eager(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, 1, s.getBlockSize,
      s.getModificationTime, s.getAccessTime,
      if (s.isDirectory) FsPermission.getDirDefault else FsPermission.getFileDefault,
      "graft", "graft", s.getPath)

  override def getFileStatus(f: Path): FileStatus = eager(super.getFileStatus(f))

  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(eager)

  /** HDFS rename: false when `dst` exists. A file moves by hard link then
    * unlink, which refuses an existing target atomically; a directory
    * (Spark's committer moves them) keeps the replace-free local rename. */
  override def rename(src: Path, dst: Path): Boolean = {
    val (s, d) = (pathToFile(src).toPath, pathToFile(dst).toPath)
    if (java.nio.file.Files.isDirectory(s) || java.nio.file.Files.isDirectory(d))
      super.rename(src, dst)
    else
      try {
        java.nio.file.Files.createLink(d, s)
        java.nio.file.Files.delete(s)
        true
      } catch { case _: java.nio.file.FileAlreadyExistsException => false }
  }
}

/** [[GraftTestFs]] minus `append()` — the OBJECT-STORE shape (S3A has no
  * native append); the store never appends, so every surface must work on
  * it. */
class GraftNoAppendFs extends GraftTestFs {
  override def getScheme: String = "graftnoap"
  override def getUri: URI = URI.create("graftnoap:///")

  override def append(f: Path, bufferSize: Int,
      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream =
    throw new UnsupportedOperationException(
      "graftnoap: object-store semantics — no append")
}

/** The full S3 shape: no append AND no publish-if-absent — a PUT silently
  * replaces an existing object, so `create(f, overwrite=false)` succeeds
  * even when the file exists and a rename (copy + delete) replaces its
  * target. On this filesystem two writers can publish the same record name,
  * and a registered [[SnapshotTable.ClaimArbiter]] (Iceberg's catalog-CAS
  * role) is the correctness requirement, not an optimization. */
final class GraftS3LikeFs extends GraftNoAppendFs {
  override def getScheme: String = "grafts3"
  override def getUri: URI = URI.create("grafts3:///")

  // PUT semantics: exclusivity is silently ignored on every create path
  // (RawLocalFileSystem checks existence in the non-permission overload)
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream =
    super.create(f, true, bufferSize, replication, blockSize, progress)

  override def create(f: Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream =
    super.create(f, permission, true, bufferSize, replication, blockSize,
      progress)

  override def rename(src: Path, dst: Path): Boolean = {
    val d = pathToFile(dst).toPath
    if (java.nio.file.Files.isRegularFile(d)) java.nio.file.Files.delete(d)
    super.rename(src, dst)
  }
}

/** [[GraftTestFs]] that models a crash: once armed, the Nth
  * `create`/`rename`/`delete` and every later one throw before doing
  * anything, until disarmed — whatever runs (the store's own writes, its
  * clean-up, Spark's task commits) stops at that write point as a dead
  * process would. The counter is JVM-wide: Spark's tasks get their own
  * instances from the FileSystem cache. */
final class GraftFaultFs extends GraftTestFs {
  override def getScheme: String = "graftfault"
  override def getUri: URI = URI.create("graftfault:///")

  private def step(what: String, f: Path): Unit =
    if (GraftFaultFs.armed.get &&
        GraftFaultFs.calls.incrementAndGet() >= GraftFaultFs.failAt.get &&
        GraftFaultFs.failAt.get > 0)
      throw new java.io.IOException(s"injected crash at $what $f")

  override def create(f: Path,
      permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    step("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable)
      : org.apache.hadoop.fs.FSDataOutputStream = {
    step("create", f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def rename(src: Path, dst: Path): Boolean = {
    step("rename", src)
    super.rename(src, dst)
  }

  override def delete(f: Path, recursive: Boolean): Boolean = {
    step("delete", f)
    super.delete(f, recursive)
  }
}

object GraftFaultFs {
  private val armed = new java.util.concurrent.atomic.AtomicBoolean(false)
  private val calls = new java.util.concurrent.atomic.AtomicLong(0L)
  private val failAt = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Count calls from now on, crashing at the `n`th (0 = count only). */
  def arm(n: Long): Unit = { calls.set(0L); failAt.set(n); armed.set(true) }

  /** Stop counting and crashing; the calls counted since [[arm]]. */
  def disarm(): Long = { armed.set(false); calls.get }
}
