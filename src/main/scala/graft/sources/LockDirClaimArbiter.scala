package graft.sources

/** Durable [[SnapshotTable.ClaimArbiter]]: a data root's log records live as
  * files on a SEPARATE root that genuinely publishes without replacing — a
  * POSIX/NFS directory, an HDFS path — backing a data root that cannot (an
  * S3-class store, where a PUT silently overwrites). This is Iceberg's
  * HadoopCatalog pattern with the catalog service replaced by the smallest
  * durable primitive a fleet already has: one shared filesystem path
  * (reference spark.py:26-28 solves the same problem with a REST catalog's
  * compare-and-swap).
  *
  * The records are visible to every process and host that mounts
  * `lockRoot`, so two OS processes with no shared memory publish distinct
  * versions (proved by `CrossProcessClaimSpec`, which forks a second JVM).
  *
  * Layout: `lockRoot/<md5(canonical data root)>/v=<version>.rec`, one
  * record per commit. Requirements on `lockRoot`'s filesystem: a publish
  * that refuses an existing name (`link(2)` / HDFS `rename`) and
  * list-after-publish visibility. Do NOT point it at an S3-class store —
  * that would reproduce the exact gap this arbiter closes.
  */
final class LockDirClaimArbiter(lockRoot: String,
    hconf: org.apache.hadoop.conf.Configuration =
      new org.apache.hadoop.conf.Configuration())
    extends SnapshotTable.RecordDir(hconf, root =>
      s"$lockRoot/" + java.security.MessageDigest.getInstance("MD5")
        .digest(root.getBytes("UTF-8")).map("%02x".format(_)).mkString)
