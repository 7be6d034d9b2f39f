package graft.sources

import org.apache.spark.sql.SparkSession

/** Autonomous table optimization (SURVEY.md §2.11 X2 — the reference's
  * integrated-catalog promise, readme.md:393-401: "Traditionally,
  * maintaining Apache Iceberg tables requires manual compaction and file
  * optimization using the `OPTIMIZE` command. In Dremio's integrated
  * catalog, however, this process is fully automated"): the decide half of
  * that automation for snapshot stores.
  *
  * [[analyze]] reads ONLY the store's commit manifests and log
  * ([[SnapshotTable.layoutStats]]) — no data file is ever opened, so the
  * decision costs a few KB of metadata at any table size — and reports the
  * three layout pathologies that tax every later read:
  *
  *  - SMALL FILES: many files under half the target size (per-file overhead
  *    — footer parse, open latency, scheduler tasks — dominates the scan);
  *  - DELETE FOLDS: outstanding mor/pos delete files each reader pays a
  *    broadcast anti-join for until they are folded into a new base;
  *  - LONG CHAINS: many append dirs unioned per scan (planning and listing
  *    overhead grows with the chain even when file sizes are healthy).
  *
  * [[maintain]] applies the recommendation with [[SnapshotTable.compact]],
  * which is head-validated (optimistic concurrency): a concurrent writer
  * moves the head → `CommitConflictException` → the maintenance pass simply
  * retries at its next tick. Callers wire it to whatever cadence they like
  * (a scheduler tick, post-ingest hook, or the workload monitor's loop) —
  * the policy is deliberately stateless and idempotent: a healthy store
  * yields no finding and `maintain` is a no-op. */
object TableMaintenance {

  /** One store's layout diagnosis. `targetFiles` is the bin-pack output
    * size `maintain` would rewrite to (ceil(liveBytes / targetFileBytes)). */
  final case class Finding(
      root: String,
      liveFiles: Long,
      liveBytes: Long,
      smallFiles: Long,
      deleteFolds: Long,
      chainDirs: Long,
      targetFiles: Int,
      reasons: Seq[String])

  /** Diagnose `root`'s live layout; None = healthy, nothing to do.
    *
    * @param targetFileBytes bin-pack target (Iceberg's
    *                        write.target-file-size-bytes shape; default 128 MB)
    * @param smallFileFraction recommend when at least this fraction of live
    *                          files is under `targetFileBytes / 2` AND the
    *                          rewrite would actually shrink the file count
    * @param maxChainDirs recommend when a reader unions more dirs than this
    * @param maxDeleteFolds recommend when more delete-fold commits than this
    *                       are outstanding (0 = fold on the first one) */
  def analyze(spark: SparkSession, root: String,
      targetFileBytes: Long = 128L << 20,
      smallFileFraction: Double = 0.5,
      maxChainDirs: Int = 8,
      maxDeleteFolds: Long = 0L): Option[Finding] = {
    val st = new SnapshotTable(spark, root)
    val (perDir, folds) = st.layoutStats()
    val sizes = perDir.flatMap(_._2)
    val liveBytes = sizes.sum
    val small = sizes.count(_ < targetFileBytes / 2).toLong
    // a declared sort order with a PINNED file count is an explicit layout
    // declaration: the bin-pack target defers to it, and a store already AT
    // its pinned count is healthy, not "small files" — otherwise every
    // maintenance tick after a sorted compaction would re-rewrite forever
    val pinned = st.sortOrderFiles
    val target = math.max(
      math.max(1L, (liveBytes + targetFileBytes - 1) / targetFileBytes),
      pinned.toLong).min(Int.MaxValue).toInt
    val reasons = Seq(
      if (sizes.nonEmpty && small.toDouble / sizes.size >= smallFileFraction &&
        target < sizes.size) Some("small-files") else None,
      if (folds > maxDeleteFolds) Some("delete-folds") else None,
      if (perDir.size > maxChainDirs) Some("long-chain") else None).flatten
    if (reasons.isEmpty) None
    else Some(Finding(root, sizes.size.toLong, liveBytes, small, folds,
      perDir.size.toLong, target, reasons))
  }

  /** Diagnose and, when warranted, rewrite `root` into a fresh full base
    * (folding every outstanding delete file) — the act half of the
    * automated-maintenance story. A store with a declared write order is
    * re-CLUSTERED by the rewrite ([[SnapshotTable.compact]]'s sort-order
    * awareness) — healing never destroys the clustering pruning depends on;
    * `sortOrder` declares one in the same step for stores that lack it
    * (persisted, so later ticks inherit it). Returns the compaction's new
    * version, or None when the store is healthy. Head-validated: raises
    * [[SnapshotTable.CommitConflictException]] if a writer lands during the
    * rewrite (retry at the next tick). */
  def maintain(spark: SparkSession, root: String,
      targetFileBytes: Long = 128L << 20,
      smallFileFraction: Double = 0.5,
      maxChainDirs: Int = 8,
      maxDeleteFolds: Long = 0L,
      sortOrder: Option[Seq[String]] = None): Option[Long] = {
    sortOrder.foreach(o => new SnapshotTable(spark, root).setSortOrder(o))
    analyze(spark, root, targetFileBytes, smallFileFraction, maxChainDirs,
      maxDeleteFolds).map { f =>
      new SnapshotTable(spark, root).compact(f.targetFiles)
    }
  }

  /** Iceberg's remove_orphan_files, for crashed-writer leftovers (see
    * [[SnapshotTable.removeOrphans]]): `data/<id>` dirs no log record
    * names, older than the threshold, are deleted. Part of the same automated
    * maintenance loop as [[maintain]]. */
  def removeOrphans(spark: SparkSession, root: String,
      olderThanMillis: Long = 3L * 24 * 3600 * 1000,
      force: Boolean = false): Seq[String] =
    new SnapshotTable(spark, root).removeOrphans(olderThanMillis, force)
}
