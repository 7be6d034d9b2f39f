package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.sources.SnapshotTable

/** Structured-Streaming ingest into the versioned snapshot store: each
  * micro-batch lands as an O(DELTA) append commit (SURVEY.md §2.3 M4 + the
  * reference's continuous-ingest posture — spark.py:88-89 append cost model,
  * readme.md's snapshot history accruing one entry per write).
  *
  * EXACTLY-ONCE across crashes: foreachBatch gives at-least-once delivery —
  * a crash between the commit and the checkpoint ack replays the batch — so
  * each streaming append is committed with its micro-batch id stamped INTO
  * the commit-log operation (`append@<batchId>`). The commit-log line IS the
  * dedup record: there is no second ledger write for a crash to fall
  * between, and a replayed batch finds its own commit and returns the
  * original version. The id is Spark's monotonically-increasing batchId from
  * the checkpoint, the same idempotent-sink recipe Iceberg's Spark streaming
  * writer uses.
  *
  * At 100 TB: each micro-batch writes only its own rows (delta dir +
  * manifest), the table's read side unions live deltas (batched into one
  * scan node per same-schema run), and `compact()` is the maintenance story
  * for delta buildup — identical economics to an Iceberg streaming append.
  */
object SnapshotStream {

  /** Per-store cache of the committed-batch map: the commit log is loaded
    * ONCE per (process, store) — a long-lived stream must not pay an
    * O(total commits) history read per micro-batch — and kept current
    * in-process by [[commitStreamBatch]] as it lands new batches. The sink
    * is single-writer per store (the SnapshotTable contract), so no other
    * process appends stamped batches behind the cache's back; a process
    * restart simply reloads once. */
  private val batchCache =
    scala.collection.mutable.HashMap.empty[String, scala.collection.mutable.HashMap[Long, Long]]

  /** Commit-log loads performed (observable so a spec can pin "one history
    * read across a multi-batch run"). */
  @volatile private[graft] var historyLoads: Long = 0L

  private def cachedBatches(st: SnapshotTable, root: String) =
    batchCache.synchronized {
      batchCache.getOrElseUpdate(root, {
        historyLoads += 1
        val m = scala.collection.mutable.HashMap.empty[Long, Long]
        m ++= loadCommittedBatches(st)
        m
      })
    }

  /** Committed `batchId → version` (cached; see [[batchCache]]). */
  def committedBatches(st: SnapshotTable, root: String): Map[Long, Long] = {
    val cache = cachedBatches(st, root)
    cache.synchronized(cache.toMap)
  }

  /** Committed `batchId → version`, read straight from the commit log (one
    * source of truth — a batch-stamped append op per streamed batch). */
  private def loadCommittedBatches(st: SnapshotTable): Map[Long, Long] =
    st.history().collect().flatMap { r =>
      st.streamBatchId(r.getAs[String]("operation"))
        .map(_ -> r.getAs[Long]("version"))
    }.toMap

  /** Commit one micro-batch as an append UNLESS `batchId` already committed
    * (the crash-replay case) — returns the batch's version either way. */
  def commitStreamBatch(st: SnapshotTable, root: String,
                        df: DataFrame, batchId: Long): Long = {
    val cache = cachedBatches(st, root)
    cache.synchronized {
      cache.get(batchId) match {
        case Some(v) => v // replayed batch: its data is already a snapshot
        case None =>
          val v = st.commit(df, op = st.streamAppendOp(batchId))
          cache(batchId) = v
          v
      }
    }
  }

  /** Run `stream` into the store, one append commit per micro-batch,
    * exactly-once under restart. AvailableNow by default: drain what exists
    * and stop (the test/batch-backfill trigger); pass a processing-time
    * trigger for continuous tailing. */
  def appendStream(st: SnapshotTable, root: String, stream: DataFrame,
                   checkpoint: String,
                   trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        commitStreamBatch(st, root, batch, batchId); ()
      }
      .start()

  /** The read side of the loop: tail the store's append commits as a
    * streaming DataFrame, exactly once per commit (see [[SnapshotSource]]
    * for the offset/skip semantics). `startVersion` bounds history;
    * `skipMutations` opts into skipping row-changing commits instead of
    * failing. */
  def readAppends(spark: org.apache.spark.sql.SparkSession, root: String,
                  startVersion: Long = -1L,
                  skipMutations: Boolean = false,
                  maxVersionsPerBatch: Option[Int] = None): DataFrame =
    reader(spark, root, startVersion, maxVersionsPerBatch,
      "skip-mutations" -> skipMutations.toString)

  /** Tail the store as a CHANGE stream (mode=cdc): every main-lineage
    * commit arrives as keyed change rows — `_change_type` ∈ {insert,
    * delete, update_preimage, update_postimage} + `_commit_version` — the
    * Delta CDF / Iceberg changelog shape (see [[SnapshotSource]]).
    * `keyCol` may be composite: `"tenant,id"`. */
  def readChanges(spark: org.apache.spark.sql.SparkSession, root: String,
                  keyCol: String, startVersion: Long = -1L,
                  maxVersionsPerBatch: Option[Int] = None): DataFrame =
    reader(spark, root, startVersion, maxVersionsPerBatch,
      "mode" -> "cdc", "key-column" -> keyCol)

  /** [[readChanges]] for tables WITHOUT a unique key: multiset
    * insert/delete diffs with duplicate copies honored (no update pairing
    * — that needs a row identity). Matches the position-delete domain. */
  def readChangesKeyless(spark: org.apache.spark.sql.SparkSession, root: String,
                         startVersion: Long = -1L,
                         maxVersionsPerBatch: Option[Int] = None): DataFrame =
    reader(spark, root, startVersion, maxVersionsPerBatch, "mode" -> "cdc")

  /** The one builder behind the three read entry points — a new source
    * option gets threaded here exactly once. */
  private def reader(spark: org.apache.spark.sql.SparkSession, root: String,
      startVersion: Long, maxVersionsPerBatch: Option[Int],
      extra: (String, String)*): DataFrame = {
    val r = spark.readStream
      .format(classOf[SnapshotSourceProvider].getName)
      .option("start-version", startVersion.toString)
    extra.foreach { case (k, v) => r.option(k, v) }
    maxVersionsPerBatch.foreach(n => r.option("max-versions-per-batch", n.toString))
    r.load(root)
  }
}
