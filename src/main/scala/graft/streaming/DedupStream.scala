package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Dedup

/** Continuous dedup-index maintenance: the streaming form of q92's
  * incremental path. A document stream (corpus ingest waves) drives a
  * `foreachBatch` sink that, per micro-batch, indexes ONLY the batch
  * (`Dedup.dedupIndex` is a per-doc pure projection, so a batch never needs
  * the rest of the corpus to index), generates delta-vs-standing candidate
  * pairs on the banded LSH keys, and folds the new edges into the standing
  * components with the root-contracted merge. Reference behavior class:
  * autonomous incremental reflection refresh (readme.md:381-389) applied to
  * continuous ingestion.
  *
  * State layout (crash-safe, replay-idempotent, delta-sized writes):
  * {{{
  * stateDir/
  *   idx_<batchId>/        immutable parquet: that batch's index DELTA only
  *   v_<batchId>/
  *     components/         full standing label table (two longs per doc)
  *     manifest            newline list of idx_* dirs composing the index
  *     _COMMIT             written LAST; readers resolve newest committed v
  * }}}
  * The fat per-doc index (shingle-hash set + MinHash signature) is written
  * once per document, ever: a version's standing index is the UNION of the
  * idx_* dirs its manifest names, so per-batch index I/O is O(batch), not
  * O(corpus). Only the compact label table is rewritten per version.
  *
  * Replay safety: a re-delivered batch first RETRACTS its own _COMMIT
  * marker, so a crash mid-rewrite can never leave a committed-but-partial
  * version; it then recomputes from the newest committed version strictly
  * below its own id (never from state it wrote itself). After a successful
  * commit, versions older than the committed one's predecessor and idx_*
  * dirs the new manifest no longer references are garbage-collected — the
  * predecessor version is retained because an at-least-once re-delivery of
  * the just-committed batch still needs it. Disk is therefore bounded by
  * O(standing index + 2 label tables), not O(batches x corpus).
  *
  * All state paths go through the Hadoop FileSystem API resolved from the
  * path itself, so stateDir may be file://, hdfs:// or s3a:// alike.
  *
  * Scale notes (100 TB): the standing index/components live in parquet, not
  * executor memory — state size is bounded by the corpus, not the stream;
  * the per-batch joins are the same banded equi-joins as the batch path
  * (PlanAuditSpec's no-cartesian guarantee applies); and the component merge
  * touches O(batch) labels, so a hot ingest day never re-clusters settled
  * documents. DedupStreamSpec proves multi-wave streamed state ≡ one-shot
  * batch recompute on the real documents table, byte-for-byte.
  */
object DedupStream {

  /** Optional per-batch decontamination tap: each ingested train batch is
    * probed against a STANDING eval-side Bloom filter
    * ([[graft.operators.Decontaminate.standingEvalFilter]] — built once per
    * `evalVersion`, reloaded from `filterDir` on every later batch) and the
    * per-batch overlap report lands in `reportDir/b_<batchId>` (overwrite ⇒
    * replay-idempotent, like the state versions). At 100 TB this is the
    * decontamination gate running INSIDE ingestion: contaminated documents
    * are known per wave, without a standalone full-corpus pass. */
  final case class DecontamTap(eval: DataFrame, filterDir: String,
                               evalVersion: String, reportDir: String,
                               n: Int = 5,
                               expectedEvalShingles: Long = 1L << 20,
                               bitsPerItem: Int = 8)

  /** Optional per-batch quality/language/PII gate tap: each ingested batch
    * is scored with the [[graft.functions.TextFunctions]] gates (language ID,
    * quality score, email/phone counts — all map-only codegen'd projections)
    * and the per-`groupCol` gate report lands in `reportDir/b_<batchId>`
    * (overwrite ⇒ replay-idempotent, like the state versions and the
    * decontamination tap). This is the batch q51/q52/q84 surface running
    * INSIDE ingestion: at 100 TB the quality profile of a wave is known the
    * day it lands, from the scan the dedup indexer was doing anyway — the
    * only addition is one tiny aggregation over per-doc gate outcomes.
    *
    * `gates` (VERDICT r9 #6) is the report's column set: named AGGREGATE
    * expressions evaluated per `groupCol` group over the raw batch (they
    * reference the text column themselves). Empty = [[defaultGates]]
    * (doc count, avg quality, distinct languages, email/phone counts).
    * New gates — the Gopher repetition gate ([[gopherGate]]), redaction
    * counts, anything expressible as an aggregate Column — ride the same
    * ingest fold without touching this file. */
  final case class GateTap(reportDir: String, groupCol: String = "source",
                           gates: Seq[(String, org.apache.spark.sql.Column)] = Nil)

  private def fsOf(spark: SparkSession, dir: String): FileSystem =
    new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def commitPath(dir: String, v: Long) = new Path(s"$dir/v_$v/_COMMIT")

  private def listIds(fs: FileSystem, root: Path, prefix: String): Seq[Long] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .filter(_.startsWith(prefix))
      .flatMap(n => scala.util.Try(n.stripPrefix(prefix).toLong).toOption)

  /** Newest committed version strictly below `before` (replay safety: a
    * re-delivered batch must not read the state it wrote itself). */
  private[streaming] def latestCommitted(spark: SparkSession, stateDir: String,
                                         before: Long): Option[Long] = {
    val fs = fsOf(spark, stateDir)
    listIds(fs, new Path(stateDir), "v_")
      .filter(v => v < before && fs.exists(commitPath(stateDir, v)))
      .sorted.lastOption
  }

  /** The idx_* dir names whose union is version `v`'s standing index. */
  private def readManifest(spark: SparkSession, stateDir: String,
                           v: Long): Seq[String] = {
    val fs = fsOf(spark, stateDir)
    val in = fs.open(new Path(s"$stateDir/v_$v/manifest"))
    try scala.io.Source.fromInputStream(in, "UTF-8")
      .getLines().map(_.trim).filter(_.nonEmpty).toList
    finally in.close()
  }

  private def writeManifest(spark: SparkSession, stateDir: String, v: Long,
                            entries: Seq[String]): Unit = {
    val fs = fsOf(spark, stateDir)
    val out = fs.create(new Path(s"$stateDir/v_$v/manifest"), true)
    try out.write((entries.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
  }

  /** Read the newest committed (index, components) state, if any. The index
    * is the parquet union of the manifest's delta dirs. */
  def readState(spark: SparkSession, stateDir: String,
                before: Long = Long.MaxValue): Option[(DataFrame, DataFrame)] =
    latestCommitted(spark, stateDir, before).map { v =>
      val idxPaths = readManifest(spark, stateDir, v).map(n => s"$stateDir/$n")
      (spark.read.parquet(idxPaths: _*),
        spark.read.parquet(s"$stateDir/v_$v/components"))
    }

  /** Drop superseded versions and orphaned index deltas. Keeps the committed
    * version, its predecessor (an at-least-once re-delivery of `committed`
    * replays against it), and every idx_* dir the kept manifests reference
    * (a predecessor manifest is a prefix of its successor's, so the
    * committed manifest covers both). */
  private def gc(spark: SparkSession, stateDir: String, committed: Long,
                 referencedIdx: Set[String]): Unit = {
    val fs = fsOf(spark, stateDir)
    val root = new Path(stateDir)
    val keepV = Set(committed) ++ latestCommitted(spark, stateDir, committed)
    listIds(fs, root, "v_").filterNot(keepV)
      .foreach(v => fs.delete(new Path(s"$stateDir/v_$v"), true))
    listIds(fs, root, "idx_").map(v => s"idx_$v").filterNot(referencedIdx)
      .foreach(n => fs.delete(new Path(s"$stateDir/$n"), true))
  }

  /** The `foreachBatch` function: fold one micro-batch of documents
    * (`idCol`, `textCol` columns) into the standing dedup state. */
  def maintainIndex(stateDir: String, idCol: String, textCol: String,
                    threshold: Double = 0.5, k: Int = 128, bands: Int = 32,
                    shingleN: Int = 3,
                    tap: Option[DecontamTap] = None,
                    gates: Option[GateTap] = None): (DataFrame, Long) => Unit = {
    (batch, batchId) =>
      val spark = batch.sparkSession
      val fs = fsOf(spark, stateDir)
      gates.foreach { g =>
        gateReport(batch, textCol, g.groupCol, g.gates)
          .write.mode("overwrite").parquet(s"${g.reportDir}/b_$batchId")
      }
      tap.foreach { t =>
        import graft.operators.Decontaminate
        val filter = Decontaminate.standingEvalFilter(spark, t.filterDir,
          t.evalVersion, t.eval, idCol, textCol, t.n,
          t.expectedEvalShingles, t.bitsPerItem)
        Decontaminate
          .overlapReportWithFilter(batch, t.eval, idCol, textCol, t.n, filter)
          .write.mode("overwrite").parquet(s"${t.reportDir}/b_$batchId")
      }
      // Retract our own marker FIRST: if this is a crash-replay, the version
      // must stop looking committed before any of its files are rewritten.
      fs.delete(commitPath(stateDir, batchId), false)
      val batchIdx = Dedup.dedupIndex(batch, idCol, textCol, k, shingleN)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val idxName = s"idx_$batchId"
        batchIdx.write.mode("overwrite").parquet(s"$stateDir/$idxName")
        val (manifest, components) =
          latestCommitted(spark, stateDir, batchId) match {
            case None =>
              val pairs =
                Dedup.nearDupPairsFromIndex(batchIdx, threshold, k, bands)
              (Seq(idxName),
                Dedup.connectedComponents(pairs, "id_a", "id_b"))
            case Some(pv) =>
              val prevManifest = readManifest(spark, stateDir, pv)
              val oldIdx = spark.read
                .parquet(prevManifest.map(n => s"$stateDir/$n"): _*)
              val oldCC = spark.read.parquet(s"$stateDir/v_$pv/components")
              val delta =
                Dedup.nearDupPairsDelta(oldIdx, batchIdx, threshold, k, bands)
              (prevManifest :+ idxName, Dedup.mergeComponents(oldCC, delta))
          }
        components.write.mode("overwrite").parquet(s"$stateDir/v_$batchId/components")
        writeManifest(spark, stateDir, batchId, manifest)
        val marker = commitPath(stateDir, batchId)
        require(fs.createNewFile(marker), s"commit $marker")
        gc(spark, stateDir, batchId, manifest.toSet)
      } finally batchIdx.unpersist()
  }

  /** The default gate set: document count, average quality, distinct
    * predicted languages, and PII counts — the q52/q84 aggregation grain.
    * All inputs are map-only codegen'd [[graft.functions.TextFunctions]]
    * projections, so the report costs one tiny shuffle of gate outcomes. */
  def defaultGates(textCol: String): Seq[(String, org.apache.spark.sql.Column)] = {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions
    Seq(
      "n_docs" -> count(lit(1)),
      "avg_quality" -> round(avg(TextFunctions.qualityScore(col(textCol))), 6),
      "n_langs" -> countDistinct(TextFunctions.langId(col(textCol))),
      "n_emails" -> sum(TextFunctions.emailCount(col(textCol))).cast("long"),
      "n_phones" -> sum(TextFunctions.phoneCount(col(textCol))).cast("long"))
  }

  /** The Gopher-style repetition gate as a pluggable GateTap column: number
    * of documents whose top token occupies > 10 % of the text (q83's
    * integer-exact `best*10 > n` rule — the map-side run-length-max over the
    * sorted token array, no shuffle added). */
  def gopherGate(textCol: String): (String, org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions._
    import graft.functions.TextFunctions
    val toks = TextFunctions.tokens(col(textCol))
    "n_repetitive" -> sum(
      when(TextFunctions.topTokenCount(toks) * 10 > size(toks).cast("long"), 1)
        .otherwise(0)).cast("long")
  }

  /** The per-batch gate report: one row per `groupCol` value carrying each
    * gate's aggregate (default set when `gates` is empty). Exposed so batch
    * callers and specs can compute the identical frame. */
  def gateReport(docs: DataFrame, textCol: String, groupCol: String,
                 gates: Seq[(String, org.apache.spark.sql.Column)] = Nil)
      : DataFrame = {
    import org.apache.spark.sql.functions.col
    val gs = if (gates.isEmpty) defaultGates(textCol) else gates
    docs.groupBy(col(groupCol))
      .agg(gs.head._2.as(gs.head._1),
        gs.tail.map { case (n, c) => c.as(n) }: _*)
  }

  /** Wire a streaming document source into the maintenance sink. The caller
    * owns trigger/checkpoint choice; `Trigger.AvailableNow` + re-running on
    * the same checkpoint is the batch-wave ingest pattern. */
  def maintain(docs: DataFrame, stateDir: String, checkpointDir: String,
               idCol: String = "doc_id", textCol: String = "text",
               threshold: Double = 0.5, k: Int = 128, bands: Int = 32,
               tap: Option[DecontamTap] = None,
               gates: Option[GateTap] = None)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    docs.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch(maintainIndex(stateDir, idCol, textCol, threshold, k, bands,
        tap = tap, gates = gates))
}
