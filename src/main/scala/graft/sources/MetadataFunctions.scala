package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Iceberg metadata table functions (SURVEY.md §2.3 S3/S4; reference
  * readme.md:357-369: `SELECT * FROM TABLE(table_snapshot('t'))` /
  * `TABLE(table_history('t'))` "track data evolution, perform time travel
  * queries, or monitor file-level metrics").
  *
  * Two backing shapes, resolved automatically:
  *  - a `SnapshotTable`-managed root (`data/<id>` directories plus a
  *    `_graft_format` stamp): every committed version is a snapshot row
  *    with real file-level metrics per version;
  *  - any other resolvable table (nested-catalog parquet, temp view over a
  *    parquet directory): the current state is surfaced as a single
  *    synthesized snapshot from file statistics — the Iceberg equivalence for
  *    a table whose whole content is one commit.
  *
  * Metadata rows are O(#snapshots + #files) and built driver-side, exactly
  * like an Iceberg metadata scan reads manifests on the coordinator — the
  * 100 TB data path is never touched (no data files are opened).
  */
object MetadataFunctions {

  private val snapshotSchema = StructType(Seq(
    StructField("snapshot_id", LongType, nullable = false),
    StructField("parent_id", LongType, nullable = true),
    StructField("operation", StringType, nullable = false),
    StructField("committed_at", TimestampType, nullable = true),
    StructField("total_data_files", LongType, nullable = false),
    StructField("total_records", LongType, nullable = false),
    StructField("total_size_bytes", LongType, nullable = false)))

  private val historySchema = StructType(Seq(
    StructField("made_current_at", TimestampType, nullable = true),
    StructField("snapshot_id", LongType, nullable = false),
    StructField("parent_id", LongType, nullable = true),
    StructField("is_current_ancestor", BooleanType, nullable = false)))

  private val filesSchema = StructType(Seq(
    StructField("file_path", StringType, nullable = false),
    StructField("file_format", StringType, nullable = false),
    StructField("record_count", LongType, nullable = false),
    StructField("file_size_bytes", LongType, nullable = false)))

  /** `TABLE(table_files('name'))` — one row per data file of the CURRENT
    * snapshot (Iceberg's `files` metadata table; the readme's "file-level
    * metrics for optimizing compaction"). Record counts come from the
    * MANIFEST the commit wrote (stats captured once, at write time — the
    * Iceberg manifests contract: a metadata query never re-opens data
    * files); parquet footers are read only for tables that are not
    * snapshot stores. */
  def tableFiles(spark: SparkSession, table: String): DataFrame = {
    val rows = fileStats(spark, table).map { case (f, records, bytes) =>
      Row(f, "PARQUET", records, bytes)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), filesSchema)
  }

  /** Count of parquet-footer opens taken by metadata scans since JVM start —
    * the fallback path for files no commit manifest describes. Specs pin
    * this to ZERO growth over engine-written snapshot stores. */
  val footerReads = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Per-file footer memo keyed by (path, length, mtime): a parquet file
    * is immutable for a given (len, mtime) pair, so repeated metadata
    * scans over the SAME foreign dir never re-open footers. Bounded by a
    * wholesale clear (metadata-table calls are driver-paced; precision
    * eviction buys nothing). */
  private val footerMemo = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), (Long, Long)]()

  /** (path, records, bytes) for files outside any engine-written manifest
    * — the FOREIGN-dir fallback. Footer reads are memoized per
    * (path, len, mtime) and, past a driver-friendly handful, PARALLELIZED
    * on the cluster: at 10× corpus a sequential driver loop over foreign
    * footers was the one super-linear metadata path (engine-written dirs
    * never reach here; their manifests carry the stats). */
  private def footerStatsAll(spark: SparkSession,
      files: Seq[String]): Seq[(String, Long, Long)] = {
    val hconf = spark.sparkContext.hadoopConfiguration
    val withStatus = files.map { f =>
      val p = new Path(f)
      val st = p.getFileSystem(hconf).getFileStatus(p)
      (f, st.getLen, st.getModificationTime)
    }
    if (footerMemo.size > 100000) footerMemo.clear()
    val missing = withStatus.filterNot(footerMemo.containsKey)
    footerReads.addAndGet(missing.size.toLong)
    if (missing.size <= 16)
      missing.foreach { case t @ (f, len, _) =>
        footerMemo.put(t,
          (SnapshotTable.footerRecordCount(new Path(f), hconf), len))
      }
    else {
      val n = math.min(missing.size,
        math.max(1, spark.sparkContext.defaultParallelism * 2))
      // the driver's Hadoop conf is not serializable — ship its ENTRIES
      // (s3a credentials, endpoints, fs.defaultFS overrides) and rebuild
      // per partition, or scheme'd foreign dirs would lose auth exactly
      // when the file count crosses into the parallel path
      import scala.jdk.CollectionConverters._
      val confEntries =
        hconf.iterator().asScala.map(e => (e.getKey, e.getValue)).toArray
      spark.sparkContext.parallelize(missing, n).mapPartitions { it =>
        val conf = new org.apache.hadoop.conf.Configuration()
        confEntries.foreach { case (k, v) => conf.set(k, v) }
        it.map { case (f, len, mt) =>
          ((f, len, mt),
            (SnapshotTable.footerRecordCount(new Path(f), conf), len))
        }
      }.collect().foreach { case (k, v) => footerMemo.put(k, v) }
    }
    withStatus.map { case t @ (f, len, _) =>
      // a concurrent scan's wholesale clear() may have raced our put —
      // fall back to one driver-side footer read, never a null MatchError
      val v = footerMemo.get(t)
      val (r, b) =
        if (v != null) v
        else (SnapshotTable.footerRecordCount(new Path(f), hconf), len)
      (f, r, b)
    }
  }

  /** The table's current DATA files with (records, bytes). A snapshot-bound
    * name (conf binding or versioned layout) resolves to the CURRENT
    * snapshot's data dirs — the chain's base plus live append deltas;
    * merge-on-read delete-key files are NOT data files and are excluded,
    * exactly as Iceberg's files/partitions tables report data files with
    * deletes accounted separately. Stats come from each dir's commit-time
    * manifest (no file opens). Anything else is a resolvable table's own
    * scan file list, footer-read. */
  private def fileStats(spark: SparkSession, table: String): Seq[(String, Long, Long)] =
    resolveRoot(spark, table) match {
      case Some(root) =>
        val st = new SnapshotTable(spark, root)
        st.currentDataVersions.flatMap { v =>
          st.readManifest(v)._2.map(f =>
            (new Path(st.versionDir(v), f.name).toUri.getPath, f.records, f.bytes))
        }.sortBy(_._1)
      case None => footerStatsAll(spark, inputFiles(spark, table))
    }

  private val refsSchema = StructType(Seq(
    StructField("ref_name", StringType, nullable = false),
    StructField("ref_kind", StringType, nullable = false),
    StructField("version", LongType, nullable = false)))

  private val partitionsSchema = StructType(Seq(
    StructField("partition", StringType, nullable = true),
    StructField("file_count", LongType, nullable = false),
    StructField("record_count", LongType, nullable = false),
    StructField("size_bytes", LongType, nullable = false)))

  /** `TABLE(table_refs('name'))` — the named refs (branches/tags) of a
    * snapshot-bound table (Iceberg's `refs` metadata table). A plain table
    * has no refs → empty. */
  def tableRefs(spark: SparkSession, table: String): DataFrame =
    resolveRoot(spark, table) match {
      case Some(root) => new SnapshotTable(spark, root).refs()
        .select(col("ref_name"), col("ref_kind"), col("version"))
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[Row], refsSchema)
    }

  /** `TABLE(table_partitions('name'))` — one row per partition of the
    * CURRENT state (Iceberg's `partitions` metadata table): the partition's
    * path-encoded key values, its file count, record count (manifest-cached
    * at commit time; footers only for foreign dirs) and byte size. An
    * unpartitioned table is one row with a NULL partition. Cost is
    * O(#files) driver-side MANIFEST lookups, never a data scan. */
  def tablePartitions(spark: SparkSession, table: String): DataFrame = {
    val perFile = fileStats(spark, table).map { case (f, records, bytes) =>
      val p = new Path(f)
      // partition key = the key=value directory segments above the file (a
      // store's `data/<id>` level has no `=`, so it ends the walk)
      val segs = Iterator.iterate(p.getParent)(_.getParent)
        .takeWhile(d => d != null && d.getName.contains("="))
        .map(_.getName).toSeq.reverse
      val part = if (segs.isEmpty) null else segs.mkString("/")
      (part, records, bytes)
    }
    val rows = perFile.groupBy(_._1).toSeq.sortBy(t => Option(t._1).getOrElse(""))
      .map { case (part, fs) =>
        Row(part, fs.size.toLong, fs.map(_._2).sum, fs.map(_._3).sum)
      }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), partitionsSchema)
  }

  /** A SnapshotTable root for `table`: the `graft.snapshot.<name>` conf
    * binding first (snapshot-bound names are usually not Spark tables),
    * else the versioned layout behind a resolvable table's files. */
  private def resolveRoot(spark: SparkSession, table: String): Option[String] =
    spark.conf.getOption(s"graft.snapshot.$table")
      .orElse(snapshotRoot(spark, table))

  /** `TABLE(table_snapshot('name'))` — one row per snapshot. */
  def tableSnapshot(spark: SparkSession, table: String): DataFrame =
    snapshotRoot(spark, table) match {
      case Some(root) => snapshotRows(spark, root)
      case None       => synthesizedSnapshot(spark, table)
    }

  /** `TABLE(table_history('name'))` — the snapshot lineage. Every commit in
    * the linear `SnapshotTable` log is an ancestor of the current snapshot. */
  def tableHistory(spark: SparkSession, table: String): DataFrame =
    snapshotRoot(spark, table) match {
      case Some(root) =>
        val rows = new SnapshotTable(spark, root).history()
          .collect().toSeq.map { r =>
            val v = r.getAs[Long]("version")
            Row(new java.sql.Timestamp(r.getAs[Long]("committed_at_ms")),
              v, if (v == 0L) null else v - 1L, true)
          }
        spark.createDataFrame(
          spark.sparkContext.parallelize(rows, 1), historySchema)
      case None =>
        val snap = synthesizedSnapshot(spark, table)
        snap.select(col("committed_at").as("made_current_at"),
          col("snapshot_id"), col("parent_id"),
          lit(true).as("is_current_ancestor"))
    }

  /** A store root when `table` reads a SnapshotTable layout (input files
    * under `root/data/<id>` with the format stamp beside `data`), else
    * None. */
  private def snapshotRoot(spark: SparkSession, table: String): Option[String] = {
    val files = inputFiles(spark, table)
    files.headOption.flatMap { f =>
      // walk up through partition dirs (`region=eu`, `graft__day=…`) to the
      // data dir — partitioned stores nest hive dirs inside `data/<id>`
      Iterator.iterate(new Path(f).getParent)(_.getParent)
        .takeWhile(_ != null)
        .collectFirst {
          case p if p.getName == "data" && p.getParent != null &&
              Files.exists(Paths.get(p.getParent.toUri.getPath, "_graft_format")) =>
            p.getParent.toUri.getPath
        }
    }
  }

  /** One row per logged version; a version's files and bytes are those
    * its own commit wrote, read from its manifest (a metadata-only commit
    * wrote none). */
  private def snapshotRows(spark: SparkSession, root: String): DataFrame = {
    val st = new SnapshotTable(spark, root)
    val rows = st.history().collect().toSeq.map { r =>
      val v = r.getAs[Long]("version")
      val files = st.ownFiles(v)
      Row(v, if (v == 0L) null else v - 1L, r.getAs[String]("operation"),
        new java.sql.Timestamp(r.getAs[Long]("committed_at_ms")),
        files.size.toLong, r.getAs[Long]("row_count"), files.map(_.bytes).sum)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), snapshotSchema)
  }

  /** Single-snapshot view of a plain table: file stats from the scan's own
    * file listing; the record count is the one distributed job. */
  private def synthesizedSnapshot(spark: SparkSession, table: String): DataFrame = {
    val files = inputFiles(spark, table)
    val hconf = spark.sparkContext.hadoopConfiguration
    val stats = files.map { f =>
      val p = new Path(f)
      val st = p.getFileSystem(hconf).getFileStatus(p)
      (st.getLen, st.getModificationTime)
    }
    val records = spark.table(table).count()
    val committed =
      if (stats.isEmpty) null
      else new java.sql.Timestamp(stats.map(_._2).max)
    val row = Row(0L, null, "APPEND", committed,
      files.length.toLong, records, stats.map(_._1).sum)
    spark.createDataFrame(spark.sparkContext.parallelize(Seq(row), 1), snapshotSchema)
  }

  private def inputFiles(spark: SparkSession, table: String): Seq[String] =
    spark.table(table).inputFiles.toSeq.sorted
}
