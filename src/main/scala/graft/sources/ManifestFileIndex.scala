package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference,
  BoundReference, Expression, Predicate}
import org.apache.spark.sql.execution.datasources.{FileIndex, PartitionDirectory}
import org.apache.spark.sql.types.StructType

/** One file of a manifest-backed relation: the fully-qualified path, its
  * byte size, the manifest's per-column (min, max) stats for the file
  * (footer ranges plus partition-path pins — see
  * [[SnapshotTable.footerColumnStats]] / partitionPathStats), the hive
  * partition-dir key it sits under ("" for unpartitioned) and its parsed
  * partition values in Catalyst internal form. */
private[sources] final case class ManifestFileEntry(
    path: Path, bytes: Long, stats: Map[String, (String, String)],
    partitionKey: String, partitionValues: InternalRow)

/** A snapshot store's data files exposed through Spark's own scan-planning
  * seam (SURVEY.md §2.3 S4 — the reference's "a day query over a
  * partitioned table reads one partition, no matter who asks":
  * clinicdata.sql:38-39, readme.md:393-401).
  *
  * `FileSourceStrategy` hands every pushed-down partition and data filter to
  * [[listFiles]] at PHYSICAL PLANNING time; files whose manifest column
  * ranges exclude the predicate are never opened — Iceberg's
  * manifest-driven scan planning, surfaced through `FileIndex` so EVERY
  * consumer (plain SQL over a bound temp view, the API read paths, time
  * travel, branches, joins under AQE) gets file skipping without calling a
  * special API. Three properties matter at 100 TB:
  *
  *  - NO directory is ever listed: the commit-time manifest IS the listing
  *    (object-store LIST calls are the classic metadata bottleneck);
  *  - data-filter pruning is INCLUSIVE (any uncertainty keeps the file; the
  *    residual filter still applies), while partition filters are applied
  *    EXACTLY — `FileSourceStrategy` drops partition-only conjuncts from
  *    the post-scan residual, so the listing must not over-return there;
  *  - [[SnapshotTable.scanStats]] records (kept, live) per store root, the
  *    observable the pruning specs and bench plans pin (`recordScans`;
  *    off for the pruned subsets and key files a read already counted).
  */
private[sources] final class ManifestFileIndex(
    spark: SparkSession,
    storeRoot: String,
    statsSchema: StructType,
    override val partitionSchema: StructType,
    entries: Seq[ManifestFileEntry],
    augment: Seq[Expression] => Seq[Expression] = identity,
    recordScans: Boolean = true) extends FileIndex {

  /** Identity for scan accounting: one slot per index INSTANCE, so a
    * re-listing of the same relation (second action, AQE re-plan) overwrites
    * its own counts instead of doubling them. */
  private val indexId = ManifestFileIndex.ids.incrementAndGet()

  /** The snapshot-store root this relation reads — what lets plan walkers
    * ([[StoreReads]]) attribute a query to its store. */
  private[sources] def root: String = storeRoot

  override def rootPaths: Seq[Path] = Seq(new Path(storeRoot))

  /** Each entry's stats lookup built once per relation, however often
    * Spark re-lists it; a column decodes only when a conjunct names it. */
  private val types = FilePruning.typesOf(statsSchema)
  private lazy val metrics = entries.map(e => SnapshotTable.metricsOf(types, e.stats))

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // manifest-stats pass over EVERY pushed conjunct (partition values ride
    // the stats map as min = max pins, so both filter kinds prune here);
    // `augment` adds transform-derived conjuncts — a bucket(N, key) store
    // maps key equality to hidden-bucket equality — for the STATS pass only
    val conj = augment(partitionFilters ++ dataFilters)
    val afterStats = if (conj.isEmpty) entries else entries.zip(metrics).collect {
      case (e, m) if FilePruning.keep(types, m, conj) => e
    }
    // exact partition-filter evaluation on the parsed partition values
    // (bound by NAME — the filter's attributes belong to the relation's
    // output, not to this index)
    val kept =
      if (partitionFilters.isEmpty || partitionSchema.isEmpty) afterStats
      else {
        val bound = partitionFilters.reduce(And).transform {
          case a: AttributeReference =>
            val i = partitionSchema.fields.indexWhere(_.name.equalsIgnoreCase(a.name))
            if (i < 0) throw new IllegalStateException(
              s"partition filter references non-partition column ${a.name}")
            BoundReference(i, partitionSchema.fields(i).dataType, nullable = true)
        }
        val pred = Predicate.createInterpreted(bound)
        pred.initialize(0)
        afterStats.filter(e => pred.eval(e.partitionValues))
      }
    if (recordScans)
      SnapshotTable.recordScan(storeRoot, indexId, kept.size.toLong, entries.size.toLong)
    kept.groupBy(_.partitionKey).toSeq.sortBy(_._1).map { case (_, fs) =>
      PartitionDirectory(fs.head.partitionValues,
        fs.map(e => new FileStatus(e.bytes, false, 1, DefaultBlockSize, 0L, e.path))
          .toArray)
    }
  }

  override def inputFiles: Array[String] = entries.map(_.path.toString).toArray

  override def refresh(): Unit = () // manifests are immutable once committed

  override def sizeInBytes: Long = entries.map(_.bytes).sum

  private val DefaultBlockSize = 128L * 1024 * 1024
}

private[sources] object ManifestFileIndex {
  private val ids = new java.util.concurrent.atomic.AtomicLong(0L)
}
