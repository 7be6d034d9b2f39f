package graft.sources

import java.nio.file.{Files, Paths, StandardOpenOption}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, BooleanType, ByteType, DataType,
  DateType, DoubleType, FloatType, IntegerType, LongType, MapType, ShortType,
  StringType, StructField, StructType, TimestampType}

object SnapshotTable {

  /** One data file of a commit manifest: path relative to the version dir,
    * footer record count, byte size, and per-column (min, max) value ranges
    * in canonical string form — the Iceberg manifest-entry stats that make
    * scan planning skip files whose ranges exclude a pushed predicate. */
  final case class ManifestFile(name: String, records: Long, bytes: Long,
      stats: Map[String, (String, String)])

  /** One version's parsed manifest: the data schema and files, the
    * partition spec the files were written under (`#spec`, recorded by
    * partitioned writes) and, for a mor UPDATE/MERGE, the claimed-key
    * record (`#keyschema`/`#keyfile`). */
  private final case class Manifest(schema: StructType,
      files: Seq[ManifestFile], spec: Option[Seq[String]],
      keys: Option[(StructType, Seq[ManifestFile])])

  /** The head a write op's staged content was derived from:
    * [[SnapshotTable#transact]] publishes the op only while no record
    * logged since its log read moved that head. */
  private sealed trait Basis
  /** Derived from no head: a plain append, a blind overwrite, a rollback or
    * a publish commutes with whatever was logged before it lands. */
  private case object Commutes extends Basis
  /** Derived from main's head: the one the caller read before calling
    * (`pinned`), else the one `transact` reads. */
  private final case class OnMain(pinned: Option[Option[Long]] = None) extends Basis
  /** Derived from branch `name`'s head. */
  private final case class OnBranch(name: String) extends Basis

  /** What a write op's stage leaves for `transact` to log: the op string,
    * the table's row total after the commit as a function of (log, head) —
    * evaluated on the log the record is published onto, `head` being the
    * version it lands on — and a step that must follow the log record
    * (a branch's ref move, the partition spec file), given the version
    * that landed. */
  private final case class Staged(op: String,
      rows: (Seq[Meta], Option[Long]) => Long, afterLog: Long => Unit = _ => ())

  /** One commit-log entry: (version, committed-at ms, op, row count). */
  private[sources] type Meta = (Long, Long, String, Long)

  /** A parsed log record: its entry and the data id of the `data/<id>/`
    * dir the commit wrote (None for a metadata-only commit). */
  private[sources] type LogRecord = (Meta, Option[String])

  /** Raised when an optimistic commit loses its conflict check: the table
    * head moved between the operation's snapshot read and its commit attempt
    * (Iceberg's commit-conflict contract — re-read and retry the operation). */
  final class CommitConflictException(msg: String) extends RuntimeException(msg)

  /** In-process per-root commit locks (see SnapshotTable#withRootLock). */
  private val rootLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Same-millisecond tiebreaker for ref-record sequence names. */
  private[sources] val refSeqCounter = new java.util.concurrent.atomic.AtomicLong()

  /** Parsed log records per canonical root, keyed by record name, each with
    * the listing stamp it was parsed under. Records are immutable, so a log
    * read lists the records and parses only the names (or stamps) it has
    * not seen; a store deleted and recreated at the same path re-publishes
    * its names with new stamps, which are parsed afresh. */
  private[sources] val logMemo = new java.util.concurrent.ConcurrentHashMap[
    String, Map[String, (String, LogRecord)]]()

  // ── the commit log's record store ─────────────────────────────────────────
  //    A commit is ONE record, `v=N.rec`, published complete-or-absent and
  //    only if no record of that name exists: the claim, the commit point
  //    and the order in one step (Delta Lake's put-if-absent log entry;
  //    Iceberg gets the same from its catalog's compare-and-swap, reference
  //    spark.py:26-28). POSIX and HDFS publish without replacing natively;
  //    S3-class stores do NOT (a PUT silently overwrites), so a registered
  //    arbiter keeps a root's records where publish-if-absent holds.

  /** Where a root's log records live: publish-if-absent, list, read and
    * delete of small immutable records. Implement with any service that
    * refuses a second publish of one name — a REST catalog, a database
    * row, a lock table, a POSIX or HDFS directory ([[LockDirClaimArbiter]]). */
  trait ClaimArbiter {
    /** Publish `content` as record `name` of the table at `root`, complete
      * or not at all, unless a record of that name exists; true = this
      * call published it. */
    def publish(root: String, name: String, content: String): Boolean
    /** Every record of `root` as (name, stamp), the stamp changing
      * whenever a record of that name is published anew. */
    def list(root: String): Seq[(String, String)]
    /** A record's content; None once it was deleted. */
    def read(root: String, name: String): Option[String]
    def delete(root: String, name: String): Unit
  }

  /** Records as files of the directory `dirOf(root)`. A publish writes a
    * hidden temp file and then links it to its name: `Files.createLink` on
    * local paths (an `ATOMIC_MOVE` replaces an existing file on Linux),
    * `FileSystem.rename` elsewhere, which HDFS refuses onto an existing
    * file. */
  class RecordDir(hconf: org.apache.hadoop.conf.Configuration,
      dirOf: String => String) extends ClaimArbiter {
    private def localDir(dir: String): Option[java.nio.file.Path] = {
      val u = new Path(dir).toUri
      if (u.getScheme == null) Some(Paths.get(dir))
      else if (u.getScheme == "file") Some(Paths.get(u.getPath))
      else None
    }
    private def fs(dir: String) = new Path(dir).getFileSystem(hconf)

    def publish(root: String, name: String, content: String): Boolean = {
      val dir = dirOf(root)
      val tmpName = s".tmp-${java.util.UUID.randomUUID()}"
      localDir(dir) match {
        case Some(d) =>
          Files.createDirectories(d)
          val tmp = d.resolve(tmpName)
          Files.writeString(tmp, content)
          try { Files.createLink(d.resolve(name), tmp); true }
          catch { case _: java.nio.file.FileAlreadyExistsException => false }
          finally scala.util.Try(Files.deleteIfExists(tmp))
        case None =>
          val tmp = new Path(dir, tmpName)
          val out = fs(dir).create(tmp, false)
          try out.write(content.getBytes("UTF-8")) finally out.close()
          fs(dir).rename(tmp, new Path(dir, name)) || {
            scala.util.Try(fs(dir).delete(tmp, false)); false
          }
      }
    }

    def list(root: String): Seq[(String, String)] = {
      val dir = dirOf(root)
      localDir(dir) match {
        case Some(d) =>
          if (!Files.isDirectory(d)) Nil
          else {
            val s = Files.list(d)
            try {
              import scala.jdk.CollectionConverters._
              s.iterator().asScala.toList.flatMap { p =>
                val n = p.getFileName.toString
                if (n.startsWith(".")) None
                else scala.util.Try(Files.readAttributes(p,
                    classOf[java.nio.file.attribute.BasicFileAttributes]))
                  .toOption.map(a => n -> s"${a.lastModifiedTime.to(
                    java.util.concurrent.TimeUnit.NANOSECONDS)}:${a.size}")
              }
            } finally s.close()
          }
        case None =>
          val d = new Path(dir)
          try fs(dir).listStatus(d).toSeq.map(st => st.getPath.getName ->
              s"${st.getModificationTime}:${st.getLen}")
            .filterNot(_._1.startsWith("."))
          catch { case _: java.io.FileNotFoundException => Nil }
      }
    }

    def read(root: String, name: String): Option[String] = {
      val dir = dirOf(root)
      try Some(localDir(dir) match {
        case Some(d) => Files.readString(d.resolve(name))
        case None =>
          val in = fs(dir).open(new Path(dir, name))
          try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }) catch {
        case _: java.nio.file.NoSuchFileException | _: java.io.FileNotFoundException => None
      }
    }

    def delete(root: String, name: String): Unit = {
      val dir = dirOf(root)
      localDir(dir) match {
        case Some(d) => Files.deleteIfExists(d.resolve(name))
        case None => fs(dir).delete(new Path(dir, name), false)
      }
    }
  }

  private val claimArbiters =
    new java.util.concurrent.ConcurrentHashMap[String, ClaimArbiter]()

  /** Keep `root`'s log records in `arbiter` instead of the root's own
    * `_graft_log/` — required on stores that cannot publish without
    * replacing (S3-class). Every process that opens the root, reader or
    * writer, registers the same arbiter. */
  def registerClaimArbiter(root: String, arbiter: ClaimArbiter): Unit =
    claimArbiters.put(canonicalRoot(root), arbiter)

  def unregisterClaimArbiter(root: String): Unit =
    claimArbiters.remove(canonicalRoot(root))

  private[sources] def arbiterFor(root: String): Option[ClaimArbiter] =
    Option(claimArbiters.get(canonicalRoot(root)))

  /** Floor for [[SnapshotTable#removeOrphans]]'s age threshold (24 h —
    * Iceberg's remove_orphan_files refuses shorter intervals for the same
    * slow-writer reason). Overridable per call with `force = true`. */
  val MinOrphanAgeMillis: Long = 24L * 3600 * 1000

  /** The on-disk layout every store is written in, stamped into
    * `_graft_format` when the store is created. Readers refuse any other
    * value, so a layout change bumps this instead of keeping a reader for
    * the old layout. */
  private[sources] val FormatVersion = "3"

  /** Record count from one parquet FOOTER — a metadata read, no data pages
    * opened. The shared helper for every consumer that needs ONLY the
    * count (metadata tables' foreign-file fallback, the Iceberg export);
    * the commit-time manifest pass keeps its own open reader because it
    * also extracts column stats from the same footer. */
  private[sources] def footerRecordCount(p: org.apache.hadoop.fs.Path,
      hconf: org.apache.hadoop.conf.Configuration): Long = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(p, hconf))
    try reader.getRecordCount finally reader.close()
  }

  /** Every file under `dir` as (path relative to `dir`, status), found by a
    * `listStatus` walk that skips `_`- and `.`-prefixed names (Spark's
    * hidden-file rule: `_SUCCESS`, `.crc` sidecars, `_graft_deletes/`).
    * `FileSystem.listFiles` would return the same set, but it builds a
    * `LocatedFileStatus` per file, and on a local filesystem without the
    * native Hadoop library that permission load forks `ls -ld` per file. */
  private[sources] def listVisibleFiles(fs: org.apache.hadoop.fs.FileSystem,
      dir: Path): Seq[(String, org.apache.hadoop.fs.FileStatus)] = {
    def visible(s: org.apache.hadoop.fs.FileStatus) = {
      val n = s.getPath.getName
      !n.startsWith("_") && !n.startsWith(".")
    }
    def walk(d: Path, prefix: String): Seq[(String, org.apache.hadoop.fs.FileStatus)] =
      fs.listStatus(d).toSeq.filter(visible).flatMap { s =>
        val rel = prefix + s.getPath.getName
        if (s.isDirectory) walk(s.getPath, rel + "/") else Seq(rel -> s)
      }
    walk(dir, "").sortBy(_._1)
  }

  /** `dt` with every nullability flag, nested ones included, set to
    * nullable: the schema Spark's parquet source reports for any file. */
  private[graft] def allNullable(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = allNullable(f.dataType), nullable = true)))
    case ArrayType(e, _) => ArrayType(allNullable(e), containsNull = true)
    case MapType(k, v, _) =>
      MapType(allNullable(k), allNullable(v), valueContainsNull = true)
    case o => o
  }

  // ── column-stats capture (commit-time, from the footers the manifest pass
  //    already opens) ────────────────────────────────────────────────────────

  /** Per-column (min, max) over every row group of one parquet footer, in
    * canonical string form; a column is omitted when any row group lacks
    * usable stats, its physical type is unsupported (INT96 timestamps,
    * FIXED_LEN_BYTE_ARRAY decimals past precision 18, nested), or it is
    * entirely null — omission only disables pruning for that column, never
    * correctness. Decimal columns at precision ≤ 18 (INT32/INT64 physical —
    * the reference's DECIMAL(18,2)/(18,4) fact columns) record their raw
    * UNSCALED values, ordering-equivalent at the column's fixed scale. */
  private[sources] def footerColumnStats(
      footer: org.apache.parquet.hadoop.metadata.ParquetMetadata)
      : Map[String, (String, String)] = {
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    import org.apache.parquet.schema.LogicalTypeAnnotation
    import scala.jdk.CollectionConverters._
    // (min, max) accumulated per column; None = column disabled. Floats stay
    // floats so their canonical strings keep the float form; `dom` maps
    // them into the shared domain only to order them.
    def dom(v: Any) = v match { case f: Float => f.toDouble; case o => o }
    val acc = scala.collection.mutable.LinkedHashMap.empty[String, Option[(Any, Any)]]
    footer.getBlocks.asScala.foreach { block =>
      block.getColumns.asScala.foreach { cc =>
        val pathArr = cc.getPath.toArray
        if (pathArr.length == 1) {
          val name = pathArr(0)
          val pt = cc.getPrimitiveType
          val logical = pt.getLogicalTypeAnnotation
          val st = cc.getStatistics
          val allNull = st != null && st.isNumNullsSet &&
            st.getNumNulls == cc.getValueCount
          def domainValue(v: Any): Option[Any] = pt.getPrimitiveTypeName match {
            case INT32 => Some(v.asInstanceOf[Number].longValue)
            case INT64 =>
              val raw = v.asInstanceOf[Number].longValue
              logical match {
                case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                  ts.getUnit match {
                    case LogicalTypeAnnotation.TimeUnit.MILLIS => Some(raw * 1000L)
                    case LogicalTypeAnnotation.TimeUnit.MICROS => Some(raw)
                    case LogicalTypeAnnotation.TimeUnit.NANOS  => Some(raw / 1000L)
                    case _ => None
                  }
                case _ => Some(raw)
              }
            case FLOAT   => Some(v.asInstanceOf[Float])
            case DOUBLE  => Some(v.asInstanceOf[Double])
            case BOOLEAN => Some(v.asInstanceOf[Boolean])
            case BINARY
                if logical.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
              Some(v.asInstanceOf[org.apache.parquet.io.api.Binary].toStringUsingUTF8)
            case _ => None
          }
          val chunk: Option[Option[(Any, Any)]] =
            if (allNull) None // contributes no values; doesn't disable the column
            else if (st == null || st.isEmpty || !st.hasNonNullValue) Some(None)
            else {
              val mn = domainValue(st.genericGetMin)
              val mx = domainValue(st.genericGetMax)
              Some(for (a <- mn; b <- mx) yield (a, b))
            }
          chunk.foreach { c =>
            val merged = (acc.getOrElse(name, Some(null)), c) match {
              case (Some(null), v) => v
              case (Some((a1, b1)), Some((a2, b2))) =>
                Some((if (FilePruning.compare(dom(a1), dom(a2)) <= 0) a1 else a2,
                  if (FilePruning.compare(dom(b1), dom(b2)) >= 0) b1 else b2))
              case _ => None
            }
            acc(name) = merged
          }
        }
      }
    }
    acc.collect { case (n, Some(v)) if v != null =>
      n -> (canonical(v._1), canonical(v._2))
    }.toMap
  }

  private def canonical(v: Any): String = v.toString

  import org.apache.spark.sql.catalyst.expressions.And

  /** Top-level AND conjuncts of `pred`, RESOLVED against `df`'s plan: the
    * filter is run through analysis + optimization so implicit casts fold
    * into plain literals and attributes resolve — the same expression shape
    * a pushed-down scan filter has. */
  private[sources] def conjunctsOf(df: DataFrame, pred: Column): Seq[Expression] = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other     => Seq(other)
    }
    df.filter(pred).queryExecution.optimizedPlan.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => split(f.condition)
    }.getOrElse(Nil)
  }

  /** One manifest file's canonical-string stats decoded into the shared
    * value domain. Decimal stats are the raw UNSCALED values at the
    * column's scale (evolution only ever raises precision); a stat that
    * does not parse is simply unknown. */
  private[sources] def metricsOf(types: Map[String, DataType],
      stats: Map[String, (String, String)]): FilePruning.FileMetrics = {
    def value(s: String, ct: DataType): Option[Any] = ct match {
      case ByteType | ShortType | IntegerType | LongType | DateType |
           TimestampType => s.toLongOption
      case FloatType => s.toFloatOption.map(_.toDouble)
      case DoubleType => s.toDoubleOption
      case StringType => Some(s)
      case BooleanType => s.toBooleanOption
      case dt: org.apache.spark.sql.types.DecimalType => s.toLongOption.map(u =>
        new java.math.BigDecimal(java.math.BigInteger.valueOf(u), dt.scale))
      case _ => None
    }
    val statsLc = stats.map { case (c, v) => c.toLowerCase -> v }
    FilePruning.FileMetrics(c => for {
      ct <- types.get(c); (mn, mx) <- statsLc.get(c); lo <- value(mn, ct); hi <- value(mx, ct)
    } yield (lo, hi))
  }

  /** The files of one manifest that may hold a row matching `conj`. */
  private[sources] def keptFiles(schema: StructType, files: Seq[ManifestFile],
      conj: Seq[Expression]): Seq[ManifestFile] = {
    val types = FilePruning.typesOf(schema)
    files.filter(f => FilePruning.keep(types, metricsOf(types, f.stats), conj))
  }

  /** Stats blob ↔ manifest-field encoding: `col US b64(min) US b64(max)`
    * records joined with RS, whole blob base64'd — values may contain any
    * character; the TSV line must stay clean. */
  private[sources] def encodeStats(stats: Map[String, (String, String)]): String = {
    def b64(s: String) =
      java.util.Base64.getEncoder.encodeToString(s.getBytes("UTF-8"))
    java.util.Base64.getEncoder.encodeToString(
      stats.toSeq.sortBy(_._1).map { case (c, (mn, mx)) =>
        s"$c\u001f${b64(mn)}\u001f${b64(mx)}"
      }.mkString("\u001e").getBytes("UTF-8"))
  }

  private[sources] def decodeStats(blob: String): Map[String, (String, String)] =
    if (blob.isEmpty) Map.empty
    else {
      def un(s: String) = new String(java.util.Base64.getDecoder.decode(s), "UTF-8")
      un(blob).split('\u001e').filter(_.nonEmpty).map { rec =>
        val p = rec.split('\u001f')
        p(0) -> (un(p(1)), un(p(2)))
      }.toMap
    }

  // ── per-root scan accounting for the LAZY pruning path (fed by
  //    [[ManifestFileIndex.listFiles]] at physical-planning time, when
  //    Spark hands the pushed-down filters to the index) ──────────────────

  private val scanStatsMap = new java.util.concurrent.ConcurrentHashMap[
    String, java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]]()

  /** A root string in canonical form for the scan-stats map: scheme'd roots
    * (`s3a://…`, `hdfs://…`) normalize through Hadoop's Path; bare local
    * paths through java.nio (absolute + normalized), so relative and
    * absolute spellings of one local root share a slot. */
  private[sources] def canonicalRoot(root: String): String = {
    val uri = new Path(root).toUri
    if (uri.getScheme == null)
      java.nio.file.Paths.get(root).toAbsolutePath.normalize.toString
    else new Path(root).toString
  }

  /** Reset the (files scanned, files live) accounting for a store root. */
  def resetScanStats(root: String): Unit =
    scanStatsMap.remove(canonicalRoot(root))

  /** (files scanned, files live) accumulated by every manifest-backed scan
    * of `root` since the last [[resetScanStats]] — the observable that
    * proves file skipping fired on a PLAIN read path (SQL over a bound temp
    * view, the API `read()`, time travel): unlike
    * [[SnapshotTable#lastPruneStats]] it needs no special read API, because
    * the pruning itself doesn't either. Counts sum across every relation a
    * query plans over the root (a delta chain is base + runs), but each
    * relation contributes its LATEST listing only — Spark may re-plan one
    * scan several times (a second action, AQE re-planning), and a repeated
    * listing must not double the observable. */
  def scanStats(root: String): (Long, Long) =
    Option(scanStatsMap.get(canonicalRoot(root))) match {
      case None => (0L, 0L)
      case Some(m) =>
        import scala.jdk.CollectionConverters._
        m.values.asScala.foldLeft((0L, 0L)) { case ((k, t), (k2, t2)) =>
          (k + k2, t + t2)
        }
    }

  /** Record one [[ManifestFileIndex.listFiles]] pass. `indexId` slots the
    * counts per index INSTANCE (one per relation), so re-listing the same
    * relation overwrites rather than accumulates. The per-root slot map is
    * BOUNDED: a long-lived service plans a new relation per query, and an
    * unbounded map would leak one entry per query forever — past the cap
    * the window simply restarts (the stats are an observability aid; specs
    * reset explicitly around the scan they measure). */
  private[sources] def recordScan(root: String, indexId: Long,
      kept: Long, total: Long): Unit = {
    val slots = scanStatsMap.computeIfAbsent(canonicalRoot(root),
      _ => new java.util.concurrent.ConcurrentHashMap[Long, (Long, Long)]())
    if (slots.size >= 4096) slots.clear()
    slots.put(indexId, (kept, total))
  }
}

/** Lightweight snapshot/time-travel table (SURVEY.md §2.3 S3/S4, §2.11 X2):
  * the reference exposes Iceberg snapshot metadata (`table_snapshot`,
  * `table_history`), time travel (`AT SNAPSHOT`/`VERSION AS OF`), row-level
  * DML, branches/tags, and schema evolution. The Iceberg runtime isn't
  * shipped in this environment, so this implements the same contract over
  * versioned parquet directories. The store's whole on-disk layout:
  *
  *   root/_graft_format             the layout version ([[SnapshotTable.FormatVersion]]),
  *                                  written before the first log record; a
  *                                  store holding another value (or none) is
  *                                  refused, never read through a fallback
  *   root/_graft_log/v=N.rec        the commit log: one immutable record per
  *                                  commit, `version,ts_ms,rows,dataId,op`,
  *                                  `rows` being the table's row total after
  *                                  it; publishing it is the commit point
  *                                  (under a registered
  *                                  [[SnapshotTable.ClaimArbiter]] the
  *                                  records live in the arbiter instead)
  *   root/data/<id>/…/part-*.parquet  one immutable directory per commit that
  *                                  wrote data (full snapshots, append deltas,
  *                                  delete files, mor replacement rows), named
  *                                  by a fresh id its log record carries;
  *                                  hive `col=value/` dirs under a partition
  *                                  spec: identity values (timestamps in UTC),
  *                                  and the Iceberg spec's tuple for a
  *                                  transform (`graft__month=661` is February
  *                                  2025, UTC)
  *   root/data/<id>/_graft_deletes/ a mor UPDATE/MERGE commit's claimed keys
  *   root/_graft_manifest/<id>.tsv  every data dir's manifest: a `#schema`
  *                                  first line; `#spec` (the partition spec
  *                                  the files were written under); one
  *                                  `name records bytes stats` line per file,
  *                                  read from parquet footers ONCE at commit
  *                                  time (the Iceberg-manifests contract:
  *                                  metadata scans never re-open data files);
  *                                  for a mor UPDATE/MERGE a `#keyschema`
  *                                  line and one `#keyfile` line per key file
  *   root/_graft_reflog/r-….rec     branch/tag log, one immutable
  *                                  `name,kind,version` record per ref write
  *   root/_graft_partition          the declared partition spec
  *   root/_graft_sortorder          the declared write sort order
  *   root/_graft_mirror/            [[IcebergExport]]'s foreign-chain mirror
  *                                  records
  *
  * Commit kinds (the `op` column of the log):
  *  - full-data ops (`overwrite`, `compact`, `update`, `cow-delete`, `merge`,
  *    or any caller-supplied label): the data dir holds the whole table —
  *    copy-on-write commits, for mutations that touch a large table fraction;
  *  - `append`: the dir holds ONLY the delta (O(delta), the Iceberg
  *    `writeTo(...).append()` cost model — reference spark.py:88-89); readers
  *    resolve a union of the base and every live delta, `compact()` folds;
  *  - `mor-delete`: the dir holds only the deleted KEYS (equality-delete
  *    file); readers fold it as a broadcast anti-join;
  *  - `alias:<dirVersion>:<label>`: METADATA-ONLY commit whose data dir is
  *    another version's (publish/rollback to a single-dir target);
  *  - `asof:<version>:<label>`: METADATA-ONLY commit whose content is another
  *    version's RESOLVED content (publish/rollback to a delta-chain or
  *    mor-delete target — still a pointer move, never a copy);
  *  - `evolve:<payload>`: METADATA-ONLY schema evolution (ADD/DROP/RENAME
  *    COLUMN — Iceberg evolves schemas without rewriting data; readers apply
  *    the change during resolution);
  *  - `branch:<name>:overwrite` / `branch:<name>:append:<parent>`: commits on
  *    a side branch — same version sequence and layout, NOT main's lineage.
  *
  * Readers pin a version (time travel) or read latest; `history()` surfaces
  * the commit log as a DataFrame; `expireSnapshots` mirrors Iceberg's
  * expire_snapshots maintenance procedure with reachability-based retention.
  * Commits use OPTIMISTIC CONCURRENCY (Iceberg's atomic-swap contract):
  * an op writes its data under a fresh `data/<id>/` first, then publishes
  * the record `v=N.rec` with N = last logged version + 1, only if no record
  * of that name exists. A lost publish re-reads the log and tries the next
  * number, so concurrent writers always land distinct versions, in log
  * order, and a plain append never conflicts. Read-dependent mutations
  * raise [[SnapshotTable.CommitConflictException]] when a record logged
  * since their read moved the head they derived from (re-read and retry).
  */
final class SnapshotTable(spark: SparkSession, root: String) {
  import SnapshotTable.{Basis, Commutes, LogRecord, Meta, OnBranch, OnMain, Staged}

  // ── metadata IO seam ─────────────────────────────────────────────────────
  //    Every manifest / spec-file read and write goes through these
  //    helpers: `file:` (and bare) roots keep java.nio, which is cheap
  //    locally, while scheme'd roots (`hdfs:`, `s3a:`, test schemes) route
  //    through Hadoop's FileSystem (log and ref records: [[SnapshotTable.RecordDir]]).
  //    Without this the store could not operate at all on the object-store
  //    roots its 100 TB deployment story assumes (reference spark.py:52-59,
  //    readme.md:393-401: tables live on object storage).

  private def hPath(rel: String) = new Path(root, rel)

  /** The root as a java.nio-usable local path: a `file:`-SCHEME'd root is
    * still local (`rootIsLocal`), but `Paths.get("file:///x")` would
    * resolve the whole URI as a RELATIVE name and write under a literal
    * `./file:` dir — strip to the URI path first. */
  private lazy val localRootPath: String = {
    val u = new Path(root).toUri
    if (u.getScheme == null) root else u.getPath
  }

  private def nPath(rel: String) = Paths.get(localRootPath, rel)

  private def metaExists(rel: String): Boolean =
    if (rootIsLocal) Files.exists(nPath(rel)) else rootFs.exists(hPath(rel))

  private def metaReadString(rel: String): String =
    if (rootIsLocal) Files.readString(nPath(rel))
    else {
      val in = rootFs.open(hPath(rel))
      try new String(in.readAllBytes(), "UTF-8") finally in.close()
    }

  /** Non-empty lines of a metadata file (the log readers' shape). */
  private def metaReadLines(rel: String): Seq[String] =
    metaReadString(rel).split('\n').toSeq.filter(_.nonEmpty)

  private def metaWriteString(rel: String, content: String): Unit =
    if (rootIsLocal) {
      Files.createDirectories(nPath(rel).getParent)
      Files.writeString(nPath(rel), content,
        StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
    } else {
      val out = rootFs.create(hPath(rel), true) // creates parent dirs
      try out.write(content.getBytes("UTF-8")) finally out.close()
    }

  private def metaDelete(rel: String): Unit =
    if (rootIsLocal) Files.deleteIfExists(nPath(rel))
    else rootFs.delete(hPath(rel), false)

  /** Op marker for merge-on-read equality-delete commits: the version dir
    * holds only the deleted KEYS, not a full data copy (see [[deleteWhereMor]]). */
  private val MorDeleteOp = "mor-delete"

  /** Op marker for merge-on-read POSITION-delete commits (Iceberg v2's
    * second delete-file kind): the version dir holds `(graft__file,
    * graft__pos)` rows naming exact row positions in exact data files.
    * Unlike equality deletes this needs NO key column at all — it is the
    * delete form that works on tables with duplicate rows, where an
    * equality delete would remove every copy (see [[deleteWherePos]]). */
  private val PosDeleteOp = "pos-delete"

  /** A position-delete commit, plain or TAGGED (`pos-delete@<tag>`) — the
    * tag is an idempotence marker for mirrored foreign snapshots, exactly
    * the streamed-append recipe: a replay sees its tag in the commit log
    * and skips. All readers treat tagged forms identically. */
  private[graft] def isPosDelete(op: String): Boolean =
    op == PosDeleteOp || op.startsWith(PosDeleteOp + "@")

  /** Hidden columns carrying each row's physical provenance during a
    * pos-delete-aware resolution: the parquet file's qualified path and the
    * row's index within it (Spark's `_metadata` contract — stable for a
    * given immutable file). Never user-visible. */
  private[sources] val FileCol = "graft__file"
  private[sources] val PosCol = "graft__pos"

  /** Op marker for O(delta) append commits: the version dir holds only the
    * appended rows; readers union it onto the chain (see [[commit]]). A
    * streaming append carries its micro-batch id as `append@<batchId>` —
    * the SAME commit-log line is the exactly-once dedup record, so there is
    * no second ledger write for a crash to fall between (see
    * [[graft.streaming.SnapshotStream]]). */
  private val DeltaAppendOp = "append"

  /** Is this op an O(delta) append (plain or batch-stamped)? */
  private[sources] def isDeltaAppend(op: String): Boolean =
    op == DeltaAppendOp || op.startsWith(DeltaAppendOp + "@")

  /** The batch-stamped append op for streaming micro-batch `batchId` — the
    * format is owned here; [[graft.streaming.SnapshotStream]] must not
    * spell it by hand. */
  private[graft] def streamAppendOp(batchId: Long): String =
    s"$DeltaAppendOp@$batchId"

  /** The micro-batch id a batch-stamped append op carries, if any (a
    * malformed suffix is not a streamed batch, not an error). */
  private[graft] def streamBatchId(op: String): Option[Long] =
    if (!op.startsWith(DeltaAppendOp + "@")) None
    else op.stripPrefix(DeltaAppendOp + "@").toLongOption

  /** Op marker for merge-on-read UPDATE commits: the version dir holds the
    * REPLACEMENT rows (the updated copies) and a hidden `_graft_deletes/`
    * subdir holds their keys as an equality-delete file — one commit, two
    * Iceberg v2 file kinds. Readers anti-join the keys then union the
    * replacements, so updating 1k docs in a 100 TB corpus writes kilobytes
    * (see [[updateMor]]). */
  private val MorUpdateOp = "mor-update"

  /** Op marker for merge-on-read MERGE commits (Iceberg's
    * write.merge.mode=merge-on-read): the version dir holds the updated
    * copies of clause-claimed matched rows PLUS the not-matched inserts, and
    * `_graft_deletes/` holds every clause-claimed matched key — one commit,
    * O(source), never O(table) (see [[mergeIntoMor]]). Readers fold it like
    * a mor-update except the dir unions even when no key matched (an
    * insert-only merge still appends). */
  private val MorMergeOp = "mor-merge"

  private def keysDirOf(id: String) = s"${dataDirOf(id)}/_graft_deletes"

  /** Is this a mor UPDATE/MERGE commit — (claimed keys, replacement rows)?
    * The shape `IcebergExport.syncStore` mirrors as an equality-delete
    * file + an append snapshot. */
  private[graft] def isMorUpdateLike(op: String): Boolean =
    op == MorUpdateOp || op == MorMergeOp

  /** The claimed-keys frame of a mor UPDATE/MERGE commit, planned from the
    * key record in the version's manifest; None when the commit claimed
    * none (an insert-only merge). */
  private[graft] def morClaimedKeys(v: Long): Option[DataFrame] = {
    val id = idOf(v)
    val (schema, files) = manifestOf(id).keys.getOrElse(
      throw new IllegalStateException(
        s"manifest of mor commit v=$v at $root has no $KeySchemaTag record"))
    filesRelation(schema, files.map(keysDirOf(id) -> _), Seq(id),
      recordScans = false)
  }

  /** Op prefix for commits made on a side branch: `branch:<name>:overwrite`
    * or `branch:<name>:append:<parentVersion>`. Branch commits share the
    * global version sequence and directory layout but are NOT part of main's
    * lineage — main-head resolution and base walks skip them. */
  private val BranchOpPrefix = "branch:"

  /** Op prefix for METADATA-ONLY commits (`alias:<dirVersion>:<label>`):
    * the commit is on main's lineage but its data dir is another version's.
    * This is what makes publish/rollback O(metadata) — at 100 TB neither
    * may copy the table (Iceberg's fast-forward and rollback are pointer
    * moves). */
  private val AliasOpPrefix = "alias:"

  /** Op prefix for METADATA-ONLY commits whose content is another version's
    * RESOLVED content (`asof:<version>:<label>`): the pointer-move form of
    * publish/rollback when the target is a delta chain or a mor-delete
    * reconstruction — no single dir holds it, so the log records the
    * version to resolve instead of a dir. */
  private val AsOfOpPrefix = "asof:"

  /** Op prefix for METADATA-ONLY schema evolution commits
    * (`evolve:<base64 payload>`; payload = unit-separated
    * `add<US>name<US>typeDdl` | `drop<US>name` | `rename<US>old<US>new`).
    * Iceberg evolves schemas without touching data files; readers apply the
    * change during chain resolution, so old snapshots keep their original
    * schema and new reads see the evolved one. */
  private val EvolveOpPrefix = "evolve:"

  // ── hidden partitioning (Iceberg partition specs; reference
  //    clinicdata.sql:51, finance_example.sql:25, insurance_example.sql:23 —
  //    every workshop table is partitioned). A store-level spec of identity
  //    columns and/or transforms lays every version dir out as
  //    `data/<id>/<col>=…/part-*.parquet`. Each transform derives a HIDDEN column
  //    holding the spec's tuple ([[FilePruning.partColumn]]: UTC epoch
  //    ints for months/years/hours, a UTC date for days, the seed-0
  //    murmur3 bucket, the truncated value) that readers never see
  //    (Iceberg's hidden-partitioning contract). Manifests record each
  //    dir value as a per-file pin, and a time transform's source column
  //    as the tuple's period, so [[readWhere]] and Spark's own partition
  //    filters prune partition files with predicates on the source. ──

  private val PartitionSpecFile = "_graft_partition"

  /** The hidden day-transform column name (never user-visible). NOTE: must
    * not start with `_` — hive/Spark listing treats `_`-prefixed paths as
    * hidden, and the partition dirs carry this name. */
  private[sources] val DayCol = "graft__day"

  /** Hidden columns of the coarser time transforms (Iceberg's full standard
    * set: `months(ts)`/`years(ts)` for archive tables whose day grain would
    * make too many partitions, `hours(ts)` for high-rate streams). */
  private[sources] val MonthCol = "graft__month"
  private[sources] val YearCol = "graft__year"
  private[sources] val HourCol = "graft__hour"

  /** Hidden column of the `bucket(N, col)` transform (Iceberg's
    * high-cardinality layout). */
  private[sources] val BucketCol = "graft__bucket"

  /** Hidden column of the `truncate(W, col)` transform (width-W value
    * truncation: an ORDER-PRESERVING clustering, so per-file footer ranges
    * stay tight and range predicates prune without transform-aware logic). */
  private[sources] val TruncCol = "graft__trunc"

  /** The hidden column each transform kind derives. */
  private val hiddenColOf = Map("day" -> DayCol, "month" -> MonthCol,
    "year" -> YearCol, "hour" -> HourCol, "bucket" -> BucketCol, "truncate" -> TruncCol)

  /** Every hidden column a partition transform can derive (the read-path
    * drop list — users never see them). */
  private[sources] def hiddenPartitionCols: Seq[String] =
    Seq(DayCol, MonthCol, YearCol, HourCol, BucketCol, TruncCol)

  /** Hidden partition columns plus the pos-delete provenance pair — the
    * full set a resolved read strips before handing rows to the user. */
  private[sources] def hiddenReadCols: Seq[String] =
    hiddenPartitionCols ++ Seq(FileCol, PosCol)

  /** The store's declared partition spec, e.g.
    * Seq("region", "days(ts)", "bucket(8, doc_id)") — split on TOP-LEVEL
    * commas only (transform arguments contain commas). */
  def partitionSpec: Seq[String] =
    if (!metaExists(PartitionSpecFile)) Nil
    else splitSpecEntries(metaReadString(PartitionSpecFile))

  /** Split a comma-joined spec string on TOP-LEVEL commas only (transform
    * arguments contain commas: `bucket(8, doc_id)`). */
  private def splitSpecEntries(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var depth = 0
    s.foreach {
      case '(' => depth += 1; sb += '('
      case ')' => depth -= 1; sb += ')'
      case ',' if depth == 0 =>
        if (sb.toString.trim.nonEmpty) out += sb.toString.trim
        sb.clear()
      case c => sb += c
    }
    if (sb.toString.trim.nonEmpty) out += sb.toString.trim
    out.toSeq
  }

  /** (physical partition columns, hidden transform columns derived) for the
    * recorded spec: each transform entry derives its hidden column with
    * the spec's own [[FilePruning.partColumn]], identity entries pass
    * through. Entries whose source column is absent from the frame are
    * skipped conservatively (schema-evolution windows). */
  private def applyPartitionSpec(df: DataFrame): (DataFrame, Seq[String]) =
    partitionSpec.map(FilePruning.parseSpecEntry).foldLeft((df, Seq.empty[String])) {
      case ((out, cols), sf) =>
        df.schema.fields.find(_.name.equalsIgnoreCase(sf.source)) match {
          case None => (out, cols)
          case Some(f) if sf.isIdentity => (out, cols :+ f.name)
          case Some(f) =>
            val hidden = hiddenColOf(sf.kind)
            (out.withColumn(hidden, FilePruning.partColumn(sf, f.dataType)), cols :+ hidden)
        }
    }

  /** Transform-derived pruning conjuncts: key equality (or IN) on a bucket
    * transform's source derives equality on the hidden bucket column, whose
    * per-file partition-path pin excludes every other bucket — the point
    * lookup footer min/max of a hashed key cannot give. Only bucket derives:
    * a time partition pins its SOURCE column's range in each file's stats at
    * commit time, and a file's footer range already lies in its truncate
    * cell. */
  private def transformConjuncts(schema: StructType,
      conj: Seq[Expression], windowIds: Seq[String]): Seq[Expression] =
    partitionSpec.map(FilePruning.parseSpecEntry).find(_.kind == "bucket") match {
      case None => conj
      case Some(sf) =>
        val derived = FilePruning.deriveTuples(conj, Seq(sf.copy(name = BucketCol)),
          FilePruning.typesOf(schema))
        if (derived == conj || !bucketDerivationSound(sf, windowIds)) conj
        else derived
    }

  /** Is deriving `graft__bucket` conjuncts from the CURRENT spec's bucket
    * field `sf` sound for every file this read resolves? Files written
    * under a DIFFERENT bucket entry (spec evolution changing N or the
    * source) carry pins from the old hash-mod. Like Iceberg's per-file spec
    * id, each manifest records its write spec (`#spec`); an unpartitioned
    * write records none, and its files carry no bucket dirs. Checked over
    * the resolved window's data dirs only, so planning stays O(chain), not
    * O(history). */
  private def bucketDerivationSound(sf: FilePruning.SpecField,
      windowIds: Seq[String]): Boolean =
    windowIds.map(manifestOf).forall { m =>
      !m.files.exists(_.name.contains(BucketCol + "=")) ||
        m.spec.exists(_.map(FilePruning.parseSpecEntry).exists(w =>
          w.transform == sf.transform && w.source.equalsIgnoreCase(sf.source)))
    }

  // ── write sort order (Iceberg `ALTER TABLE … WRITE ORDERED BY`) ────────

  private val SortOrderFile = "_graft_sortorder"

  /** The store's declared write sort order: data commits are RANGE-
    * repartitioned on these columns and sorted within each output file, so
    * per-file manifest (min, max) ranges become tight and DISJOINT — the
    * clustering that makes [[readWhere]]'s file skipping effective. At
    * 100 TB this is the difference between a selective predicate reading a
    * handful of files and reading the table; `compact()` after setting an
    * order is Iceberg's rewrite_data_files sort strategy (sorted rewrite).
    * Like Iceberg's sort order, this shapes FUTURE writes only — existing
    * files keep their layout and their recorded stats. */
  def sortOrder: Seq[String] = {
    if (!metaExists(SortOrderFile)) Nil
    else splitSpecEntries(metaReadString(SortOrderFile).split('|').head)
  }

  /** Range-partition count pinned with the sort order (0 = Spark's
    * spark.sql.shuffle.partitions decides, the scale default). */
  def sortOrderFiles: Int =
    if (!metaExists(SortOrderFile)) 0
    else metaReadString(SortOrderFile).split('|') match {
      case Array(_, n) => scala.util.Try(n.trim.toInt).getOrElse(0)
      case _           => 0
    }

  /** A `zorder(c1, c2, …)` sort-order entry's columns (Iceberg's
    * rewrite_data_files `strategy => 'zorder'` clustering: per-file min/max
    * stay tight on EVERY clustering column, so predicates on any of them
    * prune — a linear sort key only skips well on its leading column). */
  private[sources] def zorderOf(entry: String): Option[Seq[String]] =
    "(?i)^zorder\\(([\\w\\s,]+)\\)$".r.findFirstMatchIn(entry.trim)
      .map(_.group(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq)

  /** Declare the write sort order: plain columns (range clustering) or ONE
    * `zorder(c1, c2, …)` entry (z-curve clustering over several columns).
    * `files > 0` pins the range-partition count (deterministic file
    * layout — small tables, spec pins); 0 lets
    * `spark.sql.shuffle.partitions` decide, which is what a 100 TB table
    * wants (one range per shuffle partition, AQE coalescing applies). */
  def setSortOrder(cols: Seq[String], files: Int = 0): Unit = {
    require(cols.nonEmpty, "WRITE ORDERED BY needs at least one column")
    cols.flatMap(zorderOf).foreach(zc =>
      require(zc.nonEmpty && cols.size == 1,
        "zorder(…) must be the sort order's only entry and name ≥1 column"))
    metaWriteString(SortOrderFile,
      cols.mkString(",") + (if (files > 0) s"|$files" else ""))
  }

  /** `ALTER TABLE … WRITE UNORDERED` — future writes keep the incoming
    * frame's layout again. */
  def clearSortOrder(): Unit = metaDelete(SortOrderFile)

  /** Range-partition count override for ONE commit ([[compact]]'s bin-pack
    * target when the declared order doesn't pin its own count). Mutated and
    * cleared only under [[withRootLock]]. */
  private var pendingRangeFiles: Option[Int] = None

  private def rangeFileCount: Int =
    if (sortOrderFiles > 0) sortOrderFiles else pendingRangeFiles.getOrElse(0)

  /** The declared sort order applied to a commit frame: range-repartition
    * (disjoint per-file ranges) then sort within each file — for a
    * `zorder(…)` order, on the interleaved z-value over the named columns
    * ([[graft.ops.ScaleOps.zvalueCol]]), so every clustering column's
    * per-file range stays tight. Skipped conservatively when any sort
    * column is absent from the frame (schema evolution windows). */
  private def applySortOrder(df: DataFrame): DataFrame = {
    val so = sortOrder
    if (so.isEmpty) df
    else {
      val n = rangeFileCount
      def cluster(keys: Seq[Column]): DataFrame = {
        val ranged =
          if (n > 0) df.repartitionByRange(n, keys: _*)
          else df.repartitionByRange(keys: _*)
        ranged.sortWithinPartitions(keys: _*)
      }
      so.flatMap(zorderOf).headOption match {
        case Some(zcols) =>
          if (!zcols.forall(df.columns.contains) || df.isEmpty) df
          else {
            // zvalueCol's quantile pass is one bounded extra scan of the
            // COMMIT frame — the same setup cost Iceberg's zorder rewrite
            // pays; never O(table) beyond the data being written
            val z = graft.ops.ScaleOps.zvalueCol(df, zcols)
            val zname = "graft__zvalue"
            val withZ = df.withColumn(zname, z)
            val ranged =
              if (n > 0) withZ.repartitionByRange(n, col(zname))
              else withZ.repartitionByRange(col(zname))
            ranged.sortWithinPartitions(col(zname)).drop(zname)
          }
        case None =>
          if (!so.forall(df.columns.contains)) df else cluster(so.map(col))
      }
    }
  }

  /** Data-dir write with the store's partition spec and write sort order
    * applied (every data commit of a partitioned store lays out hive dirs;
    * key files don't). */
  private def writeDataDir(df: DataFrame, id: String): Long = {
    val (derived, pcols) = applyPartitionSpec(df)
    writeVersionDir(applySortOrder(derived), id, pcols, partitionSpec)
  }

  /** Per-file stats carried by the file's PARTITION PATH: each `k=v` dir
    * segment pins column k to the single value v (min = max), decoded as
    * the read path decodes it ([[partitionValueInternal]]) into the
    * canonical domain [[SnapshotTable.footerColumnStats]] uses. A hidden
    * time-transform column (`timeFields`: hidden column → its spec field)
    * also pins its SOURCE column to the tuple's UTC period
    * ([[FilePruning.sourceRange]]), so a source predicate prunes time
    * partitioned files even when the footer carries no usable stats for
    * it. Unparseable values contribute nothing (pruning stays
    * conservative). */
  private def partitionPathStats(rel: String, schema: StructType,
      timeFields: Map[String, FilePruning.SpecField]): Map[String, (String, String)] = {
    def field(name: String) = schema.fields.find(_.name.equalsIgnoreCase(name))
    rel.split('/').dropRight(1).toSeq.flatMap { seg =>
      val i = seg.indexOf('=')
      val raw = ExternalCatalogUtils.unescapePathName(seg.substring(i + 1))
      if (i <= 0 || raw == "__HIVE_DEFAULT_PARTITION__") Nil // null value
      else (for {
        f <- field(seg.substring(0, i))
        v <- partitionValueInternal(raw, f.dataType)
      } yield {
        val pin = v.toString
        val period = for {
          sf <- timeFields.get(f.name)
          src <- field(sf.source)
          (lo, hi) <- FilePruning.sourceRange(sf, src.dataType, pin.toLong)
        } yield src.name -> (lo.toString, hi.toString)
        (f.name -> (pin, pin)) +: period.toSeq
      }).getOrElse(Nil)
    }.toMap
  }

  private val ManifestDir = "_graft_manifest"
  private def manifestRel(id: String) = s"$ManifestDir/$id.tsv"

  // ── refs ───────────────────────────────────────────────────────────────

  /** Named refs (Iceberg branches/tags). Each ref WRITE is its own
    * immutable record `_graft_reflog/r-<b64url(name)>.<seq>.rec` holding
    * `name,kind,version`; per name the HIGHEST sequence wins, `dropped` is
    * a tombstone (the name is free for re-creation and its pins are
    * released), and each write GC's the name's superseded records. Writers
    * to different names never touch the same record; concurrent writers to
    * the SAME name race highest-seq-wins (last write wins). Refs pin
    * retention (expiry's reachability reads them), so a record is never
    * mutated in place: an in-place rewrite would open a window where a
    * concurrent expiry reads no ref and loses its pin. */
  private lazy val refRecords = new SnapshotTable.RecordDir(
    spark.sparkContext.hadoopConfiguration, _ => s"$root/_graft_reflog")
  private def refRecordPrefix(name: String) = "r-" +
    java.util.Base64.getUrlEncoder.withoutPadding
      .encodeToString(name.getBytes("UTF-8"))

  /** Test seam: invoked between readRefs' record LIST and its per-record
    * GETs — lets specs inject a concurrent [[writeRef]] (whose GC deletes
    * every record the LIST returned) into the exact window the re-list
    * recovery protects. Production: no-op. */
  private[sources] var afterRefsList: () => Unit = () => ()

  private def readRefs(): Map[String, (String, Long)] = {
    def parse(line: String): (String, (String, Long)) = {
      val m = line.split(",", 3)
      m(0) -> (m(1), m(2).toLong)
    }
    // One LIST + per-name GETs. Returns (resolved entries, true when some
    // listed name yielded NO readable record — the LIST-then-GET race with
    // a concurrent writeRef whose GC deleted every record the list
    // returned; the caller re-lists once and the fresh list contains the
    // writer's newer record). Without the retry a ref would transiently
    // VANISH, and an expiry in that window would lose its retention pin.
    def listOnce(): (Seq[(String, (String, Long))], Boolean) = {
      val listed = refRecords.list(root).map(_._1)
        .filter(n => n.startsWith("r-") && n.endsWith(".rec"))
      afterRefsList()
      var vanished = false
      val entries = listed
        .groupBy(_.split('.').head) // records of one name share a prefix
        .toSeq.sortBy(_._1)
        .flatMap { case (_, names) =>
          val best = names.sorted.reverseIterator
            .flatMap(n => refRecords.read(root, n)).nextOption()
            .map(raw => parse(raw.split('\n').head))
          if (best.isEmpty) vanished = true
          best
        }
      (entries, vanished)
    }
    val (first, vanished) = listOnce()
    (if (!vanished) first else listOnce()._1).toMap.filter(_._2._1 != "dropped")
  }

  private def writeRef(name: String, kind: String, v: Long): Unit = {
    // the ref record is comma-delimited and branch names ride inside
    // colon-delimited op markers — a name containing any of those would
    // corrupt every later read, so reject at write time
    require(name.nonEmpty && !name.exists(c => c == ',' || c == ':' || c == '\n' || c == '\r'),
      s"invalid ref name '$name': must be non-empty, no ',' ':' or line breaks")
    def mine() = "%s.%020d-%06d.rec".format(refRecordPrefix(name),
      System.currentTimeMillis(),
      SnapshotTable.refSeqCounter.getAndIncrement() % 1000000)
    // a same-millisecond name from another process is taken: next sequence
    val published = Iterator.continually(mine())
      .find(n => refRecords.publish(root, n, s"$name,$kind,$v\n")).get
    // GC of this name's superseded records — readers pick the highest seq,
    // so deleting lower ones is always safe
    refRecords.list(root).map(_._1)
      .filter(n => n.startsWith(refRecordPrefix(name) + ".") &&
        n.endsWith(".rec") && n < published)
      .foreach(refRecords.delete(root, _))
  }

  private def isBranchOp(op: String): Boolean = op.startsWith(BranchOpPrefix)

  /** Branch op → (name, subOp, parentVersion for delta appends). */
  private def branchOpParts(op: String): (String, String, Option[Long]) = {
    val p = op.split(":")
    (p(1), p(2), if (p.length > 3) Some(p(3).toLong) else None)
  }

  /** The version whose own data dir holds this entry's data (itself, unless
    * the entry is an alias commit). Only meaningful for entries that have a
    * single data dir (full-data and alias ops). */
  private def dataDirVersion(m: Meta): Long =
    if (m._3.startsWith(AliasOpPrefix)) m._3.split(":", 3)(1).toLong else m._1

  private def asOfTarget(op: String): Long = op.split(":", 3)(1).toLong

  private def encodeEvolve(parts: Seq[String]): String =
    EvolveOpPrefix + java.util.Base64.getEncoder.encodeToString(
      parts.mkString("\u001f").getBytes("UTF-8"))

  private def decodeEvolve(op: String): Seq[String] =
    new String(java.util.Base64.getDecoder.decode(op.stripPrefix(EvolveOpPrefix)),
      "UTF-8").split('\u001f').toSeq

  /** A main-lineage entry that is a RESTART POINT for chain resolution: its
    * content does not depend on earlier entries' dirs (full-data dir, alias
    * to a dir, or an asof pointer that resolution follows). Appends,
    * mor-deletes, and evolve commits are NOT restart points — they fold onto
    * the chain before them. */
  private def isRestart(op: String): Boolean =
    op != MorDeleteOp && !isPosDelete(op) && !isDeltaAppend(op) &&
      op != MorUpdateOp && op != MorMergeOp &&
      !op.startsWith(EvolveOpPrefix) && !isBranchOp(op)

  /** Main's head: the latest commit that is on main's lineage (branch
    * commits share the version sequence but not the lineage). */
  private def mainHead(meta: Seq[Meta]): Option[Long] =
    meta.filterNot(m => isBranchOp(m._3)).lastOption.map(_._1)

  private def nextVersion(meta: Seq[Meta]): Long =
    meta.lastOption.map(_._1 + 1).getOrElse(0L)

  // ── commit log ─────────────────────────────────────────────────────────
  //    One immutable record per commit, `_graft_log/v=N.rec` (or in the
  //    root's registered arbiter), holding `version,ts_ms,rows,dataId,op`:
  //    the op goes last so a caller's label may contain commas, and `-` is
  //    the data id of a metadata-only commit. The record names the commit's
  //    `data/<id>/` dir, so the log is the one version → dir map.

  private val LogRecordsDir = "_graft_log"
  private def logRecordName(v: Long) = s"v=$v.rec"

  private lazy val ownRecords = new SnapshotTable.RecordDir(
    spark.sparkContext.hadoopConfiguration, _ => s"$root/$LogRecordsDir")

  /** This root's log record store, looked up per call: an arbiter may be
    * registered after the instance was made. */
  private def records: SnapshotTable.ClaimArbiter =
    SnapshotTable.arbiterFor(root).getOrElse(ownRecords)

  private lazy val canonRoot = SnapshotTable.canonicalRoot(root)

  private def parseRecord(raw: String): LogRecord = {
    val m = raw.stripSuffix("\n").split(",", 5)
    ((m(0).toLong, m(1).toLong, m(4), m(2).toLong), Some(m(3)).filter(_ != "-"))
  }

  /** The log, oldest first: one listing, plus one read per record this JVM
    * has not parsed under its current stamp ([[SnapshotTable.logMemo]]). A
    * record deleted between the listing and its read (a concurrent expiry)
    * is skipped. */
  private def readLog(): Seq[LogRecord] = {
    val listed = records.list(canonRoot)
      .filter { case (n, _) => n.startsWith("v=") && n.endsWith(".rec") }
    // an empty log may still be another layout's store: its stamp refuses it
    if (!formatChecked && (listed.nonEmpty || metaExists(FormatFile))) requireFormat()
    val memo = SnapshotTable.logMemo.getOrDefault(canonRoot, Map.empty)
    val parsed = listed.flatMap { case (name, stamp) =>
      memo.get(name).filter(_._1 == stamp).orElse(
        records.read(canonRoot, name).map(raw => (stamp, parseRecord(raw))))
        .map(name -> _)
    }.toMap
    SnapshotTable.logMemo.put(canonRoot, parsed)
    parsed.values.map(_._2).toSeq.sortBy(_._1._1)
  }

  private def readMeta(): Seq[Meta] = readLog().map(_._1)

  /** Version `v`'s log record, from the log as last read here (read anew
    * when `v` is not in it). */
  private def recordOf(v: Long): Option[LogRecord] = {
    def memoized = Option(SnapshotTable.logMemo.get(canonRoot))
      .flatMap(_.get(logRecordName(v))).map(_._2)
    memoized.orElse { readLog(); memoized }
  }

  /** The data id of version `v`'s own dir. */
  private def idOf(v: Long): String = recordOf(v).flatMap(_._2).getOrElse(
    throw new IllegalStateException(s"no data dir for v=$v at $root"))

  /** The data files version `v`'s own commit wrote, from its manifest (none
    * for a metadata-only commit). */
  private[sources] def ownFiles(v: Long): Seq[SnapshotTable.ManifestFile] =
    recordOf(v).flatMap(_._2).fold(Seq.empty[SnapshotTable.ManifestFile])(
      manifestOf(_).files)

  private val DataDir = "data"
  private def dataDirOf(id: String) = s"$root/$DataDir/$id"

  /** Version `v`'s own data dir: the one version → path lookup. */
  private[graft] def versionDir(v: Long): String = dataDirOf(idOf(v))

  /** Commits that write no data: their record names no dir. */
  private def isMetadataOnly(op: String): Boolean =
    op.startsWith(AliasOpPrefix) || op.startsWith(AsOfOpPrefix) ||
      op.startsWith(EvolveOpPrefix)

  private val FormatFile = "_graft_format"

  /** Set once this instance has seen the right format stamp: the stamp is
    * written before the first log record and never changes, so one check
    * per instance covers every later read. */
  @volatile private var formatChecked = false

  private def requireFormat(): Unit = {
    val found =
      if (metaExists(FormatFile)) Some(metaReadString(FormatFile).trim) else None
    if (!found.contains(SnapshotTable.FormatVersion))
      throw new IllegalStateException(s"store at $root has format " +
        found.fold(s"(no $FormatFile file)")(f => s"'$f'") +
        s", expected '${SnapshotTable.FormatVersion}': this engine reads only that layout")
    formatChecked = true
  }

  private lazy val rootFs: org.apache.hadoop.fs.FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private lazy val rootIsLocal: Boolean = {
    val scheme = new Path(root).toUri.getScheme
    scheme == null || scheme == "file"
  }

  /** Per-root in-process lock: commits from concurrent threads of one JVM
    * serialize (cross-process writers are ordered by the record publish
    * alone). Keyed by the SAME canonical form the scan-stats map uses —
    * java.nio canonicalization garbles scheme'd roots (`s3a://b/x` →
    * `<cwd>/s3a:/b/x`), so two spellings of one remote root would take
    * different locks. */
  private def withRootLock[T](body: => T): T =
    SnapshotTable.rootLocks.computeIfAbsent(canonRoot, _ => new Object)
      .synchronized(body)

  /** Test seam: invoked after a commit's stage has written its data, before
    * each log read that precedes a record publish — lets specs inject
    * another process's commit into the window the publish loop handles.
    * Production: no-op. */
  private[sources] var beforeFinalHeadCheck: () => Unit = () => ()

  /** Delete what an unlogged commit wrote: its data dir (with any
    * `_graft_deletes` key file inside it), its manifest, the cached
    * manifest. */
  private def discardData(id: String): Unit = {
    rootFs.delete(new Path(dataDirOf(id)), true)
    metaDelete(manifestRel(id))
    manifestCache.synchronized { manifestCache.remove(id) }
  }

  /** The row count of a commit that leaves its head's rows as they were. */
  private val headRows: (Seq[Meta], Option[Long]) => Long =
    (log, head) => tableRowsAsOf(log, head.get)

  private def headOrThrow(head: Option[Long]): Long =
    head.getOrElse(throw new IllegalStateException(s"no snapshots at $root"))

  private def headConflict(basis: Basis, expected: Option[Long],
      now: Option[Long]): Nothing = {
    val which = basis match { case OnBranch(b) => s"branch $b's"; case _ => "main" }
    throw new SnapshotTable.CommitConflictException(
      s"commit conflict at $root: expected $which head $expected but found " +
        s"$now — the table changed since this operation read it; re-read and retry")
  }

  /** The one write protocol: every store write op commits through here.
    *  1. Under the root lock, read the log and `basis`'s head; a head the
    *     caller pinned that has already moved conflicts before any write.
    *  2. Run `stage(log, head, id)`: the op writes its data and key files
    *     under the fresh `data/<id>/`, and its manifest.
    *  3. Loop: read the log; conflict when a record logged since step 1
    *     moved `basis`'s head ([[Commutes]]: none does); evaluate the
    *     staged row count on that log; stamp `_graft_format` on an empty
    *     log; publish `v=N.rec`, N = last logged version + 1, unless a
    *     record of that name exists. A lost publish goes round again.
    *  4. Run the staged post-log step with the version that landed.
    * A throw before the record lands deletes `data/<id>/` and its
    * manifest; a conflict raises [[SnapshotTable.CommitConflictException]]
    * for the caller to re-read and retry.
    *
    * No lock spans processes: concurrent commits write disjoint dirs, and
    * the publish alone orders them, so the log holds every commit in the
    * order it landed and each row total is counted on the log beneath it.
    * Within one JVM the root lock serializes writers.
    *
    * A stage must not call another write op: the root lock is reentrant,
    * so a nested commit would go unnoticed. */
  private def transact(basis: Basis)(
      stage: (Seq[Meta], Option[Long], String) => Staged): Long = withRootLock {
    def headIn(log: Seq[Meta]): Option[Long] = basis match {
      case OnBranch(b) => Some(branchHead(b).getOrElse(
        throw new IllegalStateException(s"no branch $b at $root")))
      case _ => mainHead(log)
    }
    val meta = readMeta()
    val head = headIn(meta)
    val expected = basis match {
      case OnMain(Some(pinned)) => pinned
      case _                    => head
    }
    if (head != expected) headConflict(basis, expected, head)
    val readUpTo = meta.lastOption.fold(-1L)(_._1)
    val id = java.util.UUID.randomUUID().toString
    val (landed, staged) =
      try {
        val staged = stage(meta, head, id)
        val dataId = if (isMetadataOnly(staged.op)) None else Some(id)
        var landed = -1L
        while (landed < 0) {
          beforeFinalHeadCheck()
          val log = readMeta()
          val since = log.filter(_._1 > readUpTo)
          val now = headIn(log)
          val moved = basis match {
            case Commutes    => false
            case OnMain(_)   => since.exists(m => !isBranchOp(m._3))
            case OnBranch(b) => now != expected ||
              since.exists(m => isBranchOp(m._3) && branchOpParts(m._3)._1 == b)
          }
          if (moved) headConflict(basis, expected, now)
          val v = nextVersion(log)
          val line = s"$v,${System.currentTimeMillis()},${staged.rows(log, now)}," +
            s"${dataId.getOrElse("-")},${staged.op}\n"
          // a new store: stamp its format before its first log record
          if (log.isEmpty) metaWriteString(FormatFile, SnapshotTable.FormatVersion + "\n")
          if (records.publish(canonRoot, logRecordName(v), line)) landed = v
        }
        (landed, staged)
      } catch {
        case e: Throwable =>
          scala.util.Try(discardData(id))
          throw e
      }
    staged.afterLog(landed)
    landed
  }

  // ── data-dir write path (manifest-producing) ───────────────────────────

  /** Write `df` as data dir `id` and its manifest sidecar, reading
    * per-file record counts AND per-column (min, max) ranges from parquet
    * FOOTERS (driver-side, O(files just written) — the commit-time stats
    * pass Iceberg does when it writes manifests; the ranges are what
    * [[readWhere]] prunes files with). Returns the row count, so commits
    * never re-scan the data they just wrote. `partitionBy` lays the dir out
    * as `<col>=…/part-*.parquet` hive partitions (manifest names stay
    * relative, so stats and metadata scans see through the partition dirs). */
  private def writeVersionDir(df: DataFrame, id: String,
      partitionBy: Seq[String] = Nil, spec: Seq[String] = Nil): Long = {
    val stats = writeFiles(df, dataDirOf(id), partitionBy, spec)
    // the spec in force when these files were WRITTEN rides the manifest
    // (Iceberg's spec-id-per-file): transform-derived pruning conjuncts are
    // only sound against files whose recorded spec matches the derivation
    val specLine =
      if (spec.isEmpty) Nil
      else Seq("#spec\t" + java.util.Base64.getEncoder.encodeToString(
        spec.mkString(",").getBytes("UTF-8")))
    metaWriteString(manifestRel(id),
      ((schemaLine(SchemaTag, df.schema) +: specLine) ++ stats.map(fileLine))
        .mkString("", "\n", "\n"))
    stats.map(_.records).sum
  }

  /** Write `df` as parquet under `dir` and describe every file written:
    * name relative to `dir`, footer record count, byte size and column
    * ranges (footer stats win; partition-path values fill in the columns
    * hive layout removed from the files, plus a period range for a time
    * transform of `spec` on its source column when its own footer stats
    * are unavailable). */
  private def writeFiles(df: DataFrame, dir: String, partitionBy: Seq[String],
      spec: Seq[String] = Nil): Seq[SnapshotTable.ManifestFile] = {
    // identity TIMESTAMP partition dirs are formatted in the writer's
    // `timeZone` option (else the session zone): UTC keeps them zone-free
    val w = df.write.mode("overwrite").option("timeZone", "UTC")
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(dir)
    val hconf = spark.sparkContext.hadoopConfiguration
    val base = new Path(dir)
    val timeFields = spec.map(FilePruning.parseSpecEntry)
      .filter(sf => Set("day", "month", "year", "hour")(sf.kind))
      .map(sf => hiddenColOf(sf.kind) -> sf).toMap
    SnapshotTable.listVisibleFiles(base.getFileSystem(hconf), base).map {
      case (rel, st) =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, hconf))
        try SnapshotTable.ManifestFile(rel, reader.getRecordCount, st.getLen,
          partitionPathStats(rel, df.schema, timeFields) ++
            SnapshotTable.footerColumnStats(reader.getFooter))
        finally reader.close()
    }
  }

  /** Manifest line tags: `#schema` heads every manifest; a mor UPDATE/MERGE
    * manifest also records its claimed-key files (`_graft_deletes/`) as a
    * `#keyschema` line plus one `#keyfile` line per file, so readers plan
    * the key files without listing the dir or inferring their schema.
    * Readers that predate a tag skip it (every `#` line is a header). */
  private val SchemaTag = "#schema"
  private val KeySchemaTag = "#keyschema"
  private val KeyFileTag = "#keyfile"

  private def schemaLine(tag: String, schema: StructType): String =
    tag + "\t" + java.util.Base64.getEncoder.encodeToString(
      schema.json.getBytes("UTF-8"))

  private def fileLine(f: SnapshotTable.ManifestFile): String =
    s"${f.name}\t${f.records}\t${f.bytes}\t${SnapshotTable.encodeStats(f.stats)}"

  /** Write a mor UPDATE/MERGE commit's claimed keys into data dir `id`'s
    * `_graft_deletes/` (only when `nonEmpty`: a commit that claimed nothing
    * writes no key file) and add their record to `id`'s manifest. Runs
    * before the commit is logged, so crash debris is the unlogged dir and
    * manifest, which removeOrphans reclaims together. */
  private def writeKeyFiles(id: String, keys: DataFrame, nonEmpty: Boolean): Unit = {
    val files = if (nonEmpty) writeFiles(keys, keysDirOf(id), Nil) else Nil
    metaWriteString(manifestRel(id), metaReadString(manifestRel(id)) +
      (schemaLine(KeySchemaTag, keys.schema) +: files.map(f =>
        KeyFileTag + "\t" + fileLine(f))).mkString("", "\n", "\n"))
    manifestCache.synchronized { manifestCache.remove(id) }
  }

  /** Per-instance manifest cache: a version's manifest is immutable once
    * its commit is logged (expiry deletes it, but then the version is
    * unreadable anyway), and resolution probes it from both the
    * base-selection scan and the delta-batching pass — a 500-delta chain
    * must not re-open 1000 files. Synchronized: concurrent committers
    * share the instance. */
  private val manifestCache =
    scala.collection.mutable.HashMap.empty[String, SnapshotTable.Manifest]

  private def manifestOf(id: String): SnapshotTable.Manifest =
    manifestCache.synchronized {
      manifestCache.getOrElseUpdate(id, readManifestUncached(id))
    }

  /** The manifest written with version `v`'s data dir: (schema, per-file
    * name/records/bytes/column-ranges). */
  private[sources] def readManifest(v: Long): (StructType, Seq[SnapshotTable.ManifestFile]) = {
    val m = manifestOf(idOf(v))
    (m.schema, m.files)
  }

  /** Every data dir has a manifest headed by `#schema` whose file lines
    * carry four fields; anything else is not this store's format. */
  private def readManifestUncached(id: String): SnapshotTable.Manifest = {
    def corrupt(what: String) = new IllegalStateException(
      s"manifest of data dir $id at $root $what")
    if (!metaExists(manifestRel(id))) throw corrupt(s"is missing (${manifestRel(id)})")
    val lines = metaReadLines(manifestRel(id))
    def payload(l: String) = new String(
      java.util.Base64.getDecoder.decode(l.split("\t", 2)(1)), "UTF-8")
    def schemaOf(l: String) =
      DataType.fromJson(payload(l)).asInstanceOf[StructType]
    def fileOf(l: String) = l.split("\t", 4) match {
      case Array(name, records, bytes, stats) => SnapshotTable.ManifestFile(
        name, records.toLong, bytes.toLong, SnapshotTable.decodeStats(stats))
      case _ => throw corrupt(s"has a file line without its stats field: $l")
    }
    val head = lines.headOption.filter(_.startsWith(SchemaTag + "\t"))
      .getOrElse(throw corrupt(s"does not start with a $SchemaTag record"))
    val spec = lines.find(_.startsWith("#spec\t")).map(l =>
      splitSpecEntries(payload(l)))
    val keys = lines.find(_.startsWith(KeySchemaTag + "\t")).map(l =>
      (schemaOf(l), lines.filter(_.startsWith(KeyFileTag + "\t"))
        .map(k => fileOf(k.stripPrefix(KeyFileTag + "\t")))))
    SnapshotTable.Manifest(schemaOf(head),
      lines.drop(1).filterNot(_.startsWith("#")).map(fileOf), spec, keys)
  }

  /** Version `v`'s own data dir as a DataFrame. An EMPTY commit (zero data
    * files — e.g. a truncate) reads back as an empty frame with the schema
    * the manifest recorded, where a bare parquet read would fail. Every
    * other dir plans over [[ManifestFileIndex]], so pushed-down predicates
    * skip files at physical-planning time on EVERY read path. */
  private def readVersionDir(v: Long): DataFrame = readDataDir(idOf(v))

  private def readDataDir(id: String): DataFrame = {
    val m = manifestOf(id)
    if (m.files.isEmpty) spark.createDataFrame(spark.sparkContext.emptyRDD[Row], m.schema)
    else manifestRelation(Seq(id)).getOrElse(keptFrame(m.schema, m.files.map(id -> _)))
  }

  /** A hive partition-dir value string in Catalyst INTERNAL form for the
    * declared column type — None for types the layout never produces (the
    * caller then falls back to Spark's own partition discovery). */
  private def partitionValueInternal(raw: String,
      dt: DataType): Option[Any] = dt match {
    case StringType  => Some(org.apache.spark.unsafe.types.UTF8String.fromString(raw))
    case IntegerType => raw.toIntOption
    case LongType    => raw.toLongOption
    case ShortType   => raw.toShortOption
    case ByteType    => raw.toByteOption
    case BooleanType => raw.toBooleanOption
    case DoubleType  => raw.toDoubleOption
    case FloatType   => raw.toFloatOption
    case DateType =>
      scala.util.Try(java.time.LocalDate.parse(raw).toEpochDay.toInt).toOption
    case TimestampType =>
      // store writes format timestamp partition values in UTC (writeFiles)
      org.apache.spark.sql.catalyst.util.DateTimeUtils.stringToTimestamp(
        org.apache.spark.unsafe.types.UTF8String.fromString(raw),
        java.time.ZoneOffset.UTC)
    case _ => None
  }

  /** The given data dirs as ONE manifest-backed parquet relation over
    * every manifest-listed file ([[filesRelation]]). None when schemas
    * differ across dirs or [[filesRelation]] declines the layout; the
    * caller's fallback read only costs the pruning, never correctness. */
  private def manifestRelation(ids: Seq[String]): Option[DataFrame] = {
    val manifests = ids.map(id => id -> manifestOf(id))
    val schema = manifests.head._2.schema
    if (manifests.exists(_._2.schema.json != schema.json)) return None
    filesRelation(schema,
      manifests.flatMap { case (id, m) => m.files.map(dataDirOf(id) -> _) },
      ids, recordScans = true)
  }

  /** Manifest-recorded files as ONE parquet relation planned from the
    * recorded `schema`: a [[ManifestFileIndex]] over the files (qualified
    * path, byte size, column ranges, parsed partition values) under a
    * HadoopFsRelation, so Spark's `FileSourceStrategy` consults the
    * manifests — never the filesystem, never a schema-inference job — and
    * pushed-down filters prune files before the scan plans. This is what
    * makes file skipping happen on the PLAIN read paths (reference
    * clinicdata.sql:38-39: a day query reads one partition no matter who
    * asks), where [[readWhere]] serves callers that want the
    * eagerly-measured variant.
    *
    * `files` pairs each file with the dir its manifest name is relative
    * to; `ids` are the data dirs read (transform-derivation soundness). `recordScans = false` is for pruned subsets and key
    * files: the scan records nothing into [[SnapshotTable.scanStats]]
    * ([[lastPruneStats]] counted the subset eagerly) and every field reads
    * nullable, nested ones too, as the schema-inferring reads of these
    * paths always reported.
    *
    * None when there are no files, or the partition layout is inconsistent
    * / carries a value the declared type cannot parse. */
  private def filesRelation(schema: StructType,
      files: Seq[(String, SnapshotTable.ManifestFile)], ids: Seq[String],
      recordScans: Boolean): Option[DataFrame] = {
    if (files.isEmpty) return None
    def dirPairs(name: String): Seq[(String, String)] =
      name.split('/').dropRight(1).toSeq.map { seg =>
        val i = seg.indexOf('=')
        if (i <= 0) ("", seg)
        else (seg.substring(0, i),
          ExternalCatalogUtils.unescapePathName(seg.substring(i + 1)))
      }
    val partKeys = dirPairs(files.head._2.name).map(_._1)
    if (partKeys.exists(_.isEmpty)) return None
    if (files.exists(f => dirPairs(f._2.name).map(_._1) != partKeys)) return None
    val partFieldOpts = partKeys.map(k =>
      schema.fields.find(_.name.equalsIgnoreCase(k)))
    if (partFieldOpts.exists(_.isEmpty)) return None
    def readable(f: StructField) =
      if (recordScans) f.copy(nullable = true)
      else f.copy(dataType = SnapshotTable.allNullable(f.dataType), nullable = true)
    val partitionSchema = StructType(partFieldOpts.flatten.map(readable))
    val dataSchema = StructType(schema.fields.filterNot(f =>
      partKeys.exists(_.equalsIgnoreCase(f.name))).map(readable))
    if (dataSchema.isEmpty) return None
    val hconf = spark.sparkContext.hadoopConfiguration
    val fsys = new Path(root).getFileSystem(hconf)
    val entryOpts: Seq[Option[ManifestFileEntry]] = files.map { case (dir, f) =>
      val pairs = dirPairs(f.name)
      val valueOpts = pairs.zip(partitionSchema.fields).map { case ((_, raw), fld) =>
        if (raw == "__HIVE_DEFAULT_PARTITION__") Some(null)
        else partitionValueInternal(raw, fld.dataType)
      }
      if (valueOpts.exists(_.isEmpty)) None
      else Some(ManifestFileEntry(
        fsys.makeQualified(new Path(s"$dir/${f.name}")), f.bytes, f.stats,
        pairs.map(p => s"${p._1}=${p._2}").mkString("/"),
        org.apache.spark.sql.catalyst.InternalRow.fromSeq(valueOpts.map(_.get))))
    }
    if (entryOpts.exists(_.isEmpty)) return None
    val index = new ManifestFileIndex(spark, root, schema, partitionSchema,
      entryOpts.flatten, conj => transformConjuncts(schema, conj, ids),
      recordScans)
    val rel = org.apache.spark.sql.execution.datasources.HadoopFsRelation(
      index, partitionSchema, dataSchema, None,
      new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat(),
      Map.empty)(spark)
    // restore the DECLARED column order: a hive layout physically moves
    // partition columns to the end, but readers must see the schema as
    // committed (Iceberg preserves column order under any partition spec)
    Some(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .baseRelationToDataFrame(rel)
      .select(schema.fields.map(f => col(f.name)).toSeq: _*))
  }

  /** Some of the manifest files of one or more version dirs (a pruned
    * subset), planned from the recorded schema: no listing, no inference
    * job. `wrap` annotates each scan frame (pos-delete provenance must be
    * taken on a file-source relation, before any union). A layout
    * [[filesRelation]] declines reads per dir with the schema given
    * explicitly, partition columns recovered from the hive dirs. */
  private def keptFrame(schema: StructType,
      kept: Seq[(String, SnapshotTable.ManifestFile)],
      wrap: DataFrame => DataFrame = identity): DataFrame =
    filesRelation(schema, kept.map { case (id, f) => dataDirOf(id) -> f },
      kept.map(_._1).distinct, recordScans = false).map(wrap).getOrElse(
      kept.map(_._1).distinct.map(id => id -> kept.filter(_._1 == id)).map { case (id, fs) =>
        wrap(inSchemaOrder(schema, spark.read
          .schema(SnapshotTable.allNullable(schema).asInstanceOf[StructType])
          .option("basePath", dataDirOf(id))
          .option("timeZone", "UTC")
          .parquet(fs.map(f => s"${dataDirOf(id)}/${f._2.name}"): _*)))
      }.reduce(_.unionByName(_, allowMissingColumns = true)))

  // ── resolution ─────────────────────────────────────────────────────────

  /** Head of MAIN (side-branch commits are not main's lineage). */
  def currentVersion: Option[Long] = mainHead(readMeta())

  /** Cheap driver-side identity of the commit-log head:
    * (version, committed_at_ms) of the LAST log line, None for an empty
    * log. Unlike a bare version number this survives deleting and
    * recreating a store at the same path (the version counter restarts
    * but the commit timestamp differs), so it is the correct key for
    * cross-serve memoization (IvfIndex, r21 review finding). */
  private[graft] def headIdentity: Option[(Long, Long)] =
    readMeta().lastOption.map(m => (m._1, m._2))

  // ── streaming-read support (graft.streaming.SnapshotSource) ────────────

  /** Every commit-log entry as `(version, op)`, oldest first — the
    * streaming READ path's planning input. One driver-side read of the
    * commit log: O(commits), never O(data). */
  private[graft] def commitOps(): Seq[(Long, String)] =
    readMeta().map(m => (m._1, m._3))

  /** How one commit-log entry affects an incremental APPEND consumer
    * (Iceberg's Spark streaming-read taxonomy):
    *  - `"append"`: a delta-append commit — its own dir IS the batch payload
    *  - `"noop"`: logically invisible to an append stream — `compact`
    *    rewrites existing rows without changing them, `evolve:` is
    *    metadata-only, `branch:` commits live on another lineage
    *  - `"mutation"`: anything that changes or replaces existing rows
    *    (overwrite, truncate, row-level DML, rollback, WAP publish) — an
    *    append stream must fail loudly or be told to skip these. */
  private[graft] def streamOpKind(op: String): String =
    if (isDeltaAppend(op)) "append"
    else if (op == "compact" || op.startsWith(EvolveOpPrefix) || isBranchOp(op)) "noop"
    else "mutation"

  /** Version `v`'s own delta dir, manifest-backed and schema-ordered — the
    * payload of one streamed append batch. Version dirs are immutable, so
    * a checkpoint replay of the same version range rebuilds byte-identical
    * batches (until `expireSnapshots` retires them, which breaks replay the
    * same way it breaks time travel — loudly). */
  private[graft] def appendDelta(v: Long): DataFrame = readVersionDir(v)

  /** Columns an evolve commit introduces under a NEW name (ADD's column,
    * RENAME's target) — what a running stream's pinned schema cannot carry
    * until restart; the streaming source's schema-drift detector. Empty for
    * every other op (widen keeps its name: the conform try_cast guard owns
    * that case). */
  private[graft] def evolveNewColumns(op: String): Seq[String] =
    if (!op.startsWith(EvolveOpPrefix)) Nil
    else decodeEvolve(op) match {
      case Seq("add", name, _)  => Seq(name)
      case Seq("rename", _, to) => Seq(to)
      case _                    => Nil
    }

  /** Is this a schema-evolution commit at all? */
  private[graft] def isEvolveOp(op: String): Boolean =
    op.startsWith(EvolveOpPrefix)

  /** The (old, new) names of a RENAME evolve commit — what
    * `IcebergExport.syncStore` mirrors metadata-only (the field id
    * carries under the new name). */
  private[graft] def evolveRenamePair(op: String): Option[(String, String)] =
    if (!op.startsWith(EvolveOpPrefix)) None
    else decodeEvolve(op) match {
      case Seq("rename", o, n) => Some((o, n))
      case _                   => None
    }

  /** The commit-log op string a `renameColumn(o, n)` records — the replay
    * marker `IcebergExport.syncFromTable`'s staged-rename mirror checks
    * (a pure swap leaves the NAME SET unchanged, so completion is only
    * visible in the op history). */
  private[graft] def renameOpString(o: String, n: String): String =
    encodeEvolve(Seq("rename", o, n))

  /** The new spec of a PARTITION evolve commit (store grammar entries;
    * empty = partitioning dropped) — what `IcebergExport.syncStore`
    * mirrors as a chain spec evolution. */
  private[graft] def evolvePartitionSpec(op: String): Option[Seq[String]] =
    if (!op.startsWith(EvolveOpPrefix)) None
    else decodeEvolve(op) match {
      case Seq("partition", csv) =>
        // entries themselves contain commas ("bucket(2, id)") — split on
        // top-level commas only
        val out = scala.collection.mutable.ArrayBuffer.empty[String]
        val cur = new StringBuilder
        var depth = 0
        csv.foreach {
          case ',' if depth == 0 => out += cur.toString; cur.clear()
          case c =>
            if (c == '(') depth += 1
            if (c == ')') depth -= 1
            cur += c
        }
        out += cur.toString
        Some(out.toSeq.map(_.trim).filter(_.nonEmpty))
      case Seq("partition") => Some(Nil)
      case _ => None
    }

  /** The (column, target type) a WIDENING evolve commit promotes, if any —
    * the adopt-on-evolve rollover boundary check for type widening. */
  private[graft] def evolveWidenedColumn(op: String): Option[(String, DataType)] =
    if (!op.startsWith(EvolveOpPrefix)) None
    else decodeEvolve(op) match {
      case Seq("widen", name, ddl) => Some(name -> DataType.fromDDL(ddl))
      case _                       => None
    }

  /** The (parent, child) of a NESTED-ADD evolve commit — a rollover
    * boundary like a top-level ADD: a pinned schema whose struct lacks the
    * subfield restarts to adopt it. */
  private[graft] def evolveNestedAdd(op: String): Option[(String, String)] =
    if (!op.startsWith(EvolveOpPrefix)) None
    else decodeEvolve(op) match {
      case Seq("addnested", p, c, _) => Some((p, c))
      case _                         => None
    }

  /** The (parent, path, newName) of a NESTED-RENAME evolve commit — what
    * `IcebergExport.syncStore` mirrors as a chain nested rename (dotted
    * renames map), field id carried. */
  private[graft] def evolveNestedRenamePair(op: String)
      : Option[(String, String, String)] =
    if (!op.startsWith(EvolveOpPrefix)) None
    else decodeEvolve(op) match {
      case Seq("renamenested", p, path, to) => Some((p, path, to))
      case _                                => None
    }

  /** The (parent, path) a nested MUTATION evolve commit (rename/drop/widen
    * inside a struct) touches — the streaming source's rollover-boundary
    * and drift probe for struct drift a pinned schema cannot carry. */
  private[graft] def evolveNestedMutation(op: String)
      : Option[(String, String, String)] =
    if (!op.startsWith(EvolveOpPrefix)) None
    else decodeEvolve(op) match {
      case Seq("renamenested", p, path, _) => Some((p, path, "rename"))
      case Seq("dropnested", p, path)      => Some((p, path, "drop"))
      case Seq("widennested", p, path, _)  => Some((p, path, "widen"))
      case _                               => None
    }

  /** Is this op on MAIN's lineage (a valid time-travel anchor)? Branch
    * commits share the version counter but not the lineage. */
  private[graft] def isMainLineageOp(op: String): Boolean = !isBranchOp(op)

  /** Commit a new snapshot. `op = "append"` is O(DELTA): only `df` is
    * written (a new delta dir + manifest); readers union live deltas onto
    * the base and `compact()` folds them — the Iceberg append cost model
    * (reference spark.py:88-89). Any other op is copy-on-write: `df` IS the
    * new full snapshot. Appends support SCHEMA EVOLUTION (the Iceberg
    * behavior this mirrors): new columns may appear and old columns may be
    * absent — resolution unions by name with missing columns null-filled,
    * and the resolved snapshot carries the widened schema. Row counts come
    * from the commit-time manifest (parquet footers), never a re-scan. */
  def commit(df: DataFrame, op: String = "overwrite"): Long =
    commit(df, op, expectedHead = None)

  /** [[commit]] with optimistic conflict detection: when `expectedHead` is
    * given, the commit lands only while main's head is still exactly that
    * value — raising [[SnapshotTable.CommitConflictException]] (and
    * deleting what it wrote) if another writer moved it. Pass the head the operation's data was READ
    * from; ops whose result doesn't depend on prior state pass None. */
  def commit(df: DataFrame, op: String, expectedHead: Option[Option[Long]]): Long =
    transact(expectedHead.fold[Basis](Commutes)(e => OnMain(Some(e)))) {
      (_, _, id) =>
        val written = writeDataDir(df, id)
        Staged(op, (log, head) =>
          if (isDeltaAppend(op)) head.fold(0L)(tableRowsAsOf(log, _)) + written
          else written)
    }

  /** Declare the store's partition spec (identity columns and/or the
    * Iceberg transforms [[FilePruning.validateSpecEntry]] admits) and
    * commit `df` under it. The spec persists: every later commit (appends,
    * mor replacement files, streaming micro-batches, compaction) lays its
    * data out in the same hive partition dirs, so partition pruning holds
    * across the whole chain. Readers never see the hidden transform
    * columns (Iceberg's hidden-partitioning contract — predicates stay on
    * the source column itself). */
  def commitPartitioned(df: DataFrame, spec: Seq[String],
      op: String = "overwrite",
      expectedHead: Option[Option[Long]] = None): Long = {
    require(spec.nonEmpty, "commitPartitioned needs at least one spec entry")
    spec.foreach(FilePruning.validateSpecEntry(df.schema, _))
    metaWriteString(PartitionSpecFile, spec.mkString(","))
    commit(df, op, expectedHead)
  }

  /** Table row count as of version `v`: the total its commit logged. */
  private def tableRowsAsOf(meta: Seq[Meta], v: Long): Long =
    meta.find(_._1 == v).getOrElse(
      throw new IllegalStateException(s"no snapshot v=$v at $root"))._4

  /** Read latest, or `VERSION AS OF` when a version is given.
    *
    * Resolution walks back to the nearest RESTART POINT (full-data dir,
    * alias, or asof pointer), then folds every later main-lineage entry in
    * commit order: append deltas union on (by name, null-filling — schema
    * evolution), mor-delete key files apply as broadcast anti-joins (the
    * delete sets are small by the mode's own selection criterion, so the
    * plan is a map-only scan over the base with no data-side shuffle), and
    * evolve entries apply their schema change. */
  def read(versionAsOf: Option[Long] = None): DataFrame = {
    val meta = readMeta()
    val v = versionAsOf.orElse(mainHead(meta))
      .getOrElse(throw new IllegalStateException(s"no snapshots at $root"))
    resolveVersion(meta, v, None).drop(hiddenReadCols: _*)
  }

  /** Pruned read: like [[read]] with `.filter(pred)`, but MANIFEST COLUMN
    * STATS skip whole data files whose (min, max) ranges exclude the
    * predicate BEFORE the scan plans — Iceberg's core scan optimization. At
    * 100 TB a selective predicate over a sorted/clustered store reads the
    * few files that can match instead of listing-and-scanning every live
    * file. Pruning is inclusive (any uncertainty keeps the file) and the
    * residual filter always applies, so results are identical to
    * `read().filter(pred)`; [[lastPruneStats]] reports (kept, total) data
    * files for plan audits. */
  def readWhere(pred: Column, versionAsOf: Option[Long] = None): DataFrame = {
    val meta = readMeta()
    val v = versionAsOf.orElse(mainHead(meta))
      .getOrElse(throw new IllegalStateException(s"no snapshots at $root"))
    val resolved = resolveVersion(meta, v, None)
    val conj0 = SnapshotTable.conjunctsOf(resolved, pred)
    // derivation soundness is checked against the dirs THIS read resolves
    // (O(chain)), never the full commit log (O(history))
    val conj = transformConjuncts(resolved.schema, conj0,
      dataDirsOf(meta, v).map(idOf))
    pruneKept = 0L; pruneTotal = 0L
    resolveVersion(meta, v, Some(conj)).filter(pred).drop(hiddenReadCols: _*)
  }

  /** (data files scanned, data files live) of the most recent [[readWhere]]
    * on this instance — the file-skipping measure specs and plan audits
    * require() on. */
  def lastPruneStats: (Long, Long) = (pruneKept, pruneTotal)

  private var pruneKept = 0L
  private var pruneTotal = 0L

  /** A frame's columns reordered to the manifest-declared schema order (a
    * hive-partitioned read appends partition columns at the end; readers
    * must see the committed order). Only reorders — never adds, drops, or
    * retypes; a frame missing declared columns passes through untouched. */
  private def inSchemaOrder(schema: StructType, df: DataFrame): DataFrame = {
    val have = df.columns.map(_.toLowerCase).toSet
    val wanted = schema.fields.map(_.name)
    if (wanted.forall(c => have(c.toLowerCase)) && have.size == wanted.length &&
        df.columns.toSeq != wanted.toSeq)
      df.select(wanted.map(col).toSeq: _*)
    else df
  }

  /** Version `v`'s own data dir, file-pruned by `conj` on its manifest's
    * column stats; a partial file list plans from the manifest
    * ([[keptFrame]]), partition columns included. */
  private def readVersionDirPruned(v: Long, prune: Option[Seq[Expression]]): DataFrame =
    prune match {
      case Some(cs) =>
        val (schema, files) = readManifest(v)
        val kept = SnapshotTable.keptFiles(schema, files, cs)
        pruneKept += kept.size; pruneTotal += files.size
        if (kept.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
        else if (kept.size == files.size) readVersionDir(v)
        else keptFrame(schema, kept.map(idOf(v) -> _))
      case None => readVersionDir(v)
    }

  /** Does applying this evolve op make earlier files' column stats
    * untrustworthy for pruning by post-evolution names? A rename (or a drop,
    * which frees the name for a later add) can alias an OLD column's stats
    * to a NEW column; widening changes the value domain. Adds are safe. */
  private def evolveBlocksPruning(op: String): Boolean =
    op.startsWith(EvolveOpPrefix) && (decodeEvolve(op).headOption match {
      case Some("rename") | Some("drop") | Some("widen") => true
      // adds are safe; a partition-spec change never renames a column and
      // every file's stats were recorded from the layout it was actually
      // written under, so STATS pruning across the spec boundary stays
      // sound. Spec-DERIVED conjuncts (hidden-bucket equality) are the one
      // exception — they are gated per-file by the manifest-recorded spec
      // in bucketDerivationSound, not here
      case _ => false
    })

  /** Provenance annotation for pos-delete-aware resolution: each row of a
    * file-backed frame gains its parquet file path and in-file row index
    * from Spark's `_metadata` column. Frames with no file source (empty
    * commits) null-fill — a null never equi-joins, so such rows are simply
    * immune to position deletes, which is exactly right (they came from no
    * file a delete file could name). */
  private def withPosCols(df: DataFrame): DataFrame =
    if (df.columns.contains(FileCol)) df
    else scala.util.Try(df.select(col("*"),
        col("_metadata.file_path").as(FileCol),
        col("_metadata.row_index").as(PosCol))).getOrElse(
      df.withColumn(FileCol, lit(null).cast(StringType))
        .withColumn(PosCol, lit(null).cast(LongType)))

  private def resolveVersion(meta: Seq[Meta], v: Long,
      prune: Option[Seq[Expression]], withPos: Boolean = false): DataFrame = {
    val entry = meta.find(_._1 == v).getOrElse(
      throw new IllegalStateException(s"no snapshot v=$v at $root"))
    if (isBranchOp(entry._3)) {
      val (_, subOp, parent) = branchOpParts(entry._3)
      if (subOp == DeltaAppendOp)
        resolveVersion(meta, parent.get, prune)
          .unionByName(readVersionDirPruned(v, prune), allowMissingColumns = true)
      else readVersionDirPruned(v, prune)
    } else {
      // branch commits share the version sequence but not main's lineage:
      // when resolving a main version they are invisible (a branch commit
      // must never be picked as a base, nor folded as a delta/delete file)
      val upTo = meta.filter(m => m._1 <= v && !isBranchOp(m._3))
      val baseIdx = upTo.lastIndexWhere(m => isRestart(m._3))
      val (start, tail) =
        if (baseIdx < 0) (None, upTo) else (Some(upTo(baseIdx)), upTo.drop(baseIdx + 1))
      // a rename/drop/widen evolve inside this window makes pre-evolve file
      // stats unreliable under post-evolve names — disable pruning for the
      // whole window (conservative; correctness beats a skipped file)
      val p = if (tail.exists(m => evolveBlocksPruning(m._3))) None else prune
      // pos-deletes in the window need every DATA frame annotated with its
      // rows' (file, pos) provenance from the base onward, so the delete
      // files can anti-join
      val posNeeded = withPos || tail.exists(m => isPosDelete(m._3))
      def posWrap(df: DataFrame): DataFrame =
        if (posNeeded) withPosCols(df) else df
      val base: Option[DataFrame] = start.map { m =>
        if (m._3.startsWith(AsOfOpPrefix))
          resolveVersion(meta, asOfTarget(m._3), p, posNeeded)
        else posWrap(readVersionDirPruned(dataDirVersion(m), p))
      }
      batchDeltaRuns(tail).foldLeft(base) {
        case (acc, Right(run)) =>
          // one multi-dir parquet relation for the whole same-schema run: a
          // long ingest chain plans as ONE scan node, not an N-way union —
          // Iceberg likewise plans one scan over all live data files
          val df = p match {
            case Some(cs) =>
              val perDir = run.map { m =>
                val (schema, files) = readManifest(m._1)
                val kept = SnapshotTable.keptFiles(schema, files, cs)
                pruneKept += kept.size; pruneTotal += files.size
                (schema, kept.map(idOf(m._1) -> _))
              }
              val kept = perDir.flatMap(_._2)
              if (kept.isEmpty)
                spark.createDataFrame(spark.sparkContext.emptyRDD[Row], perDir.head._1)
              else keptFrame(perDir.head._1, kept, posWrap)
            case None => manifestRelation(run.map(m => idOf(m._1))).getOrElse(
              keptFrame(readManifest(run.head._1)._1, run.flatMap(m =>
                readManifest(m._1)._2.map(idOf(m._1) -> _)), posWrap))
          }
          Some(acc.map(_.unionByName(posWrap(df), allowMissingColumns = true))
            .getOrElse(posWrap(df)))
        case (acc, Left(m)) => Some(applyChainOp(acc, m, p, posNeeded))
      }.orElse {
        // chain of NOTHING but zero-row deltas (batchDeltaRuns drops them):
        // an empty frame with the latest delta's manifest schema
        tail.reverseIterator.collectFirst {
          case m if isDeltaAppend(m._3) => posWrap(readVersionDir(m._1))
        }
      }.getOrElse(throw new IllegalStateException(
        s"no data at or before v=$v at $root"))
    }
  }

  /** Group CONSECUTIVE append-delta entries whose manifests carry the SAME
    * schema into runs (Right); everything else stays a single step (Left).
    * Empty deltas (a zero-row append) are dropped outright — they contribute
    * no rows and an all-empty multi-dir read could not infer a schema. */
  private def batchDeltaRuns(tail: Seq[Meta]): Seq[Either[Meta, Seq[Meta]]] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Either[Meta, Seq[Meta]]]
    val run = scala.collection.mutable.ArrayBuffer.empty[(Meta, String)]
    def flush(): Unit = if (run.nonEmpty) {
      out += (if (run.length == 1) Left(run.head._1) else Right(run.map(_._1).toSeq))
      run.clear()
    }
    tail.foreach { m =>
      if (!isDeltaAppend(m._3)) { flush(); out += Left(m) }
      else {
        val (schema, files) = readManifest(m._1)
        if (files.nonEmpty) { // a zero-row delta is a no-op in the union
          val json = schema.json
          if (run.nonEmpty && run.head._2 != json) flush()
          run += ((m, json))
        }
      }
    }
    flush()
    out.toSeq
  }

  private def applyChainOp(acc: Option[DataFrame], m: Meta,
      prune: Option[Seq[Expression]], posNeeded: Boolean = false): DataFrame = {
    def posWrap(df: DataFrame): DataFrame =
      if (posNeeded) withPosCols(df) else df
    m._3 match {
    case op if isDeltaAppend(op) =>
      val delta = posWrap(readVersionDirPruned(m._1, prune))
      acc.map(_.unionByName(delta, allowMissingColumns = true)).getOrElse(delta)
    case MorDeleteOp =>
      // delete-KEY files are never pruned: they remove base rows regardless
      // of the read predicate (only data-contributing dirs may be skipped)
      val del = readVersionDir(m._1)
      // the delete file's COLUMNS are the equality-delete key (one or many —
      // Iceberg equality deletes are multi-column); NULL-SAFE equality, the
      // way IcebergExport.readTable applies equality-delete files — a
      // foreign delete file may carry NULL key values and must delete
      // null-keyed rows here too, or the mirror drifts from the chain
      val df = acc.getOrElse(throw new IllegalStateException(
        s"mor-delete v=${m._1} has no base snapshot at $root"))
      df.join(broadcast(del),
        del.columns.map(c => df(c) <=> del(c)).reduce(_ && _), "left_anti")
    case op2 if isPosDelete(op2) =>
      // the delete file's columns ARE the provenance pair (graft__file,
      // graft__pos); the base carries them because posNeeded covered this
      // window — one broadcast anti-join, exactly the equality-delete plan
      val del = readVersionDir(m._1)
      val df = acc.getOrElse(throw new IllegalStateException(
        s"pos-delete v=${m._1} has no base snapshot at $root"))
      df.join(broadcast(del), del.columns.toSeq, "left_anti")
    case MorUpdateOp =>
      val df = acc.getOrElse(throw new IllegalStateException(
        s"mor-update v=${m._1} has no base snapshot at $root"))
      val repl = posWrap(readVersionDirPruned(m._1, prune))
      morClaimedKeys(m._1) match {
        case None => df // predicate matched nothing: a no-op commit
        case Some(keys) =>
          // anti-join on EVERY key column (the delete file carries the whole
          // composite key, like the mor-delete path) — joining on a prefix
          // would drop base rows that share only the first key component
          df.join(broadcast(keys), keys.columns.toSeq, "left_anti")
            .unionByName(repl, allowMissingColumns = true)
      }
    case MorMergeOp =>
      val df = acc.getOrElse(throw new IllegalStateException(
        s"mor-merge v=${m._1} has no base snapshot at $root"))
      val repl = posWrap(readVersionDirPruned(m._1, prune))
      val afterDel = morClaimedKeys(m._1) match {
        case None => df // insert-only merge: nothing matched
        case Some(keys) => df.join(broadcast(keys), keys.columns.toSeq, "left_anti")
      }
      // unlike mor-update, the dir unions even with no keys (inserts)
      afterDel.unionByName(repl, allowMissingColumns = true)
    case op if op.startsWith(EvolveOpPrefix) =>
      applyEvolve(acc.getOrElse(throw new IllegalStateException(
        s"schema evolution v=${m._1} has no base snapshot at $root")), op)
    case other =>
      throw new IllegalStateException(s"unexpected chain op $other at v=${m._1}")
  }
  }

  /** One schema-evolution commit applied to a frame (shared by chain
    * resolution and the CDC before-image alignment). */
  private def applyEvolve(df: DataFrame, op: String): DataFrame =
    decodeEvolve(op) match {
      case Seq("add", name, ddl) =>
        // idempotent for the CDC-alignment path: a frame that already carries
        // the column must not have it nulled out
        if (df.columns.contains(name)) df
        else df.withColumn(name, lit(null).cast(DataType.fromDDL(ddl)))
      case Seq("drop", name)     => df.drop(name)
      case Seq("rename", a, b)   => df.withColumnRenamed(a, b)
      case Seq("widen", name, ddl) =>
        // type widening is metadata-only: readers cast during resolution
        // (idempotent — casting an already-widened column is a no-op)
        df.withColumn(name, col(name).cast(DataType.fromDDL(ddl)))
      case Seq("addnested", parent, child, ddl) =>
        // nested ADD: history rows read the subfield as NULL; withField
        // keeps a NULL struct NULL (idempotent for CDC alignment — a
        // frame already carrying the subfield keeps its values). `child`
        // may be a dotted path into nested structs.
        val cur = df.schema.fields.find(_.name.equalsIgnoreCase(parent))
        def walk(dt: DataType, segs: Seq[String]): Boolean = dt match {
          case s: org.apache.spark.sql.types.StructType =>
            s.fields.find(_.name.equalsIgnoreCase(segs.head)) match {
              case Some(f) if segs.size == 1 => true
              case Some(f) => walk(f.dataType, segs.tail)
              case None => false
            }
          case _ => false
        }
        val has = cur.exists(f => walk(f.dataType, child.split('.').toSeq))
        if (has || cur.isEmpty) df
        else df.withColumn(cur.get.name, col(cur.get.name)
          .withField(child, lit(null).cast(DataType.fromDDL(ddl))))
      case Seq("renamenested", parent, path, to) =>
        // nested RENAME: position-preserving struct rebuild (withField +
        // dropFields would move the subfield to the end, and the mirror
        // compare against a foreign chain — whose renames keep position —
        // must see identical shapes). Idempotent: a frame already renamed
        // (or never carrying the source path) passes through.
        df.schema.fields.find(_.name.equalsIgnoreCase(parent)) match {
          case Some(pf) if nestedPathType(pf.dataType, path).isDefined =>
            df.withColumn(pf.name, renameNestedExpr(col(pf.name),
              pf.dataType.asInstanceOf[StructType], path.split('.').toSeq, to))
          case _ => df
        }
      case Seq("dropnested", parent, path) =>
        // nested DROP: dropFields keeps sibling order and NULL structs NULL;
        // idempotent (a frame without the path passes through)
        df.schema.fields.find(_.name.equalsIgnoreCase(parent)) match {
          case Some(pf) if nestedPathType(pf.dataType, path).isDefined =>
            df.withColumn(pf.name, col(pf.name).dropFields(path))
          case _ => df
        }
      case Seq("widennested", parent, path, ddl) =>
        // nested type widening: withField replaces IN PLACE; casting an
        // already-widened subfield is a no-op, so replay is idempotent
        df.schema.fields.find(_.name.equalsIgnoreCase(parent)) match {
          case Some(pf) if nestedPathType(pf.dataType, path).isDefined =>
            val sub = path.split('.').foldLeft(col(pf.name))(_.getField(_))
            df.withColumn(pf.name, col(pf.name)
              .withField(path, sub.cast(DataType.fromDDL(ddl))))
          case _ => df
        }
      case Seq("partition", _*) =>
        // partition-spec evolution is LAYOUT-only: the frame a reader sees
        // is unchanged (files written before keep their dirs, files after
        // use the new spec) — the op rides the log purely so history and
        // time travel record when the spec moved
        df
      case other => throw new IllegalStateException(s"bad evolve op: $other")
    }

  /** The type at a dotted subfield path (None when any segment is missing
    * or not a struct) — the replay/idempotence probe for nested evolve ops. */
  private def nestedPathType(dt: DataType, path: String): Option[DataType] = {
    def walk(t: DataType, segs: Seq[String]): Option[DataType] = t match {
      case s: StructType =>
        s.fields.find(_.name.equalsIgnoreCase(segs.head)).flatMap(f =>
          if (segs.size == 1) Some(f.dataType) else walk(f.dataType, segs.tail))
      case _ => None
    }
    walk(dt, path.split('.').toSeq)
  }

  /** Position-preserving nested rename as a struct-rebuild expression; a
    * NULL struct stays NULL at every level. */
  private def renameNestedExpr(c: Column, s: StructType, segs: Seq[String],
      to: String): Column = {
    def renameInType(t: StructType, sg: Seq[String]): StructType =
      StructType(t.fields.map { f =>
        val renamed =
          if (f.name.equalsIgnoreCase(sg.head)) {
            if (sg.size == 1) f.copy(name = to)
            else f.copy(dataType = renameInType(
              f.dataType.asInstanceOf[StructType], sg.tail))
          } else f
        // nullable cast target: casting an expression to a NOT NULL struct
        // type is an analysis error
        renamed.copy(nullable = true)
      })
    val parts = s.fields.toSeq.map { f =>
      if (f.name.equalsIgnoreCase(segs.head)) {
        if (segs.size == 1) c.getField(f.name).as(to)
        else renameNestedExpr(c.getField(f.name),
          f.dataType.asInstanceOf[StructType], segs.tail, to).as(f.name)
      } else c.getField(f.name).as(f.name)
    }
    when(c.isNull, lit(null).cast(renameInType(s, segs)))
      .otherwise(struct(parts: _*))
  }

  /** The main-lineage version a snapshot's resolution chain is rooted in:
    * branch commits root at the main version their parent walk reaches. */
  private def mainLineageAnchor(meta: Seq[Meta], v: Long): Long =
    meta.find(_._1 == v) match {
      case Some(entry) if isBranchOp(entry._3) =>
        val (_, subOp, parent) = branchOpParts(entry._3)
        if (subOp == DeltaAppendOp) mainLineageAnchor(meta, parent.get)
        else -1L // a full branch dir has no main root; the schema-reflection
                 // guard in changes() decides which evolves apply
      case _ => v
    }

  /** `TIMESTAMP AS OF`: latest MAIN snapshot committed at or before
    * tsMillis (side-branch commits are not main's timeline). */
  def readAsOfTimestamp(tsMillis: Long): DataFrame = {
    val v = readMeta().filterNot(m => isBranchOp(m._3)).filter(_._2 <= tsMillis)
      .lastOption
      .getOrElse(throw new IllegalStateException(s"no snapshot at or before $tsMillis"))
    read(Some(v._1))
  }

  /** S3/S4 — snapshot/history metadata as a DataFrame. `row_count` is the
    * table's row total as of each version (a branch commit: the branch's). */
  def history(): DataFrame = {
    import spark.implicits._
    readMeta().toDF("version", "committed_at_ms", "operation", "row_count")
      .withColumn("committed_at", timestamp_millis(col("committed_at_ms")))
  }

  // ── retention / maintenance ────────────────────────────────────────────

  /** Every version whose log entry and/or data dir version `v`'s RESOLVED
    * content reads: the retention unit (Iceberg expires nothing a live
    * snapshot still references). Transitive. */
  private def reachable(meta: Seq[Meta], v: Long): Set[Long] =
    meta.find(_._1 == v) match {
      case None => Set(v)
      case Some(entry) =>
        val op = entry._3
        if (isBranchOp(op)) {
          val (_, subOp, parent) = branchOpParts(op)
          if (subOp == DeltaAppendOp) Set(v) ++ reachable(meta, parent.get)
          else Set(v)
        } else if (op.startsWith(AliasOpPrefix)) Set(v, dataDirVersion(entry))
        else if (op.startsWith(AsOfOpPrefix)) Set(v) ++ reachable(meta, asOfTarget(op))
        else if (op == MorDeleteOp || isPosDelete(op) || isDeltaAppend(op) ||
            op == MorUpdateOp || op == MorMergeOp ||
            op.startsWith(EvolveOpPrefix)) {
          val prev = meta.filter(m => m._1 < v && !isBranchOp(m._3)).lastOption
          Set(v) ++ prev.map(p => reachable(meta, p._1)).getOrElse(Set.empty)
        } else Set(v)
    }

  /** Expire every version not reachable from `keepSeed`, main's head, the
    * last logged version, or a live ref — the shared retention core of both
    * VACUUM forms. The last record stays because the next commit numbers
    * itself from it: deleting it would hand its version to a new commit,
    * and a reader pinned at that version would see other content. Reachability
    * extends each kept version to everything its resolution reads (delta
    * chains back to their base, mor-delete bases, alias/asof targets), so
    * expiry can never orphan a readable snapshot's files. Returns the
    * expired versions (dirs + manifests deleted, log entries dropped). */
  private def expireExcept(keepSeed: Set[Long]): Seq[Long] = {
    val log = readLog()
    val meta = log.map(_._1)
    val seed = keepSeed ++ mainHead(meta) ++ meta.lastOption.map(_._1) ++
      readRefs().values.map(_._2)
    val keep = seed.flatMap(v => reachable(meta, v))
    // newest first, each record before its files: whatever a crash leaves
    // logged still reads (an expired version's base goes after it), and a
    // dir whose record is gone is an orphan removeOrphans reclaims
    val expire = log.filterNot(r => keep(r._1._1)).sortBy(-_._1._1)
    expire.foreach { case (m, dataId) =>
      records.delete(canonRoot, logRecordName(m._1))
      dataId.foreach(discardData)
    }
    expire.map(_._1._1).reverse
  }

  /** X2 — expire old snapshots, keeping the most recent `keep` versions
    * (mirror of Iceberg's expire_snapshots). Retention extends to every
    * version a kept snapshot, main's head, or a live ref still reaches. */
  def expireSnapshots(keep: Int): Seq[Long] =
    expireExcept(readMeta().takeRight(keep).map(_._1).toSet)

  /** X2 — expire snapshots COMMITTED BEFORE `tsMillis` (the `VACUUM TABLE …
    * EXPIRE SNAPSHOTS OLDER_THAN` form). The expire set is selected by
    * TIMESTAMP directly — a wall-clock step backward between commits can
    * only over-retain, never expire a snapshot committed at or after the
    * cutoff — and every retention guarantee of [[expireSnapshots]] (delta
    * chains, mor bases, ref pins, alias/asof targets, main's head) applies
    * identically. */
  def expireSnapshotsOlderThan(tsMillis: Long): Seq[Long] =
    expireExcept(readMeta().filter(_._2 >= tsMillis).map(_._1).toSet)

  /** Iceberg's remove_orphan_files: delete `data/<id>` dirs and manifests
    * that NO log record names and that are older than the age threshold
    * (the slow-writer guard Iceberg's procedure also takes, default 3
    * days). Orphans arise when a writer crashes between its data write and
    * its record publish, or an expiry between a record delete and its
    * files' — nothing else ever deletes them, and at 100 TB
    * crashed-ingest leftovers are real money.
    *
    * The threshold has a FLOOR of [[SnapshotTable.MinOrphanAgeMillis]]
    * (24 h — Iceberg's remove_orphan_files refuses short intervals the
    * same way): a still-in-flight slow writer's dir must never qualify, or
    * its record would name a deleted dir. Callers that genuinely need a
    * shorter window (tests, forensic cleanup of a known-dead writer) must
    * pass `force = true`, taking on the slow-writer risk explicitly.
    * Returns the removed data ids. */
  def removeOrphans(olderThanMillis: Long = 3L * 24 * 3600 * 1000,
      force: Boolean = false): Seq[String] = withRootLock {
    require(force || olderThanMillis >= SnapshotTable.MinOrphanAgeMillis,
      s"removeOrphans(olderThanMillis = $olderThanMillis): intervals under " +
        s"${SnapshotTable.MinOrphanAgeMillis / 3600000} h risk deleting a " +
        "slow in-flight writer's data dir; pass force = true to accept that explicitly")
    val named = readLog().flatMap(_._2).toSet
    val cutoff = System.currentTimeMillis() - olderThanMillis
    def aged(dir: Path): Seq[(String, org.apache.hadoop.fs.FileStatus)] =
      try rootFs.listStatus(dir).toSeq.map(st => st.getPath.getName -> st)
        .filter(_._2.getModificationTime < cutoff)
      catch { case _: java.io.FileNotFoundException => Nil }
    val dirs = aged(hPath(DataDir)).map(_._1).filterNot(named)
    val manifests = aged(hPath(ManifestDir)).map(_._1.stripSuffix(".tsv"))
      .filterNot(named)
    (dirs ++ manifests).distinct.sorted.map { id => discardData(id); id }
  }

  /** Directories holding the CURRENT snapshot's DATA files (base + live
    * append deltas; merge-on-read delete-key files excluded): what
    * file-level metadata scans should list — Iceberg's files/partitions
    * tables likewise report data files, with delete files accounted
    * separately. */
  def currentDataDirs: Seq[String] = currentDataVersions.map(versionDir)

  /** The versions whose own dirs are [[currentDataDirs]]. */
  private[sources] def currentDataVersions: Seq[Long] = {
    val meta = readMeta()
    val v = mainHead(meta).getOrElse(
      throw new IllegalStateException(s"no snapshots at $root"))
    dataDirsOf(meta, v)
  }

  /** The versions whose own data dirs version `v` reads. */
  private def dataDirsOf(meta: Seq[Meta], v: Long): Seq[Long] = {
    val entry = meta.find(_._1 == v).getOrElse(
      throw new IllegalStateException(s"no snapshot v=$v at $root"))
    if (isBranchOp(entry._3)) {
      val (_, subOp, parent) = branchOpParts(entry._3)
      if (subOp == DeltaAppendOp) dataDirsOf(meta, parent.get) :+ v
      else Seq(v)
    } else {
      val upTo = meta.filter(m => m._1 <= v && !isBranchOp(m._3))
      val baseIdx = upTo.lastIndexWhere(m => isRestart(m._3))
      val (start, tail) =
        if (baseIdx < 0) (None, upTo) else (Some(upTo(baseIdx)), upTo.drop(baseIdx + 1))
      val baseDirs = start.toSeq.flatMap { m =>
        if (m._3.startsWith(AsOfOpPrefix)) dataDirsOf(meta, asOfTarget(m._3))
        else Seq(dataDirVersion(m))
      }
      baseDirs ++ tail.collect {
        case m if isDeltaAppend(m._3) || m._3 == MorUpdateOp ||
          m._3 == MorMergeOp => m._1
      }
    }
  }

  /** Metadata-only live-layout measure for the maintenance advisor
    * ([[TableMaintenance]]): per current data dir, (version, per-file byte
    * sizes) straight from the commit manifests — ZERO data-file opens, the
    * only acceptable cost for a layout decision at 100 TB — plus the count
    * of outstanding delete-fold commits (mor/pos delete files and
    * mor-update/merge key files) every reader currently pays an anti-join
    * for. */
  def layoutStats(): (Seq[(Long, Seq[Long])], Long) = {
    val meta = readMeta()
    val head = mainHead(meta).getOrElse(
      throw new IllegalStateException(s"no snapshots at $root"))
    val perDir = dataDirsOf(meta, head).map { v =>
      (v, readManifest(v)._2.map(_.bytes))
    }
    val upTo = meta.filter(m => m._1 <= head && !isBranchOp(m._3))
    val tail = upTo.drop(upTo.lastIndexWhere(m => isRestart(m._3)) + 1)
    val folds = tail.count(m => m._3 == MorDeleteOp || isPosDelete(m._3) ||
      m._3 == MorUpdateOp || m._3 == MorMergeOp)
    (perDir, folds.toLong)
  }

  /** X2 — compaction (mirror of rewrite_data_files): rewrite the current
    * version's data as `targetFiles` files in a new FULL snapshot, folding
    * outstanding append deltas and merge-on-read delete files into one
    * base, exactly as Iceberg compaction does.
    *
    * SORT-ORDER AWARE: a store with a declared write order (columns or
    * `zorder(…)` — [[setSortOrder]]) is re-CLUSTERED by the rewrite
    * (Iceberg's `rewrite_data_files(strategy => 'sort'|'zorder')`), never
    * bin-packed flat — compacting a clustered store must not silently
    * destroy the manifest min/max tightness its file skipping depends on.
    * The declared order's pinned file count wins over `targetFiles` when
    * set (an explicit layout declaration beats a bin-pack estimate). */
  def compact(targetFiles: Int): Long = withRootLock {
    val head = currentVersion
    val df = read()
    // an order whose columns schema evolution dropped/renamed cannot apply
    // (applySortOrder skips it): such a rewrite must still bin-pack, or
    // compaction loses all file-count control and maintain() re-rewrites
    // a never-converging layout every tick
    val orderCols = sortOrder match {
      case Seq(z) if zorderOf(z).isDefined => zorderOf(z).get
      case cols                            => cols
    }
    if (orderCols.isEmpty || !orderCols.forall(df.columns.contains))
      commit(df.coalesce(targetFiles), op = "compact", Some(head))
    else {
      pendingRangeFiles = Some(targetFiles)
      try commit(df, op = "compact", Some(head))
      finally pendingRangeFiles = None
    }
  }

  /** Compaction with a sort/z-order spec declared in the same step
    * (Iceberg's `rewrite_data_files(strategy => 'sort', sort_order => …)`):
    * persists the order like the partition spec — so every later write AND
    * every later maintenance tick inherits the clustering — then rewrites. */
  def compactSorted(targetFiles: Int, order: Seq[String]): Long = {
    setSortOrder(order, files = targetFiles)
    compact(targetFiles)
  }

  // ── Row-level DML (Iceberg v2 semantics; reference: readme.md:361-370 the
  //    snapshot/history surface these ops write to, media_ai.sql:49 the
  //    truncate form). Two write modes, mirroring Iceberg's table-write modes:
  //    COPY-ON-WRITE rewrites survivors as a full snapshot — right when a
  //    mutation touches a large fraction of the table (the rewrite costs a
  //    compaction anyway); MERGE-ON-READ commits only the matching keys as an
  //    equality-delete file — right for small deletes over a huge table (a
  //    takedown of 1k docs from a 100 TB corpus writes kilobytes, not 100 TB),
  //    with readers paying one broadcast anti-join until compact() folds the
  //    deletes into a new base.

  /** DELETE FROM … WHERE, copy-on-write: survivors become the new snapshot.
    * SQL DELETE removes only rows where the predicate is TRUE — a NULL
    * predicate keeps the row (matching the merge-on-read form, whose
    * `filter(pred)` selects TRUE-only delete keys), hence the
    * null-safe-equality survivor filter rather than plain negation. */
  def deleteWhere(pred: Column): Long = {
    val head = currentVersion
    commit(read().filter(!(pred <=> lit(true))), op = "cow-delete", Some(head))
  }

  /** DELETE FROM … WHERE, merge-on-read: commits ONLY the distinct matching
    * `keyCol` values (an Iceberg-style equality-delete file; the file's
    * column names record the key). Keys must identify rows uniquely for
    * delete semantics to match the copy-on-write form. */
  def deleteWhereMor(pred: Column, keyCol: String): Long =
    deleteWhereMor(pred, Seq(keyCol))

  /** Multi-column equality-delete form (Iceberg equality deletes may span
    * several identifier fields): the delete file carries every key column
    * and readers anti-join on all of them. */
  def deleteWhereMor(pred: Column, keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "deleteWhereMor needs at least one key column")
    transact(OnMain()) { (_, _, id) =>
      val n = writeVersionDir(
        read().filter(pred).select(keyCols.map(col): _*).distinct(), id)
      Staged(MorDeleteOp, (log, h) => headRows(log, h) - n)
    }
  }

  /** Equality-delete commit from an explicit KEY FRAME (the shape an
    * Iceberg equality-delete file carries): every table row whose
    * `keyCols` tuple matches a row of `keys` is deleted merge-on-read —
    * the frame form of [[deleteWhereMor]], for callers that HAVE the keys
    * rather than a predicate (mirrored foreign delete files, CDC feeds).
    * Deleting keys with no matching rows is a no-op in effect, so replays
    * are idempotent by value. */
  def deleteKeysMor(keys: DataFrame, keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "deleteKeysMor needs at least one key column")
    transact(OnMain()) { (_, _, id) =>
      val distinctKeys = keys.select(keyCols.map(col): _*).distinct()
      // the logged total drops by the MATCHED row count, not the key
      // count: foreign keys may match zero rows (replays) or be absent
      // entirely — deleteWhereMor's keys are head-selected so the two
      // coincide there, not here
      val cur = read()
      // null-safe: a foreign delete file may carry NULL key values, and the
      // resolution anti-join (applyChainOp) removes null-keyed rows for them
      val matched = cur.join(broadcast(distinctKeys),
        keyCols.map(c => cur(c) <=> distinctKeys(c)).reduce(_ && _),
        "left_semi").count()
      writeVersionDir(distinctKeys, id)
      Staged(MorDeleteOp, (log, h) => headRows(log, h) - matched)
    }
  }

  /** DELETE FROM … WHERE, merge-on-read with POSITION deletes (Iceberg v2's
    * second delete-file kind): commits ONLY the `(file, row position)` pairs
    * of the matching rows — no key column needed, so this is the delete
    * form for tables WITHOUT a unique key, including removing some copies
    * of duplicated rows (an equality delete would remove every copy).
    * O(matching rows) like the equality form; readers fold it as one
    * broadcast anti-join on the provenance pair until compact(). */
  def deleteWherePos(pred: Column): Long = transact(OnMain()) { (meta, head, id) =>
    val positions = resolveVersion(meta, headOrThrow(head), None, withPos = true)
      .filter(pred <=> lit(true))
      .select(col(FileCol), col(PosCol))
      .filter(col(FileCol).isNotNull) // rows with no file provenance can't
                                      // be named by a position-delete file
    val n = writeVersionDir(positions, id)
    Staged(PosDeleteOp, (log, h) => headRows(log, h) - n)
  }

  /** Position-delete commit from a MULTISET of row VALUES: removes exactly
    * as many copies of each distinct row as `rows` carries, by naming that
    * many live `(file, pos)` pairs — identical copies are interchangeable,
    * so WHICH copies is unobservable. This is the mirror shape for a
    * foreign chain's position-delete snapshot, whose positions name chain
    * files this store cannot map (see `IcebergExport.syncFromTable`);
    * `tag` stamps the commit op `pos-delete@<tag>` so a crash replay is
    * detected in the commit log (the streamed-append recipe — position
    * deletes are NOT idempotent by value: a blind replay would delete
    * FURTHER copies). Refuses loudly when live copies run short: that is
    * mirror drift, not a no-op. O(delta) commit: one table scan with a
    * broadcast semi-join gate, the shuffle holds only matched copies. */
  def deleteRowsMultiset(rows: DataFrame, tag: Option[String] = None): Long =
    transact(OnMain()) { (meta, head, id) =>
    import org.apache.spark.sql.expressions.Window
    val live = resolveVersion(meta, headOrThrow(head), None, withPos = true)
    val valueCols = live.columns.filterNot(hiddenReadCols.contains).toSeq
    require(rows.columns.toSeq.sorted == valueCols.sorted,
      s"deleteRowsMultiset frame columns ${rows.columns.toSeq} must match " +
        s"the table's $valueCols")
    val wanted = rows.groupBy(valueCols.map(col): _*)
      .agg(count(lit(1)).as("__del_n"))
    // null-safe equality on every column — the frame is a row multiset
    val joinCond = valueCols.map(c => live(c) <=> wanted(c)).reduce(_ && _)
    val w = Window.partitionBy(valueCols.map(live(_)): _*)
      .orderBy(col(FileCol).asc_nulls_last, col(PosCol).asc_nulls_last)
    val chosen = live.join(broadcast(wanted), joinCond, "inner")
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= col("__del_n") && col(FileCol).isNotNull)
      .select(col(FileCol), col(PosCol))
    val n = writeVersionDir(chosen, id)
    val asked = rows.count()
    if (n != asked) throw new IllegalStateException(
      s"deleteRowsMultiset: $asked copies requested but only $n live " +
        s"copies found at $root — the store has drifted from the source")
    Staged(tag.fold(PosDeleteOp)(t => s"$PosDeleteOp@$t"),
      (log, h) => headRows(log, h) - n)
  }

  /** UPDATE … SET col = expr, … WHERE pred (copy-on-write): each assignment
    * applies only where `pred` holds; all other rows pass through. */
  def update(pred: Column, set: Map[String, Column]): Long = {
    val head = currentVersion
    val base = read()
    val updated = onFields(base.schema, set, "UPDATE").foldLeft(base) {
      case (df, (c, expr)) => df.withColumn(c, when(pred, expr).otherwise(col(c)))
    }
    commit(updated, op = "update", Some(head))
  }

  /** `set` keyed by the schema's own names for the columns it assigns,
    * matched through the session's resolver (Spark's case rule). A name
    * no column answers is an error: an assignment never adds a column
    * (that is ALTER TABLE … ADD COLUMN) and never vanishes unapplied. */
  private[graft] def onFields(schema: StructType, set: Map[String, Column],
      op: String): Map[String, Column] = {
    val resolver = spark.sessionState.conf.resolver
    val named = set.toSeq.map { case (c, e) =>
      schema.fieldNames.find(resolver(_, c)).getOrElse(throw new IllegalArgumentException(
        s"$op: no column $c in $root (columns: ${schema.fieldNames.mkString(", ")})")) -> e
    }
    require(named.map(_._1).distinct.size == named.size,
      s"$op assigns a column twice: ${set.keys.mkString(", ")}")
    named.toMap
  }

  /** MERGE clauses with their assignments keyed by [[onFields]]. */
  private def clausesOn(schema: StructType,
      clauses: Seq[(Option[Column], Option[Map[String, Column]])],
      op: String): Seq[(Option[Column], Option[Map[String, Column]])] =
    clauses.map { case (cond, set) => (cond, set.map(onFields(schema, _, op))) }

  /** UPDATE … SET …, merge-on-read (Iceberg's write.update.mode =
    * merge-on-read): ONE commit whose data files are the UPDATED copies of
    * the matching rows and whose hidden `_graft_deletes/` file holds their
    * keys — O(changed rows), never O(table). The redaction/takedown shape:
    * re-writing 1k docs of a 100 TB corpus costs kilobytes, with readers
    * paying one broadcast anti-join + union until compact() folds it.
    * `keyCol` must identify rows uniquely (the equality-delete contract). */
  def updateMor(pred: Column, set: Map[String, Column], keyCol: String): Long =
    updateMor(pred, set, Seq(keyCol))

  /** Composite-key form of the merge-on-read UPDATE (identifier fields may
    * span several columns, like multi-column equality deletes). */
  def updateMor(pred: Column, set: Map[String, Column], keyCols: Seq[String]): Long = {
    require(keyCols.nonEmpty, "updateMor needs at least one key column")
    // the delete keys are captured from the REPLACEMENT rows, which is only
    // sound when no key column is reassigned (updating an identifier would
    // delete the NEW key and leave the old row live) — Iceberg likewise
    // refuses to update identifier fields in merge-on-read mode. Spark
    // resolves columns case-insensitively, so the guard must too.
    val clash = set.keys.find(c => keyCols.exists(_.equalsIgnoreCase(c)))
    require(clash.isEmpty,
      s"merge-on-read UPDATE cannot reassign the key column ${clash.getOrElse("")}; " +
        "use the copy-on-write mode (or DELETE + INSERT) to change identifiers")
    transact(OnMain()) { (_, _, id) =>
      val base = read()
      val updated = onFields(base.schema, set, "UPDATE")
        .foldLeft(base.filter(pred <=> lit(true))) { case (df, (c, e)) => df.withColumn(c, e) }
      writeDataDir(updated, id)
      // the delete keys come from the just-written REPLACEMENT files — a
      // delta-sized read, not a second predicate pass over the table
      val written = readDataDir(id)
      writeKeyFiles(id, written.select(keyCols.map(col): _*).distinct(),
        nonEmpty = !written.isEmpty)
      Staged(MorUpdateOp, headRows)
    }
  }

  /** Iceberg MERGE requires each target row to match at most one source row;
    * a duplicated source key would silently double-insert (or make the
    * matched update non-deterministic), so it is rejected up front. */
  private def requireUniqueKeys(source: DataFrame, keyCol: String): Unit = {
    // NULL keys never match a target row (they simply insert), so compare
    // the NON-NULL key count to the distinct count — only a genuinely
    // duplicated key is a multiple-match hazard
    val r = source.agg(count(col(keyCol)).cast("long").as("n"),
      count_distinct(col(keyCol)).cast("long").as("d")).head()
    require(r.getLong(0) == r.getLong(1),
      s"MERGE source has non-unique $keyCol values (${r.getLong(0)} non-null " +
        s"keys, ${r.getLong(1)} distinct): Iceberg MERGE fails on " +
        "multiple matches for a target row — dedup the source first")
  }

  /** MERGE INTO (upsert) keyed on `keyCol`: WHEN MATCHED THEN UPDATE SET * /
    * WHEN NOT MATCHED THEN INSERT *. Source rows replace matching target
    * rows wholesale and are appended when unmatched. The anti-join's build
    * side is the source's key projection — for the typical small-delta
    * merge, AQE broadcasts it and the target is never shuffled. */
  def merge(source: DataFrame, keyCol: String): Long = {
    val head = currentVersion
    requireUniqueKeys(source, keyCol)
    val merged = read().join(source.select(keyCol), Seq(keyCol), "left_anti")
      .unionByName(source, allowMissingColumns = true)
    commit(merged, op = "merge", Some(head))
  }

  /** General MERGE INTO with column-level clauses, keyed on `keyCol`
    * (Iceberg/Spark MERGE semantics — first matching clause wins, rows no
    * clause claims pass through / are not inserted):
    *
    *  - `matched`: `(condition, Some(assignments))` = WHEN MATCHED [AND cond]
    *    THEN UPDATE SET col = expr, …; `(condition, None)` = … THEN DELETE.
    *  - `notMatched`: `(condition, Some(values))` = WHEN NOT MATCHED [AND
    *    cond] THEN INSERT (col, …) VALUES (expr, …); `(condition, None)` =
    *    … THEN INSERT * (source columns matched to target columns by name).
    *
    * Clause conditions and expressions see the TARGET row's columns by their
    * plain names and the SOURCE row's columns as `__src_<name>`.
    *
    * Plan shape at 100 TB: the target joins the (small) source with a
    * left-outer equi-join AQE broadcasts, matched source keys are found with
    * a map-only broadcast-semi pass over the target's key column, and the
    * insert set is the source minus those keys (broadcast anti) — the
    * table-sized side is scanned twice but never shuffled. */
  def mergeInto(source: DataFrame, keyCol: String,
                matched: Seq[(Option[Column], Option[Map[String, Column]])],
                notMatched: Seq[(Option[Column], Option[Map[String, Column]])]): Long = {
    val head = currentVersion
    requireUniqueKeys(source, keyCol)
    commit(mergedFrame(source, keyCol, matched, notMatched), op = "merge", Some(head))
  }

  /** The merged result [[mergeInto]] commits, exposed so plan audits can pin
    * the no-target-shuffle shape without writing a snapshot. */
  private[graft] def mergedFrame(source: DataFrame, keyCol: String,
      matched: Seq[(Option[Column], Option[Map[String, Column]])],
      notMatched: Seq[(Option[Column], Option[Map[String, Column]])]): DataFrame = {
    val target = read()
    val mClauses = clausesOn(target.schema, matched, "MERGE UPDATE")
    val iClauses = clausesOn(target.schema, notMatched, "MERGE INSERT")
    val src = source.select(source.columns.toSeq.map(c => col(c).as(s"__src_$c")): _*)
    val joined = target.join(src, col(keyCol) === col(s"__src_$keyCol"), "left_outer")
    val isMatched = col(s"__src_$keyCol").isNotNull
    // first-match-wins clause index; -1 = no clause applies → row unchanged
    val clauseIdx = mClauses.zipWithIndex.foldLeft(when(!isMatched, lit(-1))) {
      case (acc, ((cond, _), i)) =>
        acc.when(cond.getOrElse(lit(true)) <=> lit(true), lit(i))
    }.otherwise(lit(-1))
    val withIdx = joined.withColumn("__mclause", clauseIdx)
    val deleteIdx = mClauses.zipWithIndex.collect { case ((_, None), i) => i }
    val kept =
      if (deleteIdx.isEmpty) withIdx
      else withIdx.filter(!col("__mclause").isin(deleteIdx: _*))
    val outCols = target.columns.toSeq.map { c =>
      val upd = mClauses.zipWithIndex.collect {
        case ((_, Some(set)), i) if set.contains(c) => (i, set(c))
      }
      upd.foldLeft(col(c): Column) { case (acc, (i, e)) =>
        when(col("__mclause") === i, e).otherwise(acc)
      }.as(c)
    }
    val updatedTarget = kept.select(outCols: _*)
    // insert set: source rows with no target match — never shuffles the target
    val srcKeys = source.select(col(keyCol)).distinct()
    val matchedKeys = target.select(col(keyCol))
      .join(broadcast(srcKeys), Seq(keyCol), "left_semi").distinct()
    val unmatchedSrc = src.join(broadcast(matchedKeys),
      col(s"__src_$keyCol") === col(keyCol), "left_anti")
    val insIdx = iClauses.zipWithIndex.foldLeft(when(lit(false), lit(-1))) {
      case (acc, ((cond, _), i)) =>
        acc.when(cond.getOrElse(lit(true)) <=> lit(true), lit(i))
    }.otherwise(lit(-1))
    val insWithIdx = unmatchedSrc.withColumn("__iclause", insIdx)
      .filter(col("__iclause") >= 0)
    val tSchema = target.schema
    val insertRows = iClauses.zipWithIndex.map { case ((_, values), i) =>
      val sel = tSchema.fields.toSeq.map { f =>
        val e = values match {
          case Some(m) => m.getOrElse(f.name, lit(null))
          case None =>
            if (source.columns.contains(f.name)) col(s"__src_${f.name}") else lit(null)
        }
        e.cast(f.dataType).as(f.name)
      }
      insWithIdx.filter(col("__iclause") === i).select(sel: _*)
    }.reduceOption(_ unionByName _)
    insertRows.map(updatedTarget.unionByName(_)).getOrElse(updatedTarget)
  }

  /** MERGE INTO, MERGE-ON-READ (Iceberg's write.merge.mode=merge-on-read):
    * the same clause semantics as [[mergeInto]], but ONE commit holding only
    *  - the UPDATED COPIES of clause-claimed matched rows plus the
    *    not-matched INSERT rows as data files, and
    *  - every clause-claimed matched key (updates AND deletes) as an
    *    equality-delete file in `_graft_deletes/`
    * — O(source), never O(table): a small-delta upsert into a 100 TB table
    * writes kilobytes where [[mergeInto]]'s copy-on-write form rewrites the
    * table. Readers fold it as base ▷ broadcast anti-join ▷ union until
    * compact(). Matched rows no clause claims stay in the base untouched.
    *
    * Plan shape: the matched subset comes from one broadcast-semi pass over
    * the target and the insert set from one broadcast-anti pass — the
    * table-sized side is scanned, never shuffled, and nothing table-sized
    * is written. */
  def mergeIntoMor(source: DataFrame, keyCol: String,
      matched: Seq[(Option[Column], Option[Map[String, Column]])],
      notMatched: Seq[(Option[Column], Option[Map[String, Column]])]): Long =
    transact(OnMain()) { (meta, head, id) =>
    requireUniqueKeys(source, keyCol)
    val target = resolveVersion(meta, headOrThrow(head), None)
    val tSchema = target.schema
    val mClauses = clausesOn(tSchema, matched, "MERGE UPDATE")
    val iClauses = clausesOn(tSchema, notMatched, "MERGE INSERT")
    val src = source.select(source.columns.toSeq.map(c => col(c).as(s"__src_$c")): _*)
    // matched target rows only — delta-sized via a broadcast semi-join
    val srcKeys = source.select(col(keyCol)).distinct()
    val matchedTarget = target.join(broadcast(srcKeys), Seq(keyCol), "left_semi")
    val joined = matchedTarget.join(broadcast(src),
      col(keyCol) === col(s"__src_$keyCol"), "inner")
    // first-match-wins clause index; -1 = unclaimed → stays in the base
    val clauseIdx = mClauses.zipWithIndex.foldLeft(when(lit(false), lit(-1))) {
      case (acc, ((cond, _), i)) =>
        acc.when(cond.getOrElse(lit(true)) <=> lit(true), lit(i))
    }.otherwise(lit(-1))
    val claimed = joined.withColumn("__mclause", clauseIdx)
      .filter(col("__mclause") >= 0)
    val deleteIdx = mClauses.zipWithIndex.collect { case ((_, None), i) => i }
    val updates =
      if (deleteIdx.isEmpty) claimed
      else claimed.filter(!col("__mclause").isin(deleteIdx: _*))
    val outCols = tSchema.fields.toSeq.map { f =>
      val upd = mClauses.zipWithIndex.collect {
        case ((_, Some(set)), i) if set.contains(f.name) => (i, set(f.name))
      }
      upd.foldLeft(col(f.name): Column) { case (acc, (i, e)) =>
        when(col("__mclause") === i, e).otherwise(acc)
      }.cast(f.dataType).as(f.name) // replacements must union onto the base
    }
    val replacements = updates.select(outCols: _*)
    // insert set: source rows matching no target key (broadcast anti)
    val matchedKeys = matchedTarget.select(col(keyCol)).distinct()
    val unmatchedSrc = src.join(broadcast(matchedKeys),
      col(s"__src_$keyCol") === col(keyCol), "left_anti")
    val insIdx = iClauses.zipWithIndex.foldLeft(when(lit(false), lit(-1))) {
      case (acc, ((cond, _), i)) =>
        acc.when(cond.getOrElse(lit(true)) <=> lit(true), lit(i))
    }.otherwise(lit(-1))
    val insWithIdx = unmatchedSrc.withColumn("__iclause", insIdx)
      .filter(col("__iclause") >= 0)
    val insertRows = iClauses.zipWithIndex.map { case ((_, values), i) =>
      val sel = tSchema.fields.toSeq.map { f =>
        val e = values match {
          case Some(m) => m.getOrElse(f.name, lit(null))
          case None =>
            if (source.columns.contains(f.name)) col(s"__src_${f.name}") else lit(null)
        }
        e.cast(f.dataType).as(f.name)
      }
      insWithIdx.filter(col("__iclause") === i).select(sel: _*)
    }.reduceOption(_ unionByName _)
    val data = insertRows.map(replacements.unionByName(_)).getOrElse(replacements)
    // ONE commit: data files (updated copies + inserts) + claimed keys
    val written = writeDataDir(data, id)
    val keys = claimed.select(col(keyCol)).distinct()
    val keysN = keys.count()
    writeKeyFiles(id, keys, nonEmpty = keysN > 0)
    // rows the read-path anti-join will actually remove: every TARGET row
    // whose key is claimed. With duplicate-keyed base rows (appends can
    // create them; nothing enforces target-key uniqueness) this exceeds the
    // distinct-key count, and the logged total must record what readers see
    // — later appends derive their cumulative counts from it.
    val removedN =
      if (keysN == 0) 0L
      else matchedTarget.join(broadcast(keys), Seq(keyCol), "left_semi").count()
    Staged(MorMergeOp, (log, h) => headRows(log, h) - removedN + written)
  }

  // ── schema evolution (Iceberg ALTER TABLE … ADD/DROP/RENAME COLUMN) ────
  //    METADATA-ONLY: no data file is touched at any size — readers apply
  //    the change during resolution, old versions keep their original schema.

  /** One evolve commit: `change` validates against main's head schema and
    * returns the evolve op's parts; the commit conflicts if the head moves
    * before it is logged, since the validation was against that head. */
  private def evolve(change: StructType => Seq[String],
      afterLog: Long => Unit = _ => ()): Long =
    transact(OnMain()) { (meta, head, _) =>
      val parts = change(resolveVersion(meta, headOrThrow(head), None).schema)
      Staged(encodeEvolve(parts), headRows, afterLog)
    }

  /** ALTER TABLE … ADD COLUMN name type — existing rows read back NULL. */
  def addColumn(name: String, typeDdl: String): Long = evolve { schema =>
    require(!schema.fieldNames.contains(name), s"column $name already exists")
    DataType.fromDDL(typeDdl) // validate the type spelling at DDL time
    Seq("add", name, typeDdl)
  }

  /** ALTER TABLE … ADD COLUMN parent.child type — a NESTED add (Iceberg
    * permits struct-internal adds with fresh field ids): metadata-only
    * like every evolve commit; rows from before the change read the new
    * subfield as NULL, time travel before it keeps the narrow struct. The
    * field appends at the END of its struct (the one position the
    * streaming conform path can reconcile without a reorder). `child` may
    * be a DOTTED path into nested structs ("inner.y" adds y inside
    * parent.inner). */
  def addNestedColumn(parent: String, child: String, typeDdl: String): Long =
    evolve { schema =>
      val pf = schema.fields.find(_.name.equalsIgnoreCase(parent)).getOrElse(
        throw new IllegalArgumentException(s"no column $parent"))
      def asStruct(dt: DataType, at: String) = dt match {
        case s: org.apache.spark.sql.types.StructType => s
        case o => throw new IllegalArgumentException(
          s"$at is ${o.simpleString}, not a struct")
      }
      // walk the dotted path: every intermediate segment must be an
      // existing struct subfield, the LAST segment must be absent
      val segs = child.split('.').toSeq
      val holder = segs.dropRight(1).foldLeft(
        (asStruct(pf.dataType, parent), parent)) { case ((s, at), seg) =>
        val f = s.fields.find(_.name.equalsIgnoreCase(seg)).getOrElse(
          throw new IllegalArgumentException(s"no field $at.$seg"))
        (asStruct(f.dataType, s"$at.$seg"), s"$at.$seg")
      }
      require(!holder._1.fieldNames.exists(_.equalsIgnoreCase(segs.last)),
        s"field ${holder._2}.${segs.last} already exists")
      DataType.fromDDL(typeDdl) // validate the type spelling at DDL time
      Seq("addnested", pf.name, child, typeDdl)
    }

  /** ALTER TABLE … DROP COLUMN name — hidden from head reads; versions
    * before the drop still carry it (time travel keeps old schemas). */
  def dropColumn(name: String): Long = evolve { schema =>
    require(schema.fieldNames.contains(name), s"no column $name to drop")
    require(schema.length > 1, s"cannot drop the only column $name")
    Seq("drop", name)
  }

  /** ALTER TABLE … RENAME COLUMN old TO new. */
  def renameColumn(oldName: String, newName: String): Long = evolve { schema =>
    require(schema.fieldNames.contains(oldName), s"no column $oldName to rename")
    require(!schema.fieldNames.contains(newName), s"column $newName already exists")
    Seq("rename", oldName, newName)
  }

  /** Walk a dotted subfield path under column `parent` of `schema`:
    * returns (holder struct, holder path label, resolved last segment,
    * schema-cased parent name, fully CANONICAL path) — every intermediate
    * segment must be an existing struct subfield and the LAST segment must
    * exist too (callers renaming/dropping/promoting an existing subfield).
    * Case-insensitive like the rest of the surface; the canonical path
    * carries the SCHEMA's case for every segment (not just the last), so
    * the recorded evolve op replays — and mirrors through the
    * case-SENSITIVE chain evolution — under the true names. */
  private def resolveNestedPath(schema: StructType, parent: String,
      path: String): (org.apache.spark.sql.types.StructType, String,
        org.apache.spark.sql.types.StructField, String, String) = {
    val pf = schema.fields.find(_.name.equalsIgnoreCase(parent)).getOrElse(
      throw new IllegalArgumentException(s"no column $parent"))
    def asStruct(dt: DataType, at: String) = dt match {
      case s: org.apache.spark.sql.types.StructType => s
      case o => throw new IllegalArgumentException(
        s"$at is ${o.simpleString}, not a struct")
    }
    val segs = path.split('.').toSeq
    val (holder, at, canonSegs) = segs.dropRight(1).foldLeft(
      (asStruct(pf.dataType, parent), parent, Vector.empty[String])) {
      case ((s, a, cs), seg) =>
        val f = s.fields.find(_.name.equalsIgnoreCase(seg)).getOrElse(
          throw new IllegalArgumentException(s"no field $a.$seg"))
        (asStruct(f.dataType, s"$a.${f.name}"), s"$a.${f.name}", cs :+ f.name)
    }
    val last = holder.fields.find(_.name.equalsIgnoreCase(segs.last)).getOrElse(
      throw new IllegalArgumentException(s"no field $at.${segs.last}"))
    (holder, at, last, pf.name, (canonSegs :+ last.name).mkString("."))
  }

  /** ALTER TABLE … RENAME COLUMN parent.path TO newName — a NESTED rename
    * (Iceberg renames subfields by field id): metadata-only, position and
    * values kept, time travel before the change keeps the old name. `path`
    * may be dotted into nested structs. */
  def renameNestedColumn(parent: String, path: String, newName: String): Long =
    evolve { schema =>
      val (holder, at, _, pname, canonical) =
        resolveNestedPath(schema, parent, path)
      require(!newName.contains('.'),
        s"rename target $newName must be a bare field name")
      require(!holder.fieldNames.exists(_.equalsIgnoreCase(newName)),
        s"field $at.$newName already exists")
      Seq("renamenested", pname, canonical, newName)
    }

  /** ALTER TABLE … DROP COLUMN parent.path — a NESTED drop: hidden from
    * head reads, metadata-only; versions before the drop still carry the
    * subfield. */
  def dropNestedColumn(parent: String, path: String): Long = evolve { schema =>
    val (holder, at, last, pname, canonical) =
      resolveNestedPath(schema, parent, path)
    require(holder.fields.length > 1,
      s"cannot drop the only field $at.${last.name} of its struct")
    Seq("dropnested", pname, canonical)
  }

  /** ALTER TABLE … ALTER COLUMN parent.path TYPE type — NESTED type
    * widening, the same legal promotions as [[alterColumnType]], metadata
    * only. */
  def alterNestedColumnType(parent: String, path: String,
      typeDdl: String): Long = evolve { schema =>
    val (_, at, last, pname, canonical) =
      resolveNestedPath(schema, parent, path)
    val to = DataType.fromDDL(typeDdl)
    require(legalWidening(last.dataType, to),
      s"ALTER COLUMN $at.${last.name} TYPE $typeDdl: " +
        s"${last.dataType.simpleString} → ${to.simpleString} is not a legal " +
        "widening (int→long, float→double, decimal precision increase only)")
    Seq("widennested", pname, canonical, typeDdl)
  }

  /** Iceberg's legal primitive promotions (shared by the top-level and
    * nested widen DDLs). */
  private def legalWidening(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType)            => true
      case (IntegerType, LongType)                        => true
      case (FloatType, DoubleType)                        => true
      case (a: org.apache.spark.sql.types.DecimalType,
            b: org.apache.spark.sql.types.DecimalType) =>
        b.scale == a.scale && b.precision > a.precision
      case _ => false
    }

  /** ALTER TABLE … ALTER COLUMN name TYPE type — TYPE WIDENING, Iceberg's
    * legal promotions only: int→long (and byte/short upward), float→double,
    * decimal precision increase at the same scale. METADATA-ONLY like every
    * evolve commit: readers cast during resolution, no data file is touched
    * at any table size, and time travel before the change returns the
    * narrow type. Narrowing (or any other conversion) errors at DDL time —
    * it could corrupt values, which Iceberg likewise refuses. */
  def alterColumnType(name: String, typeDdl: String): Long = evolve { schema =>
    val field = schema.fields.find(_.name.equalsIgnoreCase(name)).getOrElse(
      throw new IllegalArgumentException(s"no column $name to alter"))
    val to = DataType.fromDDL(typeDdl)
    require(legalWidening(field.dataType, to),
      s"ALTER COLUMN $name TYPE $typeDdl: " +
      s"${field.dataType.simpleString} → ${to.simpleString} is not a legal " +
      "widening (int→long, float→double, decimal precision increase only)")
    Seq("widen", field.name, typeDdl)
  }

  /** PARTITION SPEC EVOLUTION (Iceberg `ALTER TABLE … ADD/DROP PARTITION
    * FIELD`): re-declare the store's partition spec WITHOUT rewriting any
    * data — Iceberg's signature capability. The change is a metadata-only
    * evolve commit; files written before it keep their old layout and their
    * manifest stats (recorded from the layout in force when they were
    * written), files written after it use the new spec, and reads/pruning
    * merge the mixed layouts per file. Time travel before the change sees
    * the table exactly as it was. An empty `newSpec` drops partitioning. */
  def evolvePartition(newSpec: Seq[String]): Long = evolve({ schema =>
    newSpec.foreach(FilePruning.validateSpecEntry(schema, _))
    newSpec.map(FilePruning.parseSpecEntry).filterNot(_.isIdentity)
      .groupBy(_.kind).foreach { case (_, fs) =>
        require(fs.size <= 1,
          s"at most one ${fs.head.entry.takeWhile(_ != '(')}() transform per spec")
      }
    require(newSpec.map(_.trim.toLowerCase).distinct.size == newSpec.size,
      s"duplicate partition fields in ${newSpec.mkString(", ")}")
    Seq("partition", newSpec.mkString(","))
  }, afterLog = _ =>
    if (newSpec.isEmpty) metaDelete(PartitionSpecFile)
    else metaWriteString(PartitionSpecFile, newSpec.mkString(",")))

  /** `ALTER TABLE … ADD PARTITION FIELD f | days(ts)`. */
  def addPartitionField(entry: String): Long = {
    require(!partitionSpec.exists(_.equalsIgnoreCase(entry.trim)),
      s"partition field $entry already in spec")
    evolvePartition(partitionSpec :+ entry.trim)
  }

  /** `ALTER TABLE … DROP PARTITION FIELD f | days(ts)`. */
  def dropPartitionField(entry: String): Long = {
    require(partitionSpec.exists(_.equalsIgnoreCase(entry.trim)),
      s"partition field $entry not in spec ${partitionSpec.mkString(", ")}")
    evolvePartition(partitionSpec.filterNot(_.equalsIgnoreCase(entry.trim)))
  }

  /** Roll back to a previous version's content, as a NEW snapshot (mirror of
    * Iceberg's rollback_to_snapshot: history is preserved, the table head
    * moves). ALWAYS METADATA-ONLY: a single-dir target becomes an alias
    * commit; a delta-chain or mor-delete target becomes an asof pointer —
    * neither copies data. */
  def rollback(toVersion: Long): Long = transact(Commutes) { (meta, _, _) =>
    val entry = meta.find(_._1 == toVersion).getOrElse(
      throw new IllegalStateException(s"no snapshot v=$toVersion at $root"))
    val op =
      if (!isBranchOp(entry._3) && isRestart(entry._3) && !entry._3.startsWith(AsOfOpPrefix))
        s"$AliasOpPrefix${dataDirVersion(entry)}:rollback-to-$toVersion"
      else s"$AsOfOpPrefix$toVersion:rollback-to-$toVersion"
    Staged(op, (_, _) => entry._4)
  }

  /** Both snapshots aligned for diffing: the before-image re-expressed
    * through every evolve commit the after schema actually reflects
    * (Iceberg identifies columns by FIELD ID, so a rename is the SAME
    * column and a drop removes it — without this, an untouched row would
    * diff as changed just because a column moved names), then both sides
    * null-filled to the union schema (an untouched row then compares
    * identically and emits nothing — Iceberg's changelog likewise). */
  private def alignedSnapshots(fromV: Long, toV: Long): (DataFrame, DataFrame) = {
    val meta = readMeta()
    val after0 = read(Some(toV))
    val afterCols = after0.columns.map(_.toLowerCase).toSet
    // candidate evolves: everything between the two endpoints' MAIN anchors
    // (a branch endpoint roots where its parent walk reaches). Each one is
    // applied to the before-image only when the AFTER schema actually
    // reflects it — branch dirs written from arbitrary frames may predate or
    // postdate any given evolve, and the after schema is the ground truth
    // the changelog must align to.
    val fromAnchor = mainLineageAnchor(meta, fromV)
    val toAnchor = math.max(mainLineageAnchor(meta, toV), toV)
    val evolves = meta.filter(m => m._1 > fromAnchor && m._1 <= toAnchor &&
      !isBranchOp(m._3) && m._3.startsWith(EvolveOpPrefix))
    val before0 = evolves.foldLeft(read(Some(fromV))) { (df, m) =>
      val reflected = decodeEvolve(m._3) match {
        case Seq("add", name, _)  => afterCols.contains(name.toLowerCase)
        case Seq("drop", name)    => !afterCols.contains(name.toLowerCase)
        case Seq("rename", a, b)  =>
          afterCols.contains(b.toLowerCase) && !afterCols.contains(a.toLowerCase)
        case Seq("widen", name, ddl) =>
          after0.schema.fields.exists(f => f.name.equalsIgnoreCase(name) &&
            f.dataType == DataType.fromDDL(ddl))
        // partition-spec evolution changes file LAYOUT only — it has no
        // frame effect, so the before-image never needs it applied
        case Seq("partition", _*) => false
        case _ => false
      }
      if (reflected) applyEvolve(df, m._3) else df
    }
    def align(df: DataFrame, other: DataFrame): DataFrame =
      other.schema.fields.foldLeft(df) { (d, f) =>
        if (d.columns.contains(f.name)) d
        else d.withColumn(f.name, lit(null).cast(f.dataType))
      }
    (align(before0, after0), align(after0, before0))
  }

  /** KEYLESS changelog: the MULTISET diff between two snapshots — `insert`
    * and `delete` rows only, one per copy, with duplicate multiplicity
    * honored exactly. This is the changelog form for tables WITHOUT a
    * unique key (the same domain position deletes serve, [[deleteWherePos]]):
    * update pairing needs a row identity, so content that changed appears
    * as its old copies deleted and new copies inserted. One shuffle: both
    * sides union with ±1 weights, group by the full row, and the signed
    * count's sign and magnitude say which side gained how many copies. */
  def changes(fromV: Long, toV: Long): DataFrame = {
    val (before, after) = alignedSnapshots(fromV, toV)
    diffMultiset(before, after)
  }

  /** The keyless multiset-diff core, shared by the full-snapshot changelog
    * ([[changes]]) and the commit-derived O(delta) path
    * ([[changesFromCommit]] — there `before`/`after` are just the AFFECTED
    * row subsets, and the identical algebra yields the identical rows). */
  private def diffMultiset(before: DataFrame, after: DataFrame): DataFrame = {
    val dataCols = after.columns.toSeq
    val u = before.withColumn("__w", lit(-1L))
      .unionByName(after.withColumn("__w", lit(1L)))
    val delta = u.groupBy(dataCols.map(col): _*)
      .agg(sum(col("__w")).as("__d")).filter(col("__d") =!= 0)
    // copies regenerate via a TWO-LEVEL explode: a naive sequence(1, n)
    // builds one n-element array per distinct row, and a low-cardinality
    // table can put millions of copies behind one value — chunking bounds
    // every materialized array at 10k elements no matter the multiplicity
    val chunk = 10000L
    val n = abs(col("__d"))
    delta.withColumn("_change_type",
        when(col("__d") > 0, lit("insert")).otherwise(lit("delete")))
      .withColumn("__chunk",
        explode(sequence(lit(0L), floor((n - 1L) / chunk).cast("long"))))
      .withColumn("__copy",
        explode(sequence(lit(1L), least(lit(chunk), n - col("__chunk") * chunk))))
      .drop("__d", "__chunk", "__copy")
  }

  /** CDC changelog between two snapshots, keyed on `keyCol` (assumed unique
    * per snapshot — a primary key): every output row is a row of `fromV` or
    * `toV` plus a `_change_type` column in {insert, delete, update_preimage,
    * update_postimage} (the Iceberg create_changelog_view contract). Updates
    * are detected by comparing a fingerprint over the non-key columns, so a
    * key present on both sides with identical content emits nothing. */
  def changes(fromV: Long, toV: Long, keyCol: String): DataFrame =
    changes(fromV, toV, Seq(keyCol))

  /** [[changes]] with a COMPOSITE key: the row identity is the tuple of
    * `keyCols` (Iceberg's multi-column identifier-field-ids, assumed unique
    * per snapshot), so tables whose natural key spans columns — (tenant,
    * doc), (exchange, symbol, day) — get the same changelog contract with
    * no surrogate column. */
  def changes(fromV: Long, toV: Long, keyCols: Seq[String]): DataFrame = {
    require(keyCols.nonEmpty, "changes() needs at least one key column")
    val (before, after) = alignedSnapshots(fromV, toV)
    diffKeyed(before, after, keyCols)
  }

  /** The keyed diff core, shared by the full-snapshot changelog and the
    * commit-derived O(delta) path (see [[diffMultiset]]'s note). */
  private def diffKeyed(before: DataFrame, after: DataFrame,
      keyCols: Seq[String]): DataFrame = {
    def fp(df: DataFrame): DataFrame = {
      val others = df.columns.filterNot(keyCols.contains).sorted
      df.withColumn("__fp", md5(concat_ws("\u0001",
        others.map(c => coalesce(col(c).cast("string"), lit("\u0000"))): _*)))
    }
    val b = fp(before)
    val a = fp(after)
    val keyFpCols = keyCols :+ "__fp"
    val aKeyFp = a.select(keyFpCols.map(col): _*)
    val bKeyFp = b.select(keyFpCols.map(col): _*)
    val aKeys = a.select(keyCols.map(col): _*)
    val bKeys = b.select(keyCols.map(col): _*)
    // rows of `before` that changed or vanished: content (key,fp) absent in
    // `after`; key still present → update_preimage, key gone → delete.
    val pre = b.join(aKeyFp, keyFpCols, "left_anti")
    val preTagged = pre.join(aKeys, keyCols, "left_semi")
      .withColumn("_change_type", lit("update_preimage"))
      .unionByName(pre.join(aKeys, keyCols, "left_anti")
        .withColumn("_change_type", lit("delete")))
    // rows of `after` that are new or rewritten: mirrored construction.
    val post = a.join(bKeyFp, keyFpCols, "left_anti")
    val postTagged = post.join(bKeys, keyCols, "left_semi")
      .withColumn("_change_type", lit("update_postimage"))
      .unionByName(post.join(bKeys, keyCols, "left_anti")
        .withColumn("_change_type", lit("insert")))
    // allowMissingColumns: commit() supports schema evolution on append, so
    // fromV and toV may legally differ in schema — the changelog carries the
    // union schema with absent-side columns null-filled.
    preTagged.unionByName(postTagged, allowMissingColumns = true).drop("__fp")
  }

  /** Claimed-key sets at or below this size inline as IN conjuncts so the
    * pre-image read PRUNES via manifest stats (bucket layouts prune to the
    * claimed buckets); larger sets fall back to the unpruned one-pass scan. */
  private val MaxInlineCdcKeys = 1000L

  /** CDC rows produced BY commit `v` (against the preceding main snapshot),
    * derived from the commit's OWN files when the op is merge-on-read —
    * equality delete, position delete, mor UPDATE, mor MERGE:
    *
    *  - pre-images are the previous snapshot's rows semi-joined to the
    *    commit's claimed keys (or `(file, pos)` pairs), with the scan PRUNED
    *    by inlined key conjuncts when the claimed set is small — on a
    *    bucketed/clustered store that touches the matching files only, and
    *    [[lastPruneStats]] records (kept, total) for audits;
    *  - post-images come straight from the commit's replacement dir
    *    (O(delta) by the mor cost model);
    *  - the same [[diffKeyed]]/[[diffMultiset]] algebra then runs over the
    *    two AFFECTED subsets, so the output is row-identical to
    *    [[changes]](prev, v[, keyCols]) — which diffs two FULL snapshots
    *    (union + full-row shuffle, or two whole-table joins): one mor UPDATE
    *    on a 100 TB table must not make its CDC batch scan the table twice.
    *    Iceberg's changelog scan derives changes from the commit's files for
    *    exactly this reason.
    *
    * None when the op has no delta representation (cow commits, rollbacks,
    * publishes, appends — appends shortcut in the stream already): callers
    * fall back to the full-snapshot diff. */
  private[graft] def changesFromCommit(v: Long, keyCols: Seq[String]): Option[DataFrame] = {
    val meta = readMeta()
    val entry = meta.find(_._1 == v).getOrElse(return None)
    val op = entry._3
    if (op != MorDeleteOp && !isPosDelete(op) &&
        op != MorUpdateOp && op != MorMergeOp) return None
    val prev = meta.filter(m => m._1 < v && !isBranchOp(m._3)).lastOption
      .getOrElse(return None)._1
    val keyFrame = op match {
      case o if o == MorDeleteOp || isPosDelete(o) => readVersionDir(v)
      case _ => morClaimedKeys(v).getOrElse(
        readVersionDir(v).limit(0)) // no claimed keys (e.g. insert-only merge)
    }
    val joinCols = keyFrame.columns.toSeq
    val resolvedPrev =
      resolveVersion(meta, prev, None, withPos = isPosDelete(op))
    // (kept, total) must describe THIS derivation: the unpruned fallbacks
    // report (0, 0) — "no pruning ran" — never a previous operation's stats
    pruneKept = 0L; pruneTotal = 0L
    // inline the claimed keys as IN conjuncts when the set is small: an
    // equality-delete file's key count is its manifest's record total; mor
    // update/merge key files are delta-sized, and take(bound + 1) answers
    // the size check and the collect in ONE bounded driver job
    val keyRows: Array[Row] = op match {
      case o if isPosDelete(o) => Array.empty // (file, pos) pairs derive no ranges
      case MorDeleteOp =>
        val keys = readManifest(v)._2.map(_.records).sum
        if (keys > 0 && keys <= MaxInlineCdcKeys) keyFrame.collect()
        else Array.empty
      case _ =>
        val taken = keyFrame.take(MaxInlineCdcKeys.toInt + 1)
        if (taken.nonEmpty && taken.length <= MaxInlineCdcKeys) taken
        else Array.empty
    }
    val perColValues = joinCols.indices.map(i =>
      keyRows.map(_.get(i)).filter(_ != null).distinct.toSeq)
    val perColHasNull = joinCols.indices.map(i =>
      keyRows.exists(_.get(i) == null))
    val base =
      if (keyRows.nonEmpty && perColValues.forall(_.nonEmpty)) {
        // the update/merge semi-joins never match NULL keys, so their
        // non-null value prune is exact; equality DELETES apply null-safely
        // (a foreign delete file may carry NULL key values), so columns
        // whose key set holds a null get an IS NULL disjunct — weaker
        // pruning, never a skipped matching file
        val pred = joinCols.indices.map { i =>
          val in = col(joinCols(i)).isin(perColValues(i): _*)
          if (op == MorDeleteOp && perColHasNull(i))
            in || col(joinCols(i)).isNull
          else in
        }.reduce(_ && _)
        val conj0 = SnapshotTable.conjunctsOf(resolvedPrev, pred)
        val conj = transformConjuncts(resolvedPrev.schema, conj0,
          dataDirsOf(meta, prev).map(idOf))
        resolveVersion(meta, prev, Some(conj))
      } else resolvedPrev
    // equality deletes match null-safely (mirrors applyChainOp's
    // resolution anti-join exactly — the CDC pre-images must name the
    // SAME rows the resolution removes, null-keyed ones included)
    val preSub = (op match {
      case MorDeleteOp => base.join(broadcast(keyFrame),
        joinCols.map(c => base(c) <=> keyFrame(c)).reduce(_ && _),
        "left_semi")
      case _ => base.join(broadcast(keyFrame), joinCols, "left_semi")
    }).drop(hiddenReadCols: _*)
    val postSub = (op match {
      case o if o == MorDeleteOp || isPosDelete(o) => resolvedPrev.limit(0) // deletes only
      case _                         => readVersionDir(v)
    }).drop(hiddenReadCols: _*)
    Some(
      if (keyCols.nonEmpty) diffKeyed(preSub, postSub, keyCols)
      else diffMultiset(preSub, postSub))
  }

  /** The changelog of ONE commit: [[changesFromCommit]]'s O(delta) path when
    * the commit supports it, else the full [[changes]] diff against the
    * preceding main snapshot — the per-commit unit the streaming CDC mode
    * emits, exposed for batch callers and audits. Empty `keyCols` = the
    * keyless multiset changelog. */
  def changesForCommit(v: Long, keyCols: Seq[String] = Nil): DataFrame =
    changesFromCommit(v, keyCols).getOrElse {
      val meta = readMeta()
      val prev = meta.filter(m => m._1 < v && !isBranchOp(m._3)).lastOption
        .getOrElse(throw new IllegalStateException(
          s"commit v=$v has no preceding main snapshot at $root"))._1
      if (keyCols.nonEmpty) changes(prev, v, keyCols) else changes(prev, v)
    }

  // ── Branches and tags (Iceberg refs; the write-audit-publish workflow:
  //    stage candidate data on a branch, validate it there, publish to main
  //    in one step — main readers never observe unvalidated data). Branch
  //    commits share the global version sequence and directory layout but
  //    not main's lineage; tags are immutable named pins.

  /** Create a branch at `at` (default: main's head). Branches may move
    * (commitToBranch / fastForward); re-creating one re-points it. */
  def createBranch(name: String, at: Option[Long] = None): Long = {
    // re-pointing a BRANCH is allowed; silently converting an existing TAG
    // into a movable branch would break the tags-never-move contract
    require(readRefs().get(name).forall(_._1 == "branch"),
      s"ref $name already exists as a tag at $root")
    val v = at.orElse(currentVersion)
      .getOrElse(throw new IllegalStateException(s"no snapshots at $root"))
    require(readMeta().exists(_._1 == v), s"no snapshot v=$v at $root")
    writeRef(name, "branch", v)
    v
  }

  /** Create an immutable tag at `at` (default: main's head). Re-creating an
    * existing tag errors — tags never move (the Iceberg contract). */
  def createTag(name: String, at: Option[Long] = None): Long = {
    require(!readRefs().contains(name), s"ref $name already exists at $root")
    val v = at.orElse(currentVersion)
      .getOrElse(throw new IllegalStateException(s"no snapshots at $root"))
    require(readMeta().exists(_._1 == v), s"no snapshot v=$v at $root")
    writeRef(name, "tag", v)
    v
  }

  /** The version a branch currently points at. */
  def branchHead(name: String): Option[Long] =
    readRefs().get(name).collect { case ("branch", v) => v }

  /** The version a named ref (branch or tag) points at; `main` resolves to
    * main's head — the resolution `table_changes('t', 'main', 'stage')`
    * style calls use. */
  def refVersion(name: String): Option[Long] =
    if (name.equalsIgnoreCase("main")) currentVersion
    else readRefs().get(name).map(_._2)

  /** Commit to a side branch against the BRANCH's head; main's lineage and
    * head are untouched. `op = "append"` is O(DELTA), like main appends: the
    * dir holds only `df`, and the branch entry records its parent so readers
    * resolve the chain. `op = "overwrite"` writes the branch's new full
    * content (the branch-side copy-on-write form). */
  def commitToBranch(branch: String, df: DataFrame, op: String = "overwrite"): Long = {
    require(op == "overwrite" || op == DeltaAppendOp,
      s"commitToBranch op must be overwrite|append, got $op")
    transact(OnBranch(branch)) { (_, head, id) =>
      val written = writeDataDir(df, id)
      val moveRef = (v: Long) => writeRef(branch, "branch", v)
      if (op == DeltaAppendOp)
        Staged(s"$BranchOpPrefix$branch:$DeltaAppendOp:${head.get}",
          (log, h) => headRows(log, h) + written, moveRef)
      else Staged(s"$BranchOpPrefix$branch:$op", (_, _) => written, moveRef)
    }
  }

  /** Read a branch's current content. */
  def readBranch(name: String): DataFrame = {
    val head = branchHead(name).getOrElse(
      throw new IllegalStateException(s"no branch $name at $root"))
    read(Some(head))
  }

  /** Read a tag's pinned content. */
  def readTag(name: String): DataFrame = readRefs().get(name) match {
    case Some(("tag", v)) => read(Some(v))
    case _ => throw new IllegalStateException(s"no tag $name at $root")
  }

  /** All named refs, as a DataFrame (mirror of Iceberg's refs metadata
    * table). */
  def refs(): DataFrame = {
    import spark.implicits._
    readRefs().toSeq.map { case (n, (k, v)) => (n, k, v) }
      .sortBy(_._1).toDF("ref_name", "ref_kind", "version")
  }

  /** Drop a branch or tag (mirror of Iceberg's DROP BRANCH / DROP TAG).
    * Appends a tombstone — the log stays append-only — after which the name
    * may be re-created and the versions it pinned become expirable. */
  def dropRef(name: String, expectKind: Option[String] = None): Unit = {
    val kind = readRefs().get(name).map(_._1).getOrElse(
      throw new IllegalArgumentException(s"no ref $name at $root"))
    expectKind.foreach(k => require(k == kind,
      s"$name is a $kind, not a $k — use DROP ${kind.toUpperCase}"))
    writeRef(name, "dropped", -1L)
  }

  /** PUBLISH a branch to main (Iceberg fast-forward): main's head moves to
    * the branch's content as a NEW main-lineage commit. The
    * write-audit-publish step — until this runs, nothing committed on the
    * branch is visible to a main reader. ALWAYS METADATA-ONLY: a full-data
    * branch head publishes as an alias to its dir; a delta-chain branch head
    * publishes as an asof pointer resolution follows — neither copies. */
  def fastForward(fromBranch: String): Long = transact(Commutes) { (meta, _, _) =>
    val head = branchHead(fromBranch).getOrElse(
      throw new IllegalStateException(s"no branch $fromBranch at $root"))
    val entry = meta.find(_._1 == head).getOrElse(
      throw new IllegalStateException(s"no snapshot v=$head at $root"))
    val isSingleDir = isBranchOp(entry._3) &&
      branchOpParts(entry._3)._2 != DeltaAppendOp
    val op =
      if (isSingleDir) s"$AliasOpPrefix${dataDirVersion(entry)}:publish-$fromBranch"
      else s"$AsOfOpPrefix$head:publish-$fromBranch"
    Staged(op, (_, _) => entry._4)
  }
}
