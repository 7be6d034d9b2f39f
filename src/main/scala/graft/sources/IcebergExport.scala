package graft.sources

import org.apache.avro.Schema
import org.apache.avro.file.{DataFileReader, DataFileWriter}
import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter}
import org.apache.avro.mapred.FsInput
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression,
  GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan,
  LessThanOrEqual, Literal, Not}
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Export snapshots as an **Apache Iceberg v2 table directory**, and read
  * such a directory back purely from its Iceberg metadata.
  *
  * The reference workshop's tables ARE Iceberg tables (readme.md:357-369,
  * spark.py:52-59); the sandbox has no Iceberg runtime jars, so the store
  * side of this engine reproduces the SEMANTICS on versioned parquet. This
  * exporter closes the remaining interchange gap as far as the environment
  * allows: it writes the public Iceberg table format (HadoopCatalog layout)
  * so a real Iceberg reader outside this sandbox can open the result —
  *
  *   dest/
  *     data/…parquet                          (data files; hive dirs when partitioned)
  *     metadata/vN.metadata.json              (table metadata, spec §"Table Metadata")
  *     metadata/snap-<id>-1-<uuid>.avro       (manifest LISTS, spec §"Snapshots")
  *     metadata/<uuid>-mN.avro                (manifests, spec §"Manifests")
  *     metadata/version-hint.text             (HadoopCatalog current-version pointer)
  *
  * Field ids, Avro record layouts (`manifest_entry`/`manifest_file` with
  * the spec's field-id properties), file-level metadata keys, and the
  * metadata.json shape follow the published Apache Iceberg spec
  * (https://iceberg.apache.org/spec/, format version 2).
  *
  * Depth (all spec features, not extensions):
  *  - **Column bounds + metrics**: every data-file entry carries
  *    `lower_bounds`/`upper_bounds` maps (field-id → the spec's
  *    single-value binary serialization) plus the `value_counts` /
  *    `null_value_counts` metrics maps, read from the parquet footers the
  *    export already opens — so an external Iceberg reader gets the same
  *    data skipping the internal store reader has, and [[readTable]]
  *    prunes on them (ranges on bounds, IS [NOT] NULL on the metrics).
  *  - **Partitioned layouts**: `export(df, dest, partitionBy)` writes hive
  *    dirs, a real partition SPEC (source-ids into the schema, partition
  *    field-ids from 1000), and per-file partition TUPLES in the manifest
  *    entries; [[readTable]] with predicates prunes on the tuples before
  *    it prunes on bounds. The FULL transform family is supported with
  *    the spec's own functions ([[FilePruning]]'s, which the store lays
  *    out its hidden partitions with too) — `identity`, `day`/`month`/`year`/`hour`
  *    (epoch-based int tuples), `bucket[N]` (canonical murmur3, seed 0 —
  *    Appendix B, NOT Spark's seed-42 hash), `truncate[W]` — written in
  *    the store's own grammar ("days(ts)", "bucket(8, id)", …), so a
  *    store's hidden partitioning carries through `exportStore` and
  *    foreign engines recompute identical partition values. Monotonic
  *    transforms prune ranges; bucket prunes equality.
  *  - **Incremental export**: a second `export()` onto an existing table
  *    dir appends a SNAPSHOT to the one metadata chain — new
  *    vN+1.metadata.json with `parent-snapshot-id`, `snapshot-log`,
  *    `metadata-log`, sequence numbers advancing, previous manifests
  *    carried forward in the new manifest list (the fast-append shape) —
  *    so the handoff cadence is commit-in-graft → re-export the delta,
  *    and external readers time-travel by snapshot id.
  *  - **Schema evolution across exports**: an export whose frame adds,
  *    drops, or legally promotes (int → long, float → double) columns
  *    EVOLVES the chain — a new `schemas` entry under a new
  *    `current-schema-id` with STABLE field ids for kept columns (nested
  *    ids carried verbatim), fresh ids past `last-column-id` for added
  *    ones; [[readTable]] merges old files' schemas and null-fills
  *    columns their snapshots predate.
  *  - **Delete files**: [[appendPositionDeletes]] / [[appendEqualityDeletes]]
  *    write content=1/2 delete files + delete manifests (the v2
  *    merge-on-read forms a foreign engine would write), and [[readTable]]
  *    APPLIES them with the spec's sequence-number rules (position deletes
  *    hit data files with data-seq ≤ delete-seq; equality deletes hit
  *    strictly older data files) — the inverse interchange direction.
  *
  * [[readTable]] is the independent verification path: it re-opens the
  * export using ONLY the Iceberg metadata chain (version-hint →
  * metadata.json → manifest list → manifests → data + delete files) —
  * shared bookkeeping with the writer is nil, so round-trip equality
  * against the source snapshot pins the export's self-consistency (q128,
  * q129, q130).
  *
  * Scope: each `export` call appends one snapshot holding `df`'s rows (a
  * mutated store is exported as its RESOLVED content — delta chains and
  * mor delete files fold, which is what a cross-engine handoff of state
  * wants; the delete-file APIs cover the mor interchange direction).
  * Primitive + array/struct/map column types; all spec partition
  * transforms. */
object IcebergExport {

  import FilePruning.{SpecField, entryOf, parseSpecEntry, partColumn, partResultType}

  /** One export's receipt: the snapshot id written, the data files THIS
    * export added, and their row count. */
  final case class Export(snapshotId: Long, dataFiles: Seq[String], rows: Long)

  /** Footer-derived stats of one data file this export wrote. */
  private final case class FileStats(path: String, bytes: Long, records: Long,
      lower: Map[Int, Array[Byte]], upper: Map[Int, Array[Byte]],
      partVals: Map[String, Any],
      valueCounts: Map[Int, Long], nullCounts: Map[Int, Long])

  /** A pruning/filter predicate for [[readTable]] / [[plannedDataFiles]]:
    * `op` ∈ {=, !=, <, <=, >, >=, in, isnull, notnull} over one top-level
    * column (`value` is ignored for the null ops; for `in` it is the
    * Iterable of values). Files prune inclusively against their bounds,
    * null/value counts and partition tuples ([[FilePruning.keep]]), and
    * [[readTable]] also applies it as a residual row filter, so results
    * equal `readTable().filter(...)`. */
  final case class Predicate(column: String, op: String, value: Any = null) {
    require(Set("=", "!=", "<", "<=", ">", ">=", "in", "isnull", "notnull")(op),
      s"unsupported op $op")
    if (op == "in") require(value.isInstanceOf[Iterable[_]],
      "in predicate needs an Iterable of values")
  }

  /** (data files kept, data files live) of the most recent plan on this
    * JVM — the audit observable for prune require()s (mirror of
    * [[SnapshotTable#lastPruneStats]]). */
  @volatile var lastPlanStats: (Long, Long) = (0L, 0L)

  /** JSON string escape for interpolated names — a column name with a quote
    * or backslash (legal in Spark) must not corrupt the schema JSON. */
  private def jsonEsc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => "\\u%04x".format(c.toInt)
      case c => c.toString
    }

  // ── Iceberg schema JSON from a Spark schema (spec §"Schemas") ──────────

  private def icebergType(dt: DataType, nextId: () => Int): String = dt match {
    case BooleanType => "\"boolean\""
    case IntegerType | ShortType | ByteType => "\"int\""
    case LongType => "\"long\""
    case FloatType => "\"float\""
    case DoubleType => "\"double\""
    case StringType => "\"string\""
    case BinaryType => "\"binary\""
    case DateType => "\"date\""
    case _: TimestampType => "\"timestamptz\""
    case d: DecimalType => s""""decimal(${d.precision}, ${d.scale})""""
    case ArrayType(elem, containsNull) =>
      val id = nextId()
      s"""{"type":"list","element-id":$id,"element":${icebergType(elem, nextId)},"element-required":${!containsNull}}"""
    case MapType(k, v, valueContainsNull) =>
      val kid = nextId(); val vid = nextId()
      s"""{"type":"map","key-id":$kid,"key":${icebergType(k, nextId)},"value-id":$vid,"value":${icebergType(v, nextId)},"value-required":${!valueContainsNull}}"""
    case StructType(fields) =>
      val fs = fields.map { f =>
        val id = nextId()
        s"""{"id":$id,"name":"${jsonEsc(f.name)}","required":${!f.nullable},"type":${icebergType(f.dataType, nextId)}}"""
      }
      s"""{"type":"struct","fields":[${fs.mkString(",")}]}"""
    case other => throw new IllegalArgumentException(
      s"iceberg export: unsupported type ${other.simpleString}")
  }

  /** (schema json with schema-id, last column/element id, top-level
    * name → field id). */
  private[sources] def icebergSchema(schema: StructType): (String, Int, Map[String, Int]) = {
    var last = 0
    val nextId = () => { last += 1; last }
    // top-level ids are assigned first within each field's visit, in order
    val top = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    val fs = schema.fields.map { f =>
      val id = nextId()
      top(f.name) = id
      s"""{"id":$id,"name":"${jsonEsc(f.name)}","required":${!f.nullable},"type":${icebergType(f.dataType, nextId)}}"""
    }
    val body =
      s"""{"type":"struct","schema-id":0,"fields":[${fs.mkString(",")}]}"""
    (body, last, top.toMap)
  }

  /** A Spark type as it ROUND-TRIPS through the Iceberg JSON mapping
    * (short/byte surface as int — what [[icebergType]] writes and
    * [[sparkType]] reads back). Schema comparisons against a chain must
    * normalize, or a ShortType frame re-exported unchanged would look
    * like an (illegal) evolution. */
  private def normType(dt: DataType): DataType = dt match {
    case ShortType | ByteType => IntegerType
    case ArrayType(e, n) => ArrayType(normType(e), n)
    case MapType(k, v, n) => MapType(normType(k), normType(v), n)
    case StructType(fs) =>
      StructType(fs.map(f => f.copy(dataType = normType(f.dataType))))
    case other => other
  }

  private def normSchema(s: StructType): StructType =
    normType(s).asInstanceOf[StructType]

  /** EVOLVE the chain's current schema to `schema` with STABLE field ids —
    * the Iceberg evolution rules the jsonless path can express: kept
    * columns (matched by name) carry their field json VERBATIM (nested
    * element/field ids stay stable), RENAMED columns (named in `renames`,
    * old → new) carry their field id under the new name — metadata-only,
    * like the spec — legal primitive promotions (int → long,
    * float → double) keep the id under the new type, added columns get
    * fresh ids past the chain's last-column-id, dropped columns simply
    * leave the new schema (old data files keep their bytes; a later
    * re-add of the same name takes a FRESH id, and [[readTable]]'s
    * per-file field-id resolution reads the old bytes as null under it —
    * the spec's id-based rule). Anything else refuses loudly. Returns
    * (schema json with the NEXT schema-id, new last-column-id, top-level
    * name → id, schema-id). */
  private def evolveSchema(st: TableState, schema: StructType,
      renames: Map[String, String] = Map.empty): (String, Int, Map[String, Int], Int) = {
    implicit val fmts: Formats = DefaultFormats
    val prevFields: Map[String, JValue] = (st.schemaAst \ "fields").children
      .map(f => (f \ "name").extract[String] -> f).toMap
    var last = (st.meta \ "last-column-id").extract[Int]
    val nextId = () => { last += 1; last }
    val top = scala.collection.mutable.LinkedHashMap.empty[String, Int]
    // rename sources whose TARGET is actually in the exported schema: only
    // those moved their id — a declared rename whose target the frame does
    // not carry is inert, and its source keeps matching by name
    val movedSources: Set[String] = renames.collect {
      case (o, n) if schema.fieldNames.contains(n) => o }.toSet
    // dotted rename pairs ("col.sub" → "col.newsub") are NESTED renames
    // scoped to their holder column; evolveStructJson consumes them as
    // holder-relative paths
    def nestedRenamesFor(colName: String): Map[String, String] =
      renames.collect { case (o, n)
        if o.contains('.') && n.contains('.') &&
          o.takeWhile(_ != '.') == colName &&
          n.takeWhile(_ != '.') == colName =>
        o.substring(colName.length + 1) -> n.substring(colName.length + 1) }
    val fs = schema.fields.map { f =>
      val newType = normType(f.dataType)
      // a declared rename resolves to its OLD field, carrying the field id
      // under the new name; it wins over an accidental same-name match.
      // A column NAMED like a rename SOURCE must not name-match either —
      // the source's id just moved to the rename target, so a same-export
      // re-occupant of the old name is an ADD with a fresh id (matching
      // by name would mint two fields with one id: invalid metadata).
      val renamedFrom: Option[JValue] = renames.collectFirst {
        case (o, n) if n == f.name => o }.flatMap(prevFields.get)
      renamedFrom.orElse(
        if (movedSources.contains(f.name)) None
        else prevFields.get(f.name)) match {
        case Some(pf) =>
          val id = (pf \ "id").extract[Int]
          top(f.name) = id
          val prevType = sparkType(pf \ "type")
          val pfNamed =
            if (renamedFrom.isDefined)
              pf merge JObject("name" -> JString(f.name))
            else pf
          if (prevType == newType) {
            // nullability: required → optional is the one legal widening;
            // optional can never become required (history has nulls)
            if ((pf \ "required") == JBool(true) && f.nullable)
              JsonMethods.compact(JsonMethods.render(
                pfNamed merge JObject("required" -> JBool(false))))
            else JsonMethods.compact(JsonMethods.render(pfNamed))
          } else if (promotedPrim(prevType, newType))
            s"""{"id":$id,"name":"${jsonEsc(f.name)}","required":${(pf \ "required") == JBool(true) && !f.nullable},"type":${icebergType(newType, nextId)}}"""
          else evolveStructJson(pf \ "type", newType, nextId,
            nestedRenamesFor(f.name)) match {
            // NESTED struct evolution (r19 adds; r20 the full family):
            // kept subfields carry their ids — through declared renames
            // too — drops leave, promotions widen under the old id, added
            // subfields take fresh ids. Metadata-only, like the spec.
            case Some(tj) =>
              s"""{"id":$id,"name":"${jsonEsc(f.name)}","required":${(pf \ "required") == JBool(true) && !f.nullable},"type":$tj}"""
            case None => throw new IllegalArgumentException(
              s"incremental export cannot evolve column ${f.name}: " +
                s"${prevType.simpleString} → ${f.dataType.simpleString} is " +
                "not an Iceberg-legal promotion (int→long, float→double, " +
                "or a struct add/rename/drop/promote evolution)")
          }
        case None =>
          val id = nextId()
          top(f.name) = id
          // added columns are ALWAYS optional (spec): pre-evolution rows
          // read as null in them regardless of the frame's nullability
          s"""{"id":$id,"name":"${jsonEsc(f.name)}","required":false,"type":${icebergType(newType, nextId)}}"""
      }
    }
    // no EFFECTIVE change (e.g. a nullability tighten we ignore) → carry
    // the current schema; never append duplicate schemas entries
    val prevCompact =
      JsonMethods.compact(JsonMethods.render(st.schemaAst \ "fields"))
    if (prevCompact == "[" + fs.mkString(",") + "]")
      (JsonMethods.compact(JsonMethods.render(st.schemaAst)),
        (st.meta \ "last-column-id").extract[Int], st.fieldIds,
        (st.meta \ "current-schema-id").extract[Int])
    else {
      val newId = (st.meta \ "schemas").children
        .map(s => (s \ "schema-id").extract[Int]).max + 1
      (s"""{"type":"struct","schema-id":$newId,"fields":[${fs.mkString(",")}]}""",
        last, top.toMap, newId)
    }
  }

  /** Iceberg's legal primitive promotions (shared by top-level and nested
    * evolution). */
  private def promotedPrim(prev: DataType, now: DataType): Boolean =
    (prev, now) match {
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case _ => false
    }

  /** Evolve a STRUCT field's type json to `now` with STABLE subfield ids —
    * the full nested evolution family (r20): kept subfields (matched by
    * name, or by a declared RENAME in `renames` — relative dotted paths,
    * old → new, same holder) carry their ids, legal promotions
    * (int → long, float → double) keep the id under the new type, DROPPED
    * subfields simply leave (old files keep their bytes; [[readDataResolved]]
    * reads by id so a re-added name takes a fresh id and null-fills
    * history), added subfields mint fresh ids. Recursive for struct-typed
    * subfields. None = not expressible (a non-promotable type change, or a
    * rename through a non-struct) — the caller refuses loudly. */
  private def evolveStructJson(prevTypeJson: JValue, now: DataType,
      nextId: () => Int,
      renames: Map[String, String] = Map.empty): Option[String] = {
    implicit val fmts: Formats = DefaultFormats
    (prevTypeJson, now) match {
      case (o: JObject, s: StructType) if (o \ "type") == JString("struct") =>
        val prevByName = (o \ "fields").children.map(f =>
          (f \ "name").extract[String] -> f).toMap
        // single-segment pairs rename AT this level; dotted pairs with a
        // shared head segment descend into that subfield
        val leafRen = renames.filter { case (op2, np) =>
          !op2.contains('.') && !np.contains('.') }
        def head(p: String) = p.takeWhile(_ != '.')
        def tail(p: String) = p.substring(p.indexOf('.') + 1)
        val deeper: Map[String, Map[String, String]] = renames.toSeq.collect {
          case (op2, np) if op2.contains('.') && np.contains('.') &&
            head(op2) == head(np) => (head(op2), tail(op2) -> tail(np))
        }.groupBy(_._1).map { case (h, xs) => h -> xs.map(_._2).toMap }
        // a rename source whose target this struct carries moved its id —
        // it must not name-match (same rule as the top level)
        val moved: Set[String] = leafRen.collect {
          case (o2, n2) if s.fieldNames.contains(n2) => o2 }.toSet
        val parts = s.fields.toSeq.map { sf =>
          val renamedFrom = leafRen.collectFirst {
            case (o2, n2) if n2 == sf.name => o2 }.flatMap(prevByName.get)
          renamedFrom.orElse(
            if (moved.contains(sf.name)) None
            else prevByName.get(sf.name)) match {
            case Some(pf2) =>
              val pt = sparkType(pf2 \ "type")
              val nt = normType(sf.dataType)
              val id = (pf2 \ "id").extract[Int]
              val req = (pf2 \ "required") == JBool(true)
              if (pt == nt)
                Some(JsonMethods.compact(JsonMethods.render(
                  pf2 merge JObject("name" -> JString(sf.name)))))
              else if (promotedPrim(pt, nt))
                // nullability widens with the frame, like the top-level
                // promote: a required subfield whose new data is nullable
                // must become optional, or the schema would declare
                // required over files holding nulls
                Some(s"""{"id":$id,"name":"${jsonEsc(sf.name)}","required":${req && !sf.nullable},"type":${icebergType(nt, nextId)}}""")
              else evolveStructJson(pf2 \ "type", nt, nextId,
                deeper.getOrElse(sf.name, Map.empty)).map { tj =>
                s"""{"id":$id,"name":"${jsonEsc(sf.name)}","required":$req,"type":$tj}"""
              }
            case None =>
              val id = nextId()
              Some(s"""{"id":$id,"name":"${jsonEsc(sf.name)}","required":false,"type":${icebergType(normType(sf.dataType), nextId)}}""")
          }
        }
        if (parts.exists(_.isEmpty)) None
        else Some(
          s"""{"type":"struct","fields":[${parts.flatten.mkString(",")}]}""")
      case _ => None
    }
  }

  /** Spark type from an Iceberg schema-JSON type node (the reader side). */
  private def sparkType(t: JValue): DataType = t match {
    case JString("boolean") => BooleanType
    case JString("int") => IntegerType
    case JString("long") => LongType
    case JString("float") => FloatType
    case JString("double") => DoubleType
    case JString("string") => StringType
    case JString("binary") => BinaryType
    case JString("date") => DateType
    case JString("timestamptz") | JString("timestamp") => TimestampType
    case JString(s) if s.startsWith("decimal(") =>
      val Array(p, sc) = s.stripPrefix("decimal(").stripSuffix(")")
        .split(",").map(_.trim.toInt)
      DecimalType(p, sc)
    case o: JObject => (o \ "type") match {
      case JString("list") =>
        ArrayType(sparkType(o \ "element"),
          containsNull = (o \ "element-required") != JBool(true))
      case JString("map") =>
        MapType(sparkType(o \ "key"), sparkType(o \ "value"),
          valueContainsNull = (o \ "value-required") != JBool(true))
      case JString("struct") =>
        StructType((o \ "fields").children.map { f =>
          implicit val fmts: Formats = DefaultFormats
          StructField((f \ "name").extract[String], sparkType(f \ "type"),
            nullable = (f \ "required") != JBool(true))
        })
      case other => throw new IllegalArgumentException(
        s"iceberg read: unsupported nested type $other")
    }
    case other => throw new IllegalArgumentException(
      s"iceberg read: unsupported type $other")
  }

  private def sparkSchema(schemaAst: JValue): StructType =
    sparkType(schemaAst).asInstanceOf[StructType]

  /** `df` re-projected so every column (nested struct subfields included)
    * carries `parquet.field.id` metadata, ids taken from the Iceberg
    * schema-JSON `fields` list in matching order. Spark's parquet writer
    * emits the ids into the file schema
    * (spark.sql.parquet.fieldId.write.enabled, on by default), so a real
    * Iceberg reader resolves the exported data files by FIELD ID — renames
    * and dropped-name re-adds stay metadata-only for foreign readers
    * exactly as for [[readTable]]'s own per-file resolution, and
    * [[footerTopLevelIds]] can recover an expired parent schema's id map
    * from any data file.
    *
    * Implementation note: `Dataset.to(schema)` silently DROPS the target
    * schema's field metadata, so the ids must ride Alias metadata —
    * top-level via `col.as(name, md)`, struct subfields by rebuilding the
    * struct from aliased `getField`s (NULL structs preserved through a
    * cast whose target type carries the nested metadata). Map key/value
    * and array element ids cannot be expressed through Spark metadata at
    * all — the `schema.name-mapping.default` table property covers those
    * (Iceberg name-mapping spec). Projection-only: stays inside
    * whole-stage codegen, no RDD round trip. */
  private def withFieldIds(df: DataFrame, astFields: Seq[JValue]): DataFrame = {
    implicit val fmts: Formats = DefaultFormats
    def mdOf(fAst: JValue, base: Metadata): Metadata =
      new MetadataBuilder().withMetadata(base)
        .putLong("parquet.field.id", (fAst \ "id").extract[Int].toLong)
        .build()
    def rebuild(c: Column, dt: DataType, tAst: JValue): (Column, DataType) =
      (dt, tAst) match {
        case (s: StructType, o: JObject)
            if (o \ "type") == JString("struct") =>
          val fAsts = (o \ "fields").children
          val parts = s.fields.toSeq.zip(fAsts).map { case (f, fAst) =>
            val (cc, cdt) = rebuild(c.getField(f.name), f.dataType,
              fAst \ "type")
            val md = mdOf(fAst, f.metadata)
            (cc.as(f.name, md), StructField(f.name, cdt, nullable = true, md))
          }
          val outT = StructType(parts.map(_._2))
          (when(c.isNull, lit(null).cast(outT))
            .otherwise(struct(parts.map(_._1): _*)), outT)
        case _ => (c, dt)
      }
    df.select(df.schema.fields.toSeq.zip(astFields).map { case (f, fAst) =>
      val (cc, _) = rebuild(col(f.name), f.dataType, fAst \ "type")
      cc.as(f.name, mdOf(fAst, f.metadata))
    }: _*)
  }

  // ── single-value binary serialization (spec §"Binary single-value
  //    serialization" — bounds map values) ─────────────────────────────────

  private def le(n: Int): java.nio.ByteBuffer =
    java.nio.ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)

  /** Bound bytes for one canonical stat string (the store's commit-time
    * footer-stat form: longs for ints/dates, micros for timestamps, raw
    * strings) under the column's Spark type; None = type not serialized
    * (omission only disables pruning for the column). */
  private def boundBytes(dt: DataType, canonical: String): Option[Array[Byte]] =
    try dt match {
      case IntegerType | ShortType | ByteType =>
        Some(le(4).putInt(canonical.toLong.toInt).array())
      case DateType => Some(le(4).putInt(canonical.toLong.toInt).array())
      case LongType => Some(le(8).putLong(canonical.toLong).array())
      case _: TimestampType => Some(le(8).putLong(canonical.toLong).array())
      case FloatType => Some(le(4).putFloat(canonical.toFloat).array())
      case DoubleType => Some(le(8).putDouble(canonical.toDouble).array())
      case BooleanType =>
        Some(Array[Byte](if (canonical.toBoolean) 1 else 0))
      case StringType => Some(canonical.getBytes("UTF-8"))
      case _: DecimalType =>
        // the spec's decimal serialization: UNSCALED value as the minimal
        // number of two's-complement big-endian bytes (exactly BigInteger's
        // toByteArray). The canonical stat is the raw unscaled long the
        // store's footer pass records for INT32/INT64-physical decimals.
        Some(java.math.BigInteger.valueOf(canonical.toLong).toByteArray)
      case _ => None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Decode bound bytes back to a comparison-domain value: Long for the
    * integral family (ints, dates→days, timestamps→micros), Double for
    * floats, String, Boolean. The exact inverse of [[boundBytes]]. */
  private def boundValue(dt: DataType, bytes: Array[Byte]): Option[Any] =
    try dt match {
      case IntegerType | ShortType | ByteType | DateType =>
        Some(le(4).put(bytes).flip().asInstanceOf[java.nio.ByteBuffer].getInt.toLong)
      case LongType | _: TimestampType =>
        Some(le(8).put(bytes).flip().asInstanceOf[java.nio.ByteBuffer].getLong)
      case FloatType =>
        Some(le(4).put(bytes).flip().asInstanceOf[java.nio.ByteBuffer].getFloat.toDouble)
      case DoubleType =>
        Some(le(8).put(bytes).flip().asInstanceOf[java.nio.ByteBuffer].getDouble)
      case BooleanType => Some(bytes.headOption.contains(1: Byte))
      case StringType => Some(new String(bytes, "UTF-8"))
      case d: DecimalType =>
        // minimal big-endian two's-complement unscaled bytes (handles
        // negative values and any byte length a foreign writer minimized to)
        Some(new java.math.BigDecimal(
          new java.math.BigInteger(bytes), d.scale))
      case _ => None
    } catch { case scala.util.control.NonFatal(_) => None }

  // ── the spec's Avro record layouts (field-id properties included) ──────

  /** manifest_entry schema; the r102 partition record's fields are the
    * table's identity partition columns (name, avro type json, field-id
    * 1000+i), empty for unpartitioned tables. */
  private def manifestEntrySchema(partFields: Seq[(String, String, Int)]): Schema = {
    val pf = partFields.map { case (n, avro, fid) =>
      s"""{"name":"$n","type":["null",$avro],"default":null,"field-id":$fid}"""
    }.mkString(",")
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
      {"name":"status","type":"int","field-id":0},
      {"name":"snapshot_id","type":["null","long"],"default":null,"field-id":1},
      {"name":"sequence_number","type":["null","long"],"default":null,"field-id":3},
      {"name":"file_sequence_number","type":["null","long"],"default":null,"field-id":4},
      {"name":"data_file","type":{"type":"record","name":"r2","fields":[
        {"name":"content","type":"int","field-id":134},
        {"name":"file_path","type":"string","field-id":100},
        {"name":"file_format","type":"string","field-id":101},
        {"name":"partition","type":{"type":"record","name":"r102","fields":[$pf]},"field-id":102},
        {"name":"record_count","type":"long","field-id":103},
        {"name":"file_size_in_bytes","type":"long","field-id":104},
        {"name":"equality_ids","type":["null",{"type":"array","items":"int","element-id":136}],"default":null,"field-id":135},
        {"name":"value_counts","type":["null",{"type":"array","items":{"type":"record","name":"k119_v120","fields":[
          {"name":"key","type":"int","field-id":119},
          {"name":"value","type":"long","field-id":120}]},"logicalType":"map"}],"default":null,"field-id":109},
        {"name":"null_value_counts","type":["null",{"type":"array","items":{"type":"record","name":"k121_v122","fields":[
          {"name":"key","type":"int","field-id":121},
          {"name":"value","type":"long","field-id":122}]},"logicalType":"map"}],"default":null,"field-id":110},
        {"name":"lower_bounds","type":["null",{"type":"array","items":{"type":"record","name":"k126_v127","fields":[
          {"name":"key","type":"int","field-id":126},
          {"name":"value","type":"bytes","field-id":127}]},"logicalType":"map"}],"default":null,"field-id":125},
        {"name":"upper_bounds","type":["null",{"type":"array","items":{"type":"record","name":"k129_v130","fields":[
          {"name":"key","type":"int","field-id":129},
          {"name":"value","type":"bytes","field-id":130}]},"logicalType":"map"}],"default":null,"field-id":128},
        {"name":"sort_order_id","type":["null","int"],"default":null,"field-id":140}
      ]},"field-id":2}]}""")
  }

  private val ManifestFileSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      {"name":"manifest_path","type":"string","field-id":500},
      {"name":"manifest_length","type":"long","field-id":501},
      {"name":"partition_spec_id","type":"int","field-id":502},
      {"name":"content","type":"int","field-id":517},
      {"name":"sequence_number","type":"long","field-id":515},
      {"name":"min_sequence_number","type":"long","field-id":516},
      {"name":"added_snapshot_id","type":"long","field-id":503},
      {"name":"added_files_count","type":"int","field-id":504},
      {"name":"existing_files_count","type":"int","field-id":505},
      {"name":"deleted_files_count","type":"int","field-id":506},
      {"name":"added_rows_count","type":"long","field-id":512},
      {"name":"existing_rows_count","type":"long","field-id":513},
      {"name":"deleted_rows_count","type":"long","field-id":514}]}""")

  /** Avro type (json fragment) for an identity partition column. */
  private def partAvroType(dt: DataType): String = dt match {
    case IntegerType | ShortType | ByteType => "\"int\""
    case LongType => "\"long\""
    case StringType => "\"string\""
    case BooleanType => "\"boolean\""
    case FloatType => "\"float\""
    case DoubleType => "\"double\""
    case DateType => """{"type":"int","logicalType":"date"}"""
    case other => throw new IllegalArgumentException(
      s"iceberg export: unsupported partition column type ${other.simpleString}")
  }

  private def writeAvro(spark: SparkSession, path: Path, schema: Schema,
      meta: Map[String, String], rows: Seq[GenericData.Record]): Long = {
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = createFile(fs, path)
    var closed = false
    try {
      val w = new DataFileWriter(new GenericDatumWriter[GenericData.Record](schema))
      meta.foreach { case (k, v) => w.setMeta(k, v) }
      w.create(schema, out)
      try rows.foreach(w.append)
      finally { w.close(); closed = true } // closes the FS stream too
    } finally
      // a failure before the writer owned the stream must not leak it
      if (!closed)
        try out.close() catch { case scala.util.control.NonFatal(_) => () }
    fs.getFileStatus(path).getLen
  }

  private def readAvro(spark: SparkSession, path: Path): Seq[GenericData.Record] = {
    val in = new FsInput(path, spark.sparkContext.hadoopConfiguration)
    val r = new DataFileReader(in, new GenericDatumReader[GenericData.Record]())
    try {
      val buf = scala.collection.mutable.ArrayBuffer.empty[GenericData.Record]
      while (r.hasNext) buf += r.next()
      buf.toSeq
    } finally r.close()
  }

  // ── table state (read side of the metadata chain) ───────────────────────

  /** The current chain state of an exported table, parsed from
    * version-hint → vN.metadata.json. `specFields` is the DEFAULT spec;
    * `specsById` holds every parseable historical spec (spec evolution:
    * files keep the spec they were written under and prune against it —
    * a spec naming a source the current schema dropped is omitted, which
    * only disables partition pruning for its files). */
  private final case class TableState(
      version: Int, meta: JValue, location: String,
      schemaAst: JValue, fields: StructType, fieldIds: Map[String, Int],
      specFields: Seq[SpecField],
      specsById: Map[Int, Seq[SpecField]],
      defaultSpecId: Int,
      lastSeq: Long, currentSnapshotId: Long, snapshots: Seq[JValue],
      properties: Map[String, String])

  private def readStr(spark: SparkSession, p: Path): String = {
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(p)
    try new String(in.readAllBytes(), "UTF-8") finally in.close()
  }

  private def hintPath(dir: String) = new Path(s"$dir/metadata/version-hint.text")

  private def tableExists(spark: SparkSession, dir: String): Boolean = {
    val p = hintPath(dir)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def readState(spark: SparkSession, dir: String): TableState = {
    implicit val fmts: Formats = DefaultFormats
    val v = readStr(spark, hintPath(dir)).trim.toInt
    val meta = JsonMethods.parse(
      readStr(spark, new Path(s"$dir/metadata/v$v.metadata.json")))
    val schemaId = (meta \ "current-schema-id").extract[Int]
    val schemaAst = (meta \ "schemas").children.find(s =>
      (s \ "schema-id").extract[Int] == schemaId).getOrElse(
      throw new IllegalStateException(s"schema $schemaId not in metadata"))
    val fieldIds = (schemaAst \ "fields").children.map { f =>
      (f \ "name").extract[String] -> (f \ "id").extract[Int]
    }.toMap
    val specId = (meta \ "default-spec-id").extract[Int]
    val idToName = fieldIds.map(_.swap)
    def parseSpec(s: JValue): Option[Seq[SpecField]] = {
      val fields = (s \ "fields").children.map { f =>
        val name = (f \ "name").extract[String]
        val transform = (f \ "transform").extract[String]
        idToName.get((f \ "source-id").extract[Int])
          .map(src => SpecField(entryOf(transform, src), name, transform, src))
      }
      if (fields.forall(_.isDefined)) Some(fields.flatten) else None
    }
    val specsById: Map[Int, Seq[SpecField]] =
      (meta \ "partition-specs").children.flatMap { s =>
        parseSpec(s).map((s \ "spec-id").extract[Int] -> _)
      }.toMap
    val spec = specsById.getOrElse(specId,
      (meta \ "partition-specs").children.find(s =>
        (s \ "spec-id").extract[Int] == specId) match {
        case Some(_) => throw new IllegalStateException(
          "the default partition spec names an unknown source-id")
        case None => Nil
      })
    val props = (meta \ "properties") match {
      case JObject(fs) => fs.collect { case (k, JString(v2)) => k -> v2 }.toMap
      case _ => Map.empty[String, String]
    }
    TableState(v, meta, (meta \ "location").extract[String], schemaAst,
      sparkSchema(schemaAst), fieldIds, spec, specsById, specId,
      (meta \ "last-sequence-number").extract[Long],
      (meta \ "current-snapshot-id").extract[Long],
      (meta \ "snapshots").children, props)
  }

  // ── export (create or append a snapshot to the chain) ───────────────────

  /** Write `df` as a snapshot of the Iceberg v2 table at `destDir`. First
    * call creates the table (v1.metadata.json, sequence 1); later calls
    * APPEND a snapshot to the same metadata chain — `df` is the delta, the
    * schema and `partitionBy` must match the table's, previous manifests
    * carry forward, and `parent-snapshot-id`/`snapshot-log`/`metadata-log`
    * record the lineage. External readers (and [[readTable]]) time-travel
    * by snapshot id. */
  def export(df: DataFrame, destDir: String,
      partitionBy: Seq[String] = Nil,
      sortOrder: Seq[String] = Nil): Export =
    exportInternal(df, destDir, partitionBy, overwrite = false, Map.empty,
      sortOrder)

  /** `overwrite = true` writes an OVERWRITE snapshot: the new manifest is
    * the snapshot's ONLY manifest (nothing carried forward), so current
    * content is exactly `df` while older snapshots keep their files for
    * time travel — the shape [[syncStore]] uses for coarse store mutations. */
  private[graft] def exportInternal(df: DataFrame, destDir: String,
      partitionBy: Seq[String], overwrite: Boolean,
      extraProps: Map[String, String],
      sortOrder: Seq[String] = Nil,
      extraSummary: Map[String, String] = Map.empty,
      renames: Map[String, String] = Map.empty): Export = {
    val spark = df.sparkSession
    val specs = partitionBy.map(FilePruning.validateSpecEntry(df.schema, _))
    specs.foreach { sf =>
      require(df.columns.contains(sf.source),
        s"partition source column ${sf.source} not in schema")
      require(sf.name.matches("[A-Za-z_][A-Za-z0-9_]*"),
        s"partition field ${sf.name} must be avro-name-safe")
      require(sf.isIdentity || !df.columns.contains(sf.name),
        s"derived partition field ${sf.name} collides with a schema column")
    }
    require(specs.map(_.name).distinct.size == specs.size,
      s"duplicate partition fields in ${partitionBy.mkString(", ")}")
    val prev = if (tableExists(spark, destDir)) Some(readState(spark, destDir)) else None
    implicit val fmts: Formats = DefaultFormats
    // schema vs the chain: first export assigns fresh ids; an unchanged
    // schema carries the chain's CURRENT entry (and its whole schemas
    // history); a changed one EVOLVES it with stable field ids
    val (schemaJson, lastColumnId, fieldIds, schemaId) = prev match {
      case None =>
        val (j, last, ids) = icebergSchema(df.schema)
        (j, last, ids, 0)
      case Some(st) if st.fields == normSchema(df.schema) =>
        (JsonMethods.compact(JsonMethods.render(st.schemaAst)),
          (st.meta \ "last-column-id").extract[Int], st.fieldIds,
          (st.meta \ "current-schema-id").extract[Int])
      case Some(st) =>
        // dropping a column that LIVE equality-delete files key on would
        // make the chain unreadable (the delete's field id resolves to
        // nothing) — refuse loudly before any data lands. A RENAME is not
        // a drop: the field id survives under the new name — but only an
        // EFFECTIVE rename exempts its source (a declared rename whose
        // target the frame does not carry is inert per evolveSchema's
        // movedSources rule, so its source is still being dropped).
        val dropped = st.fieldIds.view
          .filterKeys(n => !df.schema.fieldNames.contains(n) &&
            !renames.get(n).exists(t => df.schema.fieldNames.contains(t)))
          .toMap
        if (dropped.nonEmpty) {
          val liveEqIds = plannedOf(spark, st, st.currentSnapshotId)
            .filter(_.content == 2).flatMap(_.equalityIds).toSet
          val conflict = dropped.filter(kv => liveEqIds.contains(kv._2))
          require(conflict.isEmpty,
            s"cannot drop column(s) ${conflict.keys.mkString(", ")} at " +
              s"$destDir — live equality-delete files key on them")
        }
        evolveSchema(st, df.schema, renames)
    }
    val prevSchemas: Seq[JValue] =
      prev.map(st => (st.meta \ "schemas").children).getOrElse(Nil)
    // ── partition-spec resolution (spec EVOLUTION, the Iceberg rule): an
    // export whose partitionBy differs from the table's default spec does
    // not refuse — it reuses the historical spec with the same
    // (name, transform, source FIELD id) fields, or MINTS spec-id N+1.
    // Files keep the spec they were written under (per-manifest spec id)
    // and [[readTable]] prunes each file against ITS spec; partition
    // FIELD ids are reused across specs for the same (transform, source)
    // and otherwise advance past last-partition-id.
    val (specId, partFieldIds): (Int, Seq[Int]) = prev match {
      case None => (0, specs.indices.map(1000 + _))
      case Some(st) =>
        val prevSpecsJson = (st.meta \ "partition-specs").children
        def keyOf(f: JValue): (String, String, Int) =
          ((f \ "name").extract[String], (f \ "transform").extract[String],
            (f \ "source-id").extract[Int])
        val wanted: Seq[(String, String, Int)] =
          specs.map(sf => (sf.name, sf.transform, fieldIds(sf.source)))
        prevSpecsJson.find(s =>
          (s \ "fields").children.map(keyOf) == wanted) match {
          case Some(s) => ((s \ "spec-id").extract[Int],
            (s \ "fields").children.map(f => (f \ "field-id").extract[Int]))
          case None =>
            val fieldIdOf: Map[(String, Int), Int] = prevSpecsJson.flatMap(s =>
              (s \ "fields").children.map(f =>
                ((f \ "transform").extract[String],
                  (f \ "source-id").extract[Int]) ->
                  (f \ "field-id").extract[Int])).toMap
            val newId = prevSpecsJson
              .map(s => (s \ "spec-id").extract[Int]).max + 1
            var lastP = (st.meta \ "last-partition-id").extractOpt[Int]
              .getOrElse(999)
            val ids = wanted.map { case (_, tr, srcId) =>
              fieldIdOf.getOrElse((tr, srcId), { lastP += 1; lastP })
            }
            (newId, ids)
        }
    }
    val hconf = spark.sparkContext.hadoopConfiguration
    val dest = new Path(destDir)
    val fs = dest.getFileSystem(hconf)
    val location = prev.map(_.location).getOrElse(fs.makeQualified(dest).toString)

    // 1. the data files (append keeps previous snapshots' files untouched).
    //    The new snapshot adopts exactly the files THIS write added — the
    //    before/after listing delta — never a list-minus-manifest diff:
    //    files on disk but in no manifest (a crashed earlier export's
    //    orphans, or files no longer carried after an OVERWRITE snapshot)
    //    must not be silently adopted and duplicate rows. Orphans stay on
    //    disk unreferenced (Iceberg's remove-orphan-files problem, same
    //    cause). Exports to one dest are single-writer by contract — the
    //    sync cadence — so the two listings cannot interleave a foreign
    //    writer's files. Cost: two listings, never a chain-length re-read.
    val before: Set[String] = listDataFiles(spark, destDir).map(_._1).toSet
    val typeByName = df.schema.fields.map(f => f.name -> f.dataType).toMap
    // the declared write order (zorder spelled as a multi-column order):
    // metadata records it in sort-orders, every file THIS snapshot adds
    // records its id — the clustering survives the handoff, so a foreign
    // engine can see (and preserve) it. Validated BEFORE the data write:
    // a bad column name must not orphan freshly written files.
    val declaredOrderIds = orderColsOf(sortOrder).map(c =>
      fieldIds.getOrElse(c, throw new IllegalArgumentException(
        s"sort-order column $c not in the table schema")))
    // parquet field-id metadata per column (nested included) — foreign
    // Iceberg readers resolve data files by id, so evolution stays
    // metadata-only for them too
    val dfIds = withFieldIds(df,
      (JsonMethods.parse(schemaJson) \ "fields").children)
    // derived transform columns partition the layout; Spark's partitionBy
    // drops them from file contents, so data files keep the SOURCE columns
    val writeDf = specs.filterNot(_.isIdentity).foldLeft(dfIds)((d, sf) =>
      d.withColumn(sf.name, partColumn(sf, typeByName(sf.source))))
    val w = writeDf.write.mode("append")
    (if (specs.nonEmpty) w.partitionBy(specs.map(_.name): _*) else w)
      .parquet(s"$destDir/data")
    val files = listDataFiles(spark, destDir)
      .filterNot { case (p, _) => before.contains(p) }

    // 2. per-file footer stats: record counts, typed column bounds, and the
    //    spec's metrics maps (value_counts = values incl. nulls per column,
    //    null_value_counts) — all from footers the export already opens
    val openFooter = SnapshotTable.footerOpener(hconf)
    val stats = files.map { case (p, len) =>
      val reader = openFooter(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(p), hconf))
      try {
        val cols = SnapshotTable.footerColumnStats(reader.getFooter)
        val lower = scala.collection.mutable.LinkedHashMap.empty[Int, Array[Byte]]
        val upper = scala.collection.mutable.LinkedHashMap.empty[Int, Array[Byte]]
        cols.foreach { case (name, (mn, mx)) =>
          for (fid <- fieldIds.get(name); dt <- typeByName.get(name);
               lo <- boundBytes(dt, mn); hi <- boundBytes(dt, mx)) {
            lower(fid) = lo; upper(fid) = hi
          }
        }
        val valueCounts = scala.collection.mutable.LinkedHashMap.empty[Int, Long]
        val nullCounts = scala.collection.mutable.LinkedHashMap.empty[Int, Long]
        import scala.jdk.CollectionConverters._
        reader.getFooter.getBlocks.asScala.foreach { b =>
          b.getColumns.asScala.foreach { c =>
            fieldIds.get(c.getPath.toDotString).foreach { fid =>
              valueCounts(fid) = valueCounts.getOrElse(fid, 0L) + c.getValueCount
              val st = c.getStatistics
              if (st != null && st.isNumNullsSet)
                nullCounts(fid) = nullCounts.getOrElse(fid, 0L) + st.getNumNulls
            }
          }
        }
        FileStats(p, len, reader.getRecordCount, lower.toMap, upper.toMap,
          partitionValuesOf(p, specs, typeByName),
          valueCounts.toMap, nullCounts.toMap)
      } finally reader.close()
    }
    val rowsTotal = stats.map(_.records).sum
    val seq = prev.map(_.lastSeq + 1).getOrElse(1L)
    val snapshotId = math.abs(java.util.UUID
      .nameUUIDFromBytes(s"$location#snap$seq".getBytes("UTF-8"))
      .getMostSignificantBits)

    // 3. the new manifest (one ADDED entry per new data file, with bounds
    //    and the partition tuple)
    val partFields = specs.zip(partFieldIds).map { case (sf, fid) =>
      (sf.name, partAvroType(partResultType(sf, typeByName(sf.source))), fid)
    }
    val entrySchema = manifestEntrySchema(partFields)
    // resolved ONCE: the per-file id and the metadata list must come from
    // the same derivation
    val ordersResolved = resolveSortOrders(prev, declaredOrderIds)
    val fileOrderId =
      if (declaredOrderIds.nonEmpty) Some(ordersResolved._2) else None
    val entries = stats.map { fst =>
      dataFileEntry(entrySchema, status = 1, snapshotId, seq, content = 0,
        fst.path, fst.records, fst.bytes, fst.partVals, fst.lower, fst.upper,
        equalityIds = Nil, valueCounts = fst.valueCounts,
        nullCounts = fst.nullCounts, sortOrderId = fileOrderId)
    }
    val specFieldsJson = specs.zip(partFieldIds).map { case (sf, fid) =>
      JObject("name" -> JString(sf.name),
        "transform" -> JString(sf.transform),
        "source-id" -> JInt(fieldIds(sf.source)), "field-id" -> JInt(fid))
    }
    // the full partition-specs list: previous specs carry forward verbatim,
    // a freshly minted spec appends
    val thisSpecJson: JValue = JObject("spec-id" -> JInt(specId),
      "fields" -> JArray(specFieldsJson.toList))
    val specsJsonAll: List[JValue] = prev match {
      case None => List(thisSpecJson)
      case Some(st) =>
        val prevSpecsJson = (st.meta \ "partition-specs").children
        if (prevSpecsJson.exists(s => (s \ "spec-id").extract[Int] == specId))
          prevSpecsJson.toList
        else prevSpecsJson.toList :+ thisSpecJson
    }
    val lastPartitionId = (999 +: specsJsonAll.flatMap(s =>
      (s \ "fields").children.map(f => (f \ "field-id").extract[Int]))).max
    writeSnapshot(spark, destDir, prev, location, schemaJson, lastColumnId,
      seq, snapshotId, entrySchema, entries, manifestContent = 0,
      addedRows = rowsTotal,
      operation = if (overwrite) "overwrite" else "append",
      specFields = JArray(specFieldsJson.toList),
      partitionSummary = Map(
        "added-data-files" -> files.size.toString,
        "added-records" -> rowsTotal.toString) ++ extraSummary,
      carryForward = !overwrite, extraProps = extraProps,
      schemaId = schemaId, prevSchemas = prevSchemas,
      sortOrdersResolved = Some(ordersResolved),
      specsJson = specsJsonAll, defaultSpecId = specId,
      manifestSpecId = specId, lastPartitionId = lastPartitionId)
    Export(snapshotId, stats.map(_.path), rowsTotal)
  }

  /** Export a [[SnapshotTable]]'s current resolved content. Pass
    * `partitionBy = st.partitionSpec` to carry the store's recorded hidden
    * partitioning (identity + days/months/years/hours/bucket/truncate
    * entries) into the Iceberg layout — the export recomputes transform
    * values with the SPEC's functions (Iceberg bucket hash, epoch-based
    * time transforms), so foreign readers prune correctly even where the
    * store's internal layout hashes differently. */
  def exportStore(spark: SparkSession, storeRoot: String, destDir: String,
      partitionBy: Seq[String] = Nil): Export = {
    val st = new SnapshotTable(spark, storeRoot)
    // the store's declared write order crosses the boundary: the export's
    // metadata records it and the files (clustered by the store's own
    // commit path) carry its id
    export(st.read(), destDir, partitionBy, sortOrder = st.sortOrder)
  }

  /** The metadata property recording the last store version a
    * [[syncStore]] call mirrored into the chain. */
  val SyncVersionProp = "graft.sync.last-version"

  /** CONTINUOUS store → Iceberg mirroring — the actual handoff cadence
    * (commit in graft, sync the delta, external engines read the chain):
    * every call mirrors the store commits since the last sync into the
    * Iceberg chain at `destDir`, O(delta) on the common paths —
    *
    *  - store `append` commits → Iceberg APPEND snapshots holding exactly
    *    the commit's delta dir (no content re-read);
    *  - store merge-on-read equality deletes → Iceberg EQUALITY-DELETE
    *    files (content=2) with the commit's own key rows — the mutation
    *    stays a mutation instead of being folded away;
    *  - store POSITION deletes (`deleteWherePos`, whose positions name
    *    STORE files the chain cannot map) → content=1 position-delete
    *    files naming equivalently many LIVE CHAIN positions of the same
    *    row values (identical copies are interchangeable) — zero data
    *    files rewritten;
    *  - store mor UPDATE/MERGE commits → an equality-delete file + an
    *    APPEND snapshot holding the replacement rows (two chain
    *    snapshots, O(delta); the cursor lands on the append, and a
    *    replayed delete file is idempotent on read);
    *  - anything coarser (cow overwrite/update/merge, rollback, publish —
    *    or a fine-grained mutation whose schema an unsynced store
    *    evolution left incompatible with the chain's) → ONE full
    *    OVERWRITE snapshot of the resolved content at the LAST such
    *    commit, with every earlier unsynced commit subsumed (never N
    *    rewrites for N commits);
    *  - compaction / evolve / branch commits are content-noops and sync
    *    nothing.
    *
    * The cursor (`graft.sync.last-version`) rides the Iceberg metadata
    * properties, so sync state lives in the chain itself and a fresh
    * process resumes correctly. First call on an empty dest is a full
    * export of current content (optionally `partitionBy`-laid-out; later
    * calls inherit the table's spec). A schema change in the unsynced
    * range EVOLVES the chain's schema (stable field ids, a new schemas
    * entry — see `evolveSchema`); only non-promotable type changes
    * refuse. Returns the store versions synced. */
  def syncStore(spark: SparkSession, storeRoot: String, destDir: String,
      partitionBy: Seq[String] = Nil): Seq[Long] = {
    implicit val fmts: Formats = DefaultFormats
    val st = new SnapshotTable(spark, storeRoot)
    val entries = st.history().select("version", "operation")
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
      .filterNot(_._2.startsWith("branch:")).toSeq
    require(entries.nonEmpty, s"no snapshots at $storeRoot")

    // TAG interchange tail: mirror the store's tags whose pinned versions
    // map to a synced snapshot (the summary stamp). Tags inside a coarse
    // fold have no chain snapshot and are skipped; dropped store tags
    // leave the refs map (the chain's non-main refs are sync-owned).
    // Metadata-only.
    def mirrorTags(): Unit = {
      val stateNow = readState(spark, destDir)
      val verToSnap: Map[Long, Long] = stateNow.snapshots.flatMap { sn =>
        (sn \ "summary" \ "graft-store-version").extractOpt[String]
          .flatMap(_.toLongOption)
          .map(_ -> (sn \ "snapshot-id").extract[Long])
      }.toMap
      val tags: Map[String, (Long, String)] = st.refs().collect()
        .filter(_.getString(1) == "tag")
        .flatMap(r => verToSnap.get(r.getLong(2))
          .map(sid => r.getString(0) -> (sid, "tag")))
        .toMap
      if (tags != chainRefs(spark, destDir)) updateRefs(spark, destDir, tags)
    }

    if (!tableExists(spark, destDir)) {
      val head = entries.last._1
      exportInternal(st.read(), destDir, partitionBy, overwrite = false,
        Map(SyncVersionProp -> head.toString), sortOrder = st.sortOrder,
        extraSummary = Map("graft-store-version" -> head.toString))
      mirrorTags()
      return entries.map(_._1)
    }
    val state = readState(spark, destDir)
    val lastSynced = state.properties.get(SyncVersionProp).map(_.toLong)
      .getOrElse(throw new IllegalStateException(
        s"$destDir was not created by syncStore (no $SyncVersionProp " +
          "property) — start the sync on a fresh dir"))
    var partBy = state.specFields.map(_.entry)
    val todo = entries.filter(_._1 > lastSynced)
    // tags are tick-level, not commit-coupled: a tag created between data
    // commits propagates on the next tick even with nothing else to sync
    if (todo.isEmpty) { mirrorTags(); return Nil }

    def kindOf(op: String): String =
      if (op == "mor-delete") "eqdel"
      else if (st.isPosDelete(op)) "posdel"
      else if (st.isMorUpdateLike(op)) "morupd"
      else if (st.isEvolveOp(op)) "evolve"
      else st.streamOpKind(op)
    val synced = scala.collection.mutable.ArrayBuffer.empty[Long]

    // fold everything up to the LAST coarse mutation into one overwrite
    val lastMut = todo.filter(e => kindOf(e._2) == "mutation").lastOption
    lastMut.foreach { case (v, _) =>
      exportInternal(st.read(Some(v)), destDir, partBy, overwrite = true,
        Map(SyncVersionProp -> v.toString), sortOrder = st.sortOrder,
        extraSummary = Map("graft-store-version" -> v.toString))
      synced ++= todo.takeWhile(_._1 <= v).map(_._1)
    }
    val after = lastMut.map(m => todo.dropWhile(_._1 <= m._1)).getOrElse(todo)
    // content-noops (compact/evolve) are only REPORTED synced when a later
    // writing step's cursor durably covers them: a trailing noop writes no
    // metadata, so claiming it would make the receipt re-report the same
    // version on every later call — the next sync just re-classifies it,
    // idempotently
    val pendingNoops = scala.collection.mutable.ArrayBuffer.empty[Long]
    // the chain's CURRENT top-level columns (fresh per use: earlier loop
    // iterations may have evolved the chain)
    def chainColsNow(): Set[String] =
      readState(spark, destDir).fields.fieldNames.toSet
    // fold one commit to an overwrite of its resolved content — the
    // fallback when a fine-grained mirror has no common schema to map
    def coarseOne(v: Long): Unit =
      exportInternal(st.read(Some(v)), destDir, partBy, overwrite = true,
        Map(SyncVersionProp -> v.toString), sortOrder = st.sortOrder,
        extraSummary = Map("graft-store-version" -> v.toString))
    after.foreach { case (v, op) =>
      kindOf(op) match {
        case "append" =>
          exportInternal(st.appendDelta(v).drop(st.hiddenReadCols: _*),
            destDir, partBy, overwrite = false,
            Map(SyncVersionProp -> v.toString), sortOrder = st.sortOrder,
        extraSummary = Map("graft-store-version" -> v.toString))
          synced ++= pendingNoops; pendingNoops.clear()
          synced += v
        case "eqdel" =>
          val keys = st.appendDelta(v).drop(st.hiddenReadCols: _*)
          if (!keys.columns.forall(chainColsNow().contains))
            // an unsynced store evolution (a content-noop the chain only
            // adopts at the next append) renamed/dropped a key column:
            // fold THIS commit to one overwrite instead of wedging
            coarseOne(v)
          else appendDeleteSnapshot(spark, destDir, keys, content = 2,
            equalityCols = keys.columns.toSeq,
            extraProps = Map(SyncVersionProp -> v.toString),
            extraSummary = Map("graft-store-version" -> v.toString))
          synced ++= pendingNoops; pendingNoops.clear()
          synced += v
        case "posdel" =>
          // the store's positions name STORE files the chain can't map —
          // but identical copies are interchangeable, so mirror the
          // deleted row VALUES (multiset, O(delta) from the commit file)
          // onto that many live CHAIN positions: a content=1 delete
          // snapshot, never a table rewrite
          import org.apache.spark.sql.expressions.Window
          val deleted = st.changesForCommit(v)
            .filter(col("_change_type") === "delete").drop("_change_type")
          if (deleted.columns.toSet != chainColsNow()) {
            // an unsynced store schema evolution precedes this delete: the
            // value multiset has no common schema to map through — fold
            // this one commit to an overwrite instead of wedging the sync
            coarseOne(v)
            synced ++= pendingNoops; pendingNoops.clear()
            synced += v
          } else {
          // derive prune predicates from the deleted-value multiset (the
          // commit's own O(delta) rows): per-column min/max bounds, an IN
          // set when the distinct count is small — so the chain scan
          // prunes to candidate files on a clustered chain (q124's CDC
          // pre-image recipe) instead of reading the whole table per
          // synced delete. A column with ANY null deleted value
          // contributes nothing (predicates also apply residually, and
          // `c >= lo` would drop the null rows). Results are identical
          // with pruning disabled: every deleted row satisfies its own
          // bounds, and rows outside them cannot join the multiset.
          val prunableCols = deleted.schema.fields.filter(f =>
            f.dataType match {
              case IntegerType | LongType | ShortType | ByteType |
                   FloatType | DoubleType | StringType | BooleanType |
                   DateType | _: TimestampType | _: DecimalType => true
              case _ => false
            }).toSeq
          val preds: Seq[Predicate] =
            if (prunableCols.isEmpty) Nil
            else {
              val statsRow = deleted.select(prunableCols.zipWithIndex.flatMap {
                case (f, i) => Seq(
                  min(col(f.name)).as(s"mn_$i"),
                  max(col(f.name)).as(s"mx_$i"),
                  sum(when(col(f.name).isNull, 1L).otherwise(0L)).as(s"nn_$i"),
                  approx_count_distinct(col(f.name)).as(s"nd_$i"))
              }.toIndexedSeq: _*).collect()(0)
              val inCands = prunableCols.zipWithIndex.filter { case (f, i) =>
                statsRow.getAs[Any](s"mn_$i") != null &&
                  statsRow.getAs[Long](s"nn_$i") == 0L &&
                  statsRow.getAs[Long](s"nd_$i") <= 16L
              }
              // one bounded pass for the small-set columns (capped: an
              // approx undercount falls back to bounds, never to OOM)
              val inSets: Map[String, Seq[Any]] =
                if (inCands.isEmpty) Map.empty
                else {
                  val row = deleted.select(inCands.map { case (f, i) =>
                    slice(sort_array(collect_set(col(f.name))), 1, 33)
                      .as(s"in_$i")
                  }.toIndexedSeq: _*).collect()(0)
                  inCands.flatMap { case (f, i) =>
                    val vs = row.getSeq[Any](row.fieldIndex(s"in_$i"))
                    if (vs.size <= 32) Some(f.name -> vs) else None
                  }.toMap
                }
              prunableCols.zipWithIndex.flatMap { case (f, i) =>
                val mn = statsRow.getAs[Any](s"mn_$i")
                val mx = statsRow.getAs[Any](s"mx_$i")
                if (mn == null || statsRow.getAs[Long](s"nn_$i") > 0L) Nil
                else inSets.get(f.name) match {
                  case Some(vs) => Seq(Predicate(f.name, "in", vs))
                  case None => Seq(Predicate(f.name, ">=", mn),
                    Predicate(f.name, "<=", mx))
                }
              }
            }
          val live = readTableWithPos(spark, destDir, preds)
          val valueCols =
            live.columns.filterNot(Set("__ice_file", "__ice_pos")).toSeq
          val wanted = deleted.groupBy(valueCols.map(col): _*)
            .agg(count(lit(1)).as("__del_n"))
          val joinCond =
            valueCols.map(c => live(c) <=> wanted(c)).reduce(_ && _)
          val w = Window.partitionBy(valueCols.map(live(_)): _*)
            .orderBy(col("__ice_file"), col("__ice_pos"))
          val chosen = live.join(broadcast(wanted), joinCond, "inner")
            .withColumn("__rn", row_number().over(w))
            .filter(col("__rn") <= col("__del_n"))
            .select(col("__ice_file").as("file_path"),
              col("__ice_pos").as("pos"))
            .cache()
          try {
            val (got, asked) = (chosen.count(), deleted.count())
            if (got != asked) throw new IllegalStateException(
              s"syncStore position-delete v=$v: $asked deleted copies in " +
                s"the store but only $got live copies in the chain at " +
                s"$destDir — the chain has drifted")
            appendDeleteSnapshot(spark, destDir, chosen, content = 1,
              equalityCols = Nil,
              extraProps = Map(SyncVersionProp -> v.toString),
              extraSummary = Map("graft-store-version" -> v.toString))
          } finally chosen.unpersist()
          synced ++= pendingNoops; pendingNoops.clear()
          synced += v
          }
        case "morupd" =>
          // a mor UPDATE/MERGE is (claimed keys, replacement rows): mirror
          // as an equality-delete file + an APPEND snapshot — two chain
          // snapshots, O(delta), never a fold. The cursor lands on the
          // append (the second write): a crash between the two replays the
          // delete file, which is idempotent ON READ (equality deletes
          // apply to strictly older files only; the replacements land with
          // a later sequence either way).
          val repl = st.appendDelta(v).drop(st.hiddenReadCols: _*)
          val keysOpt = st.morClaimedKeys(v)
          val cols = chainColsNow()
          // the delete file's key columns must exist in the chain schema
          // NOW and survive the append's evolution (readTable resolves
          // equality ids against the current schema) — else fold
          val keysOk = keysOpt.forall(k =>
            k.columns.forall(cols.contains) &&
              k.columns.forall(repl.columns.contains))
          if (!keysOk) coarseOne(v)
          else {
            keysOpt.foreach { keys =>
              appendDeleteSnapshot(spark, destDir, keys, content = 2,
                equalityCols = keys.columns.toSeq)
            }
            exportInternal(repl, destDir, partBy, overwrite = false,
              Map(SyncVersionProp -> v.toString), sortOrder = st.sortOrder,
        extraSummary = Map("graft-store-version" -> v.toString))
          }
          synced ++= pendingNoops; pendingNoops.clear()
          synced += v
        case "evolve" =>
          // a store evolve is METADATA-ONLY but changes the store's READ
          // schema immediately — mirror it NOW as an empty evolving
          // append, so chain reads equal store reads BETWEEN data commits
          // (not only after the next one). A RENAME carries its FIELD ID
          // under the new name (the `renames` map): metadata-only in this
          // direction too — readTable resolves pre-rename files by id, so
          // no data is rewritten and history keeps its values. A NESTED
          // rename (r20) rides the same map as a dotted pair; nested
          // drops/widens need no map entry — evolveStructJson reads them
          // off the schema delta by subfield name.
          val renames = st.evolveRenamePair(op)
            .map { case (o, n) => Map(o -> n) }
            .orElse(st.evolveNestedRenamePair(op).map { case (p, path, to) =>
              val toPath = (path.split('.').dropRight(1) :+ to).mkString(".")
              Map(s"$p.$path" -> s"$p.$toPath")
            })
            .getOrElse(Map.empty)
          val schemaAtV = st.read(Some(v)).schema
          // a store PARTITION evolution re-declares the layout: mirror it
          // as a chain spec evolution (the empty evolving append below
          // mints spec-id N+1; files keep their old spec) — otherwise
          // translate the current spec through a rename
          val partByV = st.evolvePartitionSpec(op).getOrElse(
            partBy.map { e =>
              val sf = parseSpecEntry(e)
              renames.get(sf.source)
                .map(n => parseSpecEntry(entryOf(sf.transform, n)).entry)
                .getOrElse(e)
            })
          exportInternal(
            spark.createDataFrame(
              spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
              schemaAtV),
            destDir, partByV, overwrite = false,
            Map(SyncVersionProp -> v.toString), sortOrder = st.sortOrder,
            extraSummary = Map("graft-store-version" -> v.toString),
            renames = renames)
          partBy = partByV
          synced ++= pendingNoops; pendingNoops.clear()
          synced += v
        case _ => pendingNoops += v
      }
    }
    mirrorTags()
    synced.sorted.toSeq
  }

  /** CONTINUOUS Iceberg → store mirroring — the INVERSE of [[syncStore]],
    * closing the interchange loop: each call mirrors the snapshots a
    * foreign engine committed to the Iceberg chain at `tableDir` since the
    * last sync into the [[SnapshotTable]] at `storeRoot`, O(delta) on the
    * common paths —
    *
    *  - APPEND snapshots → store `append@<snapshotId>` commits holding
    *    exactly the snapshot's ADDED data files (no chain re-read); the
    *    tagged op makes crash replay exactly-once — the same
    *    idempotent-sink recipe the streaming sink uses;
    *  - DELETE snapshots whose added files are all EQUALITY deletes →
    *    [[SnapshotTable.deleteKeysMor]] with the delete files' own key
    *    rows — the mutation stays a merge-on-read mutation;
    *  - anything coarser (overwrite/replace snapshots, position deletes —
    *    whose positions name CHAIN files the store cannot map) → ONE full
    *    overwrite commit of the chain's resolved content at the LAST such
    *    snapshot, every earlier unsynced snapshot subsumed.
    *
    * Mirror state is a create-only record per snapshot under
    * `<storeRoot>/_graft_mirror/` plus the tagged append ops themselves;
    * a mutation replayed after a crash in the record window is idempotent
    * BY VALUE (the same keys delete to the same result, the same content
    * overwrites to the same content — one redundant history version, no
    * row drift). One mirroring writer per store by contract (the sync
    * cadence). First call must own a store with no snapshots. Returns the
    * snapshot ids mirrored. */
  def syncFromTable(spark: SparkSession, tableDir: String,
      storeRoot: String): Seq[Long] = {
    implicit val fmts: Formats = DefaultFormats
    val st = new SnapshotTable(spark, storeRoot)
    val state = readState(spark, tableDir)
    val ids = snapshotIds(spark, tableDir)
    val hconf = spark.sparkContext.hadoopConfiguration
    val mirrorDir = new Path(storeRoot, "_graft_mirror")
    val fs = mirrorDir.getFileSystem(hconf)
    val Rec = "s-(-?\\d+)\\.rec".r
    val recorded: Set[Long] =
      if (!fs.exists(mirrorDir)) Set.empty
      else fs.listStatus(mirrorDir).toSeq.map(_.getPath.getName)
        .collect { case Rec(id) => id.toLong }.toSet
    val todo = ids.dropWhile(recorded.contains)
    require(todo.forall(id => !recorded.contains(id)),
      s"mirror records at $storeRoot are not a prefix of the chain at " +
        s"$tableDir — was the chain rewritten, or the store shared?")

    // the clustering + TAG handoff, INVERSE direction (tick-level, so a
    // foreign tag or order declared between data commits still arrives):
    //  - adopt the chain's declared default sort order as the mirror's
    //    write order (metadata only; the store's own commits and
    //    maintenance then preserve the foreign engine's clustering);
    //  - adopt the chain's TAGS whose snapshots replayed under a
    //    version-mapped op (tagged appends / pos-deletes). Mirror-created
    //    tags are tracked as `tag-<name>.rec` markers, so a tag the
    //    foreign engine dropped or re-pointed is dropped/re-created here
    //    while operator-made store tags are never touched.
    def adoptChainMeta(): Unit = if (st.history().count() > 0) {
      val declared = sortOrderOf(spark, tableDir)
      if (declared.nonEmpty && st.sortOrder != declared)
        st.setSortOrder(declared)
      val chainTags = chainRefs(spark, tableDir).filter(_._2._2 == "tag")
      val hist = st.history().select("version", "operation").collect()
        .map(r => (r.getLong(0), r.getString(1)))
      def storeVersionOf(sid: Long): Option[Long] =
        hist.collectFirst {
          case (v2, op) if op == st.streamAppendOp(sid) ||
            op == s"pos-delete@ice$sid" => v2
        }
      val TagRec = "tag-(.+)\\.rec".r
      val mirrored: Map[String, Long] =
        if (!fs.exists(mirrorDir)) Map.empty
        else fs.listStatus(mirrorDir).toSeq.flatMap { stt =>
          stt.getPath.getName match {
            case TagRec(n) =>
              val in = fs.open(stt.getPath)
              val v2 = try new String(in.readAllBytes(), "UTF-8").trim.toLong
                finally in.close()
              Some(n -> v2)
            case _ => None
          }
        }.toMap
      def writeTagRec(name: String, v2: Long): Unit = {
        val out = fs.create(new Path(mirrorDir, s"tag-$name.rec"), true)
        try out.write(v2.toString.getBytes("UTF-8")) finally out.close()
      }
      val have = st.refs().collect()
        .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
      chainTags.foreach { case (name, (sid, _)) =>
        storeVersionOf(sid).foreach { v2 =>
          mirrored.get(name) match {
            case Some(mv) if mv == v2 => // already mirrored at this pin
            case Some(_) => // the foreign engine re-pointed (drop+recreate)
              st.dropRef(name, expectKind = Some("tag"))
              st.createTag(name, Some(v2)); writeTagRec(name, v2)
            case None =>
              // never shadow an operator-made store tag of the same name
              if (!have.contains(name)) {
                st.createTag(name, Some(v2)); writeTagRec(name, v2)
              }
          }
        }
      }
      mirrored.keys.filterNot(chainTags.contains).foreach { name =>
        if (have.get(name).exists(_._1 == "tag"))
          st.dropRef(name, expectKind = Some("tag"))
        fs.delete(new Path(mirrorDir, s"tag-$name.rec"), false)
      }
    }

    if (todo.isEmpty) { adoptChainMeta(); return Nil }
    require(recorded.nonEmpty || st.history().isEmpty,
      s"syncFromTable owns its store: $storeRoot already has snapshots " +
        "but no mirror records — start the mirror on a fresh root")

    def record(sid: Long): Unit = {
      val out = fs.create(new Path(mirrorDir, s"s-$sid.rec"), false)
      try out.write(java.lang.Long.toString(sid).getBytes("UTF-8"))
      finally out.close()
    }
    def snapJson(sid: Long): JValue = state.snapshots.find(s =>
      (s \ "snapshot-id").extract[Long] == sid).get
    def snapOp(sid: Long): String =
      (snapJson(sid) \ "summary" \ "operation").extractOpt[String]
        .getOrElse("overwrite")
    // one manifest walk per snapshot per tick (kindOf + the branch bodies
    // share it), not one per USE — chains are long, manifests carry every
    // live file
    val plannedMemo = scala.collection.mutable.Map.empty[Long, Seq[PlannedFile]]
    def planned(sid: Long): Seq[PlannedFile] =
      plannedMemo.getOrElseUpdate(sid, plannedOf(spark, state, sid))
    // CHAIN CONTINUITY: if the foreign engine expired an UNSYNCED snapshot
    // (routine expire-snapshots maintenance), the first todo snapshot's
    // parent is no longer the last recorded id — its delta-by-delta replay
    // would silently skip the expired snapshot's rows. Fall back to one
    // coarse overwrite of the resolved head, which is always correct.
    val lastRecorded = ids.takeWhile(recorded.contains).lastOption
    val gap = todo.headOption.exists { first =>
      val parent = (snapJson(first) \ "parent-snapshot-id").extractOpt[Long]
      (lastRecorded, parent) match {
        // chain must continue exactly from the last recorded snapshot
        case (Some(lr), p) => !p.contains(lr)
        // no recorded snapshot is still LIVE in the chain — fine as long
        // as the parent is one we already synced (the foreign engine
        // expired already-synced snapshots, routine retention; replay
        // stays O(delta)). A parent we never recorded means unsynced
        // snapshots were expired — that is the real gap.
        case (None, Some(p)) => !recorded.contains(p)
        // parentless root, but records exist that name no live snapshot:
        // the chain was rewritten under us
        case (None, None) => recorded.nonEmpty
      }
    }
    // fine-grained kinds we can mirror O(delta); everything else is coarse
    def kindOf(sid: Long): String = snapOp(sid) match {
      case "append" => "append"
      case "delete" =>
        val added = planned(sid).filter(_.addedBy == sid)
        if (added.nonEmpty && added.forall(_.content == 2)) "eqdel"
        else if (added.nonEmpty && added.forall(_.content == 1)) "posdel"
        else "coarse"
      case _ => "coarse"
    }
    val kindBySid: Map[Long, String] =
      if (gap) Map.empty else todo.map(sid => sid -> kindOf(sid)).toMap
    val synced = scala.collection.mutable.ArrayBuffer.empty[Long]

    // fold everything up to the LAST coarse snapshot into one overwrite
    // (the whole range when continuity was lost)
    val lastCoarse =
      if (gap) Some(todo.last)
      else todo.filter(sid => kindBySid(sid) == "coarse").lastOption
    lastCoarse.foreach { sid =>
      st.commit(readTable(spark, tableDir, Some(sid)), "overwrite")
      todo.takeWhile(_ != sid).foreach(record)
      record(sid)
      synced ++= todo.takeWhile(_ != sid) :+ sid
    }
    val after = lastCoarse.map(s => todo.dropWhile(_ != s).drop(1))
      .getOrElse(todo)

    val partCols = state.specFields.filter(_.isIdentity).map(_.name).toSet
    val basePath = {
      val p = new Path(s"$tableDir/data")
      p.getFileSystem(hconf).makeQualified(p).toString
    }
    // one commit-log read per tick: ops committed by THIS loop are new
    // sids never re-visited, so a snapshot taken up front stays correct
    val priorOps: Set[String] =
      if (after.isEmpty) Set.empty
      else st.history().select("operation").collect().map(_.getString(0)).toSet
    var storeNonEmpty = priorOps.nonEmpty

    def schemaAstOf(schemaId: Int): Option[JValue] =
      (state.meta \ "schemas").children
        .find(s => (s \ "schema-id").extract[Int] == schemaId)
    // MIRROR a foreign schema evolution as store evolve commits
    // (metadata-only, O(0) data) instead of letting the delta replay
    // null-fill against a stale schema: renames resolve by FIELD ID
    // against the parent snapshot's schema when it is still live;
    // otherwise a simultaneous add+drop is ambiguous (could be a rename
    // that would silently null a column) and refuses loudly. Every step
    // checks the store's CURRENT schema first, so a crash replay
    // re-applies as a no-op.
    def mirrorEvolution(sid: Long): Unit = {
      val tgt = stateAt(state, sid)
      val tgtFields = (tgt.schemaAst \ "fields").children.map(f =>
        ((f \ "id").extract[Int], (f \ "name").extract[String],
          sparkType(f \ "type")))
      val tgtFieldAstByName: Map[String, JValue] =
        (tgt.schemaAst \ "fields").children.map(f =>
          (f \ "name").extract[String] -> f).toMap
      var cur = st.read().schema.fields.map(f => f.name -> f.dataType).toSeq
      def curMap = cur.toMap
      if (tgtFields.map(t => (t._2, t._3)) == cur) return
      val parentFieldAstsOpt: Option[Seq[JValue]] = for {
        pid <- (snapJson(sid) \ "parent-snapshot-id").extractOpt[Long]
        pjson <- state.snapshots.find(s =>
          (s \ "snapshot-id").extract[Long] == pid)
        psid <- (pjson \ "schema-id").extractOpt[Int]
        ast <- schemaAstOf(psid)
      } yield (ast \ "fields").children
      val parentFieldsOpt: Option[Seq[(Int, String, DataType)]] =
        parentFieldAstsOpt.map(_.map(f =>
          ((f \ "id").extract[Int], (f \ "name").extract[String],
            sparkType(f \ "type"))))
      // parent schema EXPIRED (r20): every data file carries parquet field
      // ids since r19 — recover the parent id-per-name map from the
      // footers of files that predate this snapshot (newest schema first,
      // by data sequence number), and resolve rename-vs-add+drop by id
      // exactly as if the parent schema were live. Only complete coverage
      // counts: a store column no footer names (e.g. added by the parent
      // snapshot itself with no data written since) keeps the refusal.
      lazy val footerFields: Option[Seq[(Int, String, DataType)]] = {
        val acc = scala.collection.mutable.Map.empty[String, Int]
        val need = cur.map(_._1).toSet
        val it = planned(sid)
          .filter(f => f.content == 0 && f.addedBy != sid)
          .sortBy(-_.seq).iterator
        while (!need.subsetOf(acc.keySet) && it.hasNext)
          footerTopLevelIds(spark, it.next().path).foreach { case (n, i) =>
            if (!acc.contains(n)) acc(n) = i }
        if (need.subsetOf(acc.keySet))
          Some(cur.map { case (n, t) => (acc(n), n, t) })
        else None
      }
      parentFieldsOpt.orElse(footerFields) match {
        case Some(parentFields) =>
          val prevById = parentFields.map(t => t._1 -> t).toMap
          val tgtIds = tgtFields.map(_._1).toSet
          // rename targets (id kept, name changed): target name -> source
          val renameSrc: Map[String, String] = tgtFields.flatMap {
            case (id, name, _) => prevById.get(id).collect {
              case (_, pn, _) if pn != name => name -> pn }
          }.toMap
          // DROPS FIRST (id gone), by the parent name — a dropped name may
          // be re-occupied by a rename in the SAME snapshot (drop a,
          // rename b→a, legal Iceberg): drop only while that rename is
          // still PENDING (its source column present), so a crash replay
          // that already renamed never drops the renamed column
          parentFields.foreach { case (id, pn, _) =>
            if (!tgtIds.contains(id) && curMap.contains(pn) &&
                renameSrc.get(pn).forall(src => curMap.contains(src))) {
              st.dropColumn(pn)
              cur = cur.filterNot(_._1 == pn)
            }
          }
          // renames after drops (a freed name is available again). A
          // DEPENDENT set — swap (a<->b) or chain (a->b, b->c), where some
          // target name is still occupied by a column that is itself being
          // renamed — cannot apply in one pass: stage those through
          // deterministic temp names keyed by field id (phase 1 vacates
          // every source, phase 2 lands every target). Each step checks
          // the store's CURRENT schema, so a crash replay resumes
          // mid-stage without double-renaming.
          val renamePairs = tgtFields.flatMap { case (id, name, _) =>
            prevById.get(id).collect {
              case (_, pn, _) if pn != name => (id, pn, name) }
          }
          val renameSources = renamePairs.map(_._2).toSet
          if (!renamePairs.exists(p => renameSources.contains(p._3))) {
            renamePairs.foreach { case (_, pn, name) =>
              if (curMap.contains(pn) && !curMap.contains(name)) {
                st.renameColumn(pn, name)
                cur = cur.map { case (n, t) => (if (n == pn) name else n, t) }
              }
            }
          } else {
            // temp names scope to THIS snapshot: a later identical swap
            // (a<->b, back, a<->b again) must not mistake an earlier
            // application's history ops for its own completion
            def tmpName(id: Int) = s"__graft_mirror_tmp_${sid}_$id"
            require(!cur.exists(_._1.startsWith("__graft_mirror_tmp_")) ||
              renamePairs.exists(p => curMap.contains(tmpName(p._1))),
              "store columns must not use the __graft_mirror_tmp_ prefix")
            // phase 1: vacate sources. The target name EXISTING is not a
            // skip signal here (in a swap it is another pair's source, and
            // a completed swap leaves the same name set as an unstarted
            // one) — completion is detected from the store's own op
            // history: a finished pair recorded rename(tmp -> target).
            val doneOps: Set[String] = st.history().select("operation")
              .collect().map(_.getString(0)).toSet
            def pairDone(id: Int, name: String): Boolean =
              doneOps.contains(st.renameOpString(tmpName(id), name))
            renamePairs.foreach { case (id, pn, name) =>
              if (!pairDone(id, name) && curMap.contains(pn) &&
                  !curMap.contains(tmpName(id))) {
                st.renameColumn(pn, tmpName(id))
                cur = cur.map { case (n, t) =>
                  (if (n == pn) tmpName(id) else n, t) }
              }
            }
            // phase 2: land targets from their temps
            renamePairs.foreach { case (id, _, name) =>
              if (curMap.contains(tmpName(id)) && !curMap.contains(name)) {
                st.renameColumn(tmpName(id), name)
                cur = cur.map { case (n, t) =>
                  (if (n == tmpName(id)) name else n, t) }
              }
            }
          }
        case None =>
          // parent schema unavailable (expired): name-based fallback — a
          // simultaneous add+drop could be a rename; refuse rather than
          // silently null a column's history
          val tgtNames = tgtFields.map(_._2).toSet
          val dropped = cur.map(_._1).filterNot(tgtNames.contains)
          val added = tgtFields.filterNot(t => curMap.contains(t._2))
          require(dropped.isEmpty || added.isEmpty,
            s"syncFromTable: snapshot $sid both adds ${added.map(_._2)} " +
              s"and drops $dropped with no live parent schema, and the " +
              "data-file footers do not cover every store column's field " +
              "id — cannot distinguish a rename from add+drop")
          dropped.foreach { n => st.dropColumn(n); cur = cur.filterNot(_._1 == n) }
      }
      // adds + legal widenings, against the (possibly renamed) store schema
      tgtFields.foreach { case (_, name, dt) =>
        curMap.get(name) match {
          case None =>
            st.addColumn(name, dt.sql); cur = cur :+ (name -> dt)
          case Some(have) if have != dt =>
            // a struct that only APPENDS subfields (recursively — deep
            // adds too, matching evolveStructJson's export-side grammar)
            // is a foreign NESTED ADD: mirror each missing path as a
            // store nested-add evolve commit (crash replay skips paths
            // already present). A nested RENAME/DROP/PROMOTE (r20)
            // resolves by SUBFIELD ID against the parent snapshot's
            // schema ast and lands as store nested evolve commits.
            // Anything else goes to alterColumnType, which enforces
            // Iceberg-legal promotions and refuses loudly (→ fold).
            def addPaths(h: DataType, d: DataType,
                prefix: String): Option[Seq[(String, DataType)]] =
              (h, d) match {
                case (a, b) if a == b => Some(Nil)
                case (a: StructType, b: StructType)
                    if a.fields.length <= b.fields.length &&
                      a.fields.zip(b.fields).forall {
                        // case-insensitive, like the store's own field
                        // matching (addNestedColumn, the addnested replay
                        // walker, SnapshotSource.structAddOnly) — a chain
                        // whose subfields differ only in case must not
                        // fall through to alterColumnType and coarse-fold
                        case (af, bf) => af.name.equalsIgnoreCase(bf.name) } =>
                  val deep = a.fields.zip(b.fields).map { case (af, bf) =>
                    addPaths(af.dataType, bf.dataType,
                      if (prefix.isEmpty) af.name else s"$prefix.${af.name}")
                  }
                  if (deep.exists(_.isEmpty)) None
                  else Some(deep.flatMap(_.get).toSeq ++
                    b.fields.drop(a.fields.length).map(bf =>
                      (if (prefix.isEmpty) bf.name
                       else s"$prefix.${bf.name}") -> bf.dataType))
                case _ => None
              }
            addPaths(have, dt, "") match {
              case Some(paths) => paths.foreach { case (p, t) =>
                st.addNestedColumn(name, p, t.sql) }
              case None =>
                // only STRUCT-shaped changes resolve by subfield id; a
                // top-level primitive promote goes straight to
                // alterColumnType (which enforces Iceberg legality)
                val byId = for {
                  pAsts <- parentFieldAstsOpt
                  tAst <- tgtFieldAstByName.get(name)
                  pAst <- pAsts.find(f => (f \ "id") == (tAst \ "id"))
                  pT = pAst \ "type"
                  tT = tAst \ "type"
                  if (pT \ "type") == JString("struct") &&
                    (tT \ "type") == JString("struct")
                } yield (pT, tT)
                byId match {
                  case Some((pT, tT)) => nestedMirror(st, name, pT, tT, "")
                  case None => st.alterColumnType(name, dt.sql)
                }
            }
            cur = cur.map { case (n, t) => (n, if (n == name) dt else t) }
          case _ =>
        }
      }
    }

    after.foreach { sid =>
      // an evolution the store cannot express FINE-GRAINED — a mid-struct
      // insert or subfield reorder (the store's nested adds append at the
      // end), a non-promotable type change a foreign engine authored, the
      // ambiguous add+drop with no live parent schema, or leftover staged
      // temp columns from a pre-upgrade crash — FOLDS this snapshot to one
      // overwrite of its resolved content: granularity coarsens, content
      // stays exact, and the sync never wedges on a legal foreign chain.
      val folded =
        if (!storeNonEmpty) false
        else
          try { mirrorEvolution(sid); false }
          catch {
            case _: IllegalArgumentException =>
              st.commit(readTable(spark, tableDir, Some(sid)), "overwrite")
              record(sid); synced += sid
              true
          }
      if (!folded) {
      val snapState = stateAt(state, sid)
      kindBySid(sid) match {
        case "append" =>
          val op = st.streamAppendOp(sid)
          val already = priorOps.contains(op)
          if (!already) {
            val paths = planned(sid)
              .filter(f => f.addedBy == sid && f.content == 0).map(_.path)
            if (paths.nonEmpty) {
              // identity partition values live in hive dirs, not files —
              // basePath recovery + schema-ordered select, as in readTable
              // (the SNAPSHOT's schema: evolution up to sid was mirrored
              // above, later chain evolutions must not leak back in time)
              val df = spark.read.option("basePath", basePath)
                .schema(snapState.fields)
                .parquet(paths: _*)
              st.commit(df.select(snapState.fields.fields.map { f =>
                if (partCols(f.name)) col(f.name).cast(f.dataType).as(f.name)
                else col(f.name)
              }.toIndexedSeq: _*), op)
            } else st.commit(
              spark.createDataFrame(
                spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                snapState.fields), op)
          }
          storeNonEmpty = true
          record(sid); synced += sid
        case "eqdel" =>
          val idToName = snapState.fieldIds.map(_.swap)
          val dels = planned(sid)
            .filter(f => f.addedBy == sid && f.content == 2)
          dels.groupBy(_.equalityIds).foreach { case (eqIds, files) =>
            val cols = eqIds.map(id => idToName.getOrElse(id,
              throw new IllegalStateException(
                s"equality-delete snapshot $sid keys on field id $id, " +
                  "absent from the snapshot's schema")))
            st.deleteKeysMor(readEqualityDeletes(spark, snapState, files, cols),
              cols)
          }
          record(sid); synced += sid
        case "posdel" =>
          // a foreign position-delete names CHAIN (file, pos) pairs the
          // store cannot map — mirror the deleted row VALUES as a
          // multiset onto store positions instead (identical copies are
          // interchangeable). The op tag makes a crash replay skip: a
          // position delete is NOT idempotent by value.
          val op = s"pos-delete@ice$sid"
          if (!priorOps.contains(op)) {
            val delFiles = planned(sid)
              .filter(f => f.addedBy == sid && f.content == 1)
            val stated = readPositionDeletes(spark, delFiles.map(_.path))
            // the spec permits RE-STATING an already-deleted position (a
            // read-side no-op): subtract positions earlier delete files
            // already name, or the mirror would delete an extra copy of a
            // duplicate — or refuse as drift
            val priorDelFiles = planned(sid)
              .filter(f => f.content == 1 && f.addedBy != sid).map(_.path)
            val dels =
              if (priorDelFiles.isEmpty) stated
              else {
                val prior = readPositionDeletes(spark, priorDelFiles)
                  .toDF("pf", "pp")
                stated.join(broadcast(prior),
                  normPath(stated("file_path")) === normPath(prior("pf")) &&
                    stated("pos") === prior("pp"), "left_anti")
              }
            if (dels.isEmpty) () // every position was a restatement: no-op
            else {
            val namedPaths = dels.select("file_path").distinct().collect()
              .map(r => normPathStr(r.getString(0))).toSet
            val targets = planned(sid).filter(f => f.content == 0 &&
              namedPaths.contains(normPathStr(f.path)))
            require(targets.nonEmpty, s"position-delete snapshot $sid " +
              "names no live data file of its own snapshot")
            // field-id-resolved read: the named files may predate a later
            // RENAME — reading them under the delete snapshot's schema by
            // NAME would null the renamed column and lose the row values
            val data = readDataResolved(spark, snapState, targets, basePath,
              withProv = true)
              .withColumnRenamed("__ice_file", "__f")
              .withColumnRenamed("__ice_pos", "__p")
            var cand = data.join(broadcast(dels),
              normPath(col("__f")) === normPath(dels("file_path")) &&
                col("__p") === dels("pos"), "left_semi")
            // a position delete may name a row an EQUALITY delete already
            // hides (seq rule: eqdel applies to strictly older data files)
            // — a read-side no-op the store must not re-delete, or the
            // multiset requests more copies than are live. Subtract them,
            // resolving key ids against each delete file's write-time
            // names exactly as the read path does.
            val eqFiles = planned(sid).filter(_.content == 2)
            if (eqFiles.nonEmpty) {
              import spark.implicits._
              val seqDf = targets.map(f => (f.path, f.seq))
                .toDF("__f2", "__dseq")
              cand = cand.join(broadcast(seqDf),
                normPath(col("__f")) === normPath(col("__f2")), "left")
                .drop("__f2")
              val idToName2 = snapState.fieldIds.map(_.swap)
              eqFiles.groupBy(f => (f.seq, f.equalityIds)).toSeq
                .sortBy(_._1._1).foreach { case ((dseq, ids), files) =>
                  val cols = ids.map(id => idToName2.getOrElse(id,
                    throw new IllegalStateException(
                      s"equality-delete file keys on field id $id, absent " +
                        s"from snapshot $sid's schema")))
                  val keys = readEqualityDeletes(spark, snapState, files, cols)
                    .toDF(cols.map(c => s"__del_$c"): _*)
                  val cond = cols.map(c => cand(c) <=> keys(s"__del_$c"))
                    .reduce(_ && _) && (cand("__dseq") < dseq)
                  cand = cand.join(broadcast(keys), cond, "left_anti")
                }
            }
            val deletedVals = cand
              .select(snapState.fields.fields.map { f =>
                if (partCols(f.name)) col(f.name).cast(f.dataType).as(f.name)
                else col(f.name)
              }.toIndexedSeq: _*)
            st.deleteRowsMultiset(deletedVals, Some(s"ice$sid"))
            }
          }
          record(sid); synced += sid
        case _ => // unreachable: coarse snapshots were folded above
          throw new IllegalStateException(s"unfolded coarse snapshot $sid")
      }
      }
      storeNonEmpty = true
    }
    adoptChainMeta()
    synced.toSeq
  }

  // ── delete-file writers (the foreign-engine mutation shapes) ────────────

  /** Append a POSITION-DELETE snapshot (spec content=1): `deletes` must
    * have columns `(file_path string, pos long)` naming exact row positions
    * in exact data files. Applies (on read) to data files whose data
    * sequence number ≤ this snapshot's. */
  def appendPositionDeletes(spark: SparkSession, destDir: String,
      deletes: DataFrame): Long =
    appendDeleteSnapshot(spark, destDir,
      deletes.select(col("file_path").cast("string"), col("pos").cast("long")),
      content = 1, equalityCols = Nil)

  /** Append an EQUALITY-DELETE snapshot (spec content=2): every table row
    * whose `equalityCols` tuple matches a row of `keys` is deleted from
    * data files STRICTLY OLDER (by sequence number) than this snapshot —
    * the v2 merge-on-read form a foreign engine writes for keyed deletes. */
  def appendEqualityDeletes(spark: SparkSession, destDir: String,
      keys: DataFrame, equalityCols: Seq[String]): Long = {
    require(equalityCols.nonEmpty, "appendEqualityDeletes needs key columns")
    appendDeleteSnapshot(spark, destDir,
      keys.select(equalityCols.map(col): _*), content = 2,
      equalityCols = equalityCols)
  }

  private def appendDeleteSnapshot(spark: SparkSession, destDir: String,
      rows: DataFrame, content: Int, equalityCols: Seq[String],
      extraProps: Map[String, String] = Map.empty,
      extraSummary: Map[String, String] = Map.empty): Long = {
    val st = readState(spark, destDir)
    equalityCols.foreach(c => require(st.fieldIds.contains(c),
      s"equality column $c not in the table schema"))
    val hconf = spark.sparkContext.hadoopConfiguration
    val sub = java.util.UUID.nameUUIDFromBytes(
      s"${st.location}#del${st.lastSeq + 1}".getBytes("UTF-8")).toString
    val delDir = s"$destDir/data/deletes-$sub"
    // the spec REQUIRES position-delete file rows sorted by (file_path,
    // pos) — foreign readers may rely on the ordering; sortWithinPartitions
    // keeps each written file spec-ordered without a shuffle
    // equality-delete files carry the table's field types (the reader
    // plans them from the schema, never from the files)
    val ordered =
      if (content == 1)
        rows.sortWithinPartitions(col("file_path"), col("pos"))
      else rows.select(equalityCols.map(c =>
        col(c).cast(st.fields(c).dataType).as(c)): _*)
    ordered.write.mode("overwrite").parquet(delDir)
    val fs = new Path(delDir).getFileSystem(hconf)
    val files = fs.listStatus(new Path(delDir)).toSeq.collect {
      case s if s.isFile && !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith(".") =>
        (fs.makeQualified(s.getPath).toString, s.getLen)
    }.sortBy(_._1)
    val seq = st.lastSeq + 1
    val snapshotId = math.abs(java.util.UUID
      .nameUUIDFromBytes(s"${st.location}#snap$seq".getBytes("UTF-8"))
      .getMostSignificantBits)
    val entrySchema = manifestEntrySchema(Nil)
    val eqIds = equalityCols.map(st.fieldIds)
    val counts = files.map { case (p, _) =>
      SnapshotTable.footerRecordCount(new Path(p), hconf) }
    val entries = files.zip(counts).map { case ((p, len), n) =>
      dataFileEntry(entrySchema, status = 1, snapshotId, seq, content,
        p, n, len, Map.empty, Map.empty, Map.empty, eqIds)
    }
    val deletedRows = counts.sum
    // a delete snapshot changes no schema: carry the chain's CURRENT
    // schema entry + schemas history verbatim (regenerating ids here
    // would reset an evolved chain back to schema-id 0)
    implicit val fmts: Formats = DefaultFormats
    // delete files are written UNPARTITIONED (empty partition record), so
    // their manifest must reference a spec whose fields are [] — reuse an
    // existing unpartitioned spec, else mint one (NOT as default); a
    // foreign reader otherwise resolves the record against a partitioned
    // spec's struct and fails
    val prevSpecsJson = (st.meta \ "partition-specs").children.toList
    val (delSpecId, delSpecsJson) = prevSpecsJson.find(s =>
      (s \ "fields").children.isEmpty) match {
      case Some(s) => ((s \ "spec-id").extract[Int], prevSpecsJson)
      case None =>
        val id = prevSpecsJson.map(s => (s \ "spec-id").extract[Int]).max + 1
        (id, prevSpecsJson :+ (JObject("spec-id" -> JInt(id),
          "fields" -> JArray(Nil)): JValue))
    }
    writeSnapshot(spark, destDir, Some(st), st.location,
      JsonMethods.compact(JsonMethods.render(st.schemaAst)),
      (st.meta \ "last-column-id").extract[Int],
      seq, snapshotId, entrySchema, entries,
      manifestContent = 1, addedRows = 0L, operation = "delete",
      specFields = JArray(Nil),
      specsJson = delSpecsJson,
      defaultSpecId = st.defaultSpecId,
      manifestSpecId = delSpecId,
      lastPartitionId =
        (st.meta \ "last-partition-id").extractOpt[Int].getOrElse(-1),
      partitionSummary = Map(
        "added-delete-files" -> files.size.toString,
        "added-position-deletes" -> (if (content == 1) deletedRows.toString else "0"),
        "added-equality-deletes" -> (if (content == 2) deletedRows.toString else "0"))
        ++ extraSummary,
      carryForward = true, extraProps = extraProps,
      schemaId = (st.meta \ "current-schema-id").extract[Int],
      prevSchemas = (st.meta \ "schemas").children)
    snapshotId
  }

  // ── shared snapshot-commit tail ──────────────────────────────────────────

  private def dataFileEntry(entrySchema: Schema, status: Int, snapshotId: Long,
      seq: Long, content: Int, path: String, records: Long, bytes: Long,
      partVals: Map[String, Any], lower: Map[Int, Array[Byte]],
      upper: Map[Int, Array[Byte]], equalityIds: Seq[Int],
      valueCounts: Map[Int, Long] = Map.empty,
      nullCounts: Map[Int, Long] = Map.empty,
      sortOrderId: Option[Int] = None): GenericData.Record = {
    val dataFileSchema = entrySchema.getField("data_file").schema()
    val partitionSchema = dataFileSchema.getField("partition").schema()
    val part = new GenericData.Record(partitionSchema)
    partVals.foreach { case (k, v) => part.put(k, v) }
    def mapArr(sub: String, m: Map[Int, Any]) = {
      val sch = dataFileSchema.getField(sub).schema().getTypes.get(1)
      val arr = new GenericData.Array[GenericData.Record](m.size, sch)
      m.toSeq.sortBy(_._1).foreach { case (k, v) =>
        val r = new GenericData.Record(sch.getElementType)
        r.put("key", k); r.put("value", v)
        arr.add(r)
      }
      arr
    }
    def boundsArr(m: Map[Int, Array[Byte]], sub: String) =
      mapArr(sub, m.map { case (k, v) =>
        k -> (java.nio.ByteBuffer.wrap(v): Any) })
    val d = new GenericData.Record(dataFileSchema)
    d.put("content", content)
    d.put("file_path", path)
    d.put("file_format", "PARQUET")
    d.put("partition", part)
    d.put("record_count", records)
    d.put("file_size_in_bytes", bytes)
    if (equalityIds.nonEmpty) {
      val sch = dataFileSchema.getField("equality_ids").schema().getTypes.get(1)
      val arr = new GenericData.Array[Integer](equalityIds.size, sch)
      equalityIds.foreach(i => arr.add(Int.box(i)))
      d.put("equality_ids", arr)
    }
    if (lower.nonEmpty) d.put("lower_bounds", boundsArr(lower, "lower_bounds"))
    if (upper.nonEmpty) d.put("upper_bounds", boundsArr(upper, "upper_bounds"))
    if (valueCounts.nonEmpty)
      d.put("value_counts", mapArr("value_counts",
        valueCounts.map { case (k, v) => k -> (Long.box(v): Any) }))
    if (nullCounts.nonEmpty)
      d.put("null_value_counts", mapArr("null_value_counts",
        nullCounts.map { case (k, v) => k -> (Long.box(v): Any) }))
    sortOrderId.foreach(i => d.put("sort_order_id", Int.box(i)))
    val e = new GenericData.Record(entrySchema)
    e.put("status", status)
    e.put("snapshot_id", snapshotId)
    e.put("sequence_number", seq)
    e.put("file_sequence_number", seq)
    e.put("data_file", d)
    e
  }

  /** The sort-orders metadata list + the order id THIS write declares
    * (0 = unsorted). Previously declared orders always carry forward —
    * manifest entries reference them by id — and a write that declares
    * nothing PRESERVES the standing default (delete snapshots and plain
    * appends must not reset a table to unsorted). A new field list gets
    * the next free order-id; re-declaring an existing one reuses its id. */
  private def resolveSortOrders(prev: Option[TableState],
      declaredIds: Seq[Int]): (List[JValue], Int) = {
    implicit val fmts: Formats = DefaultFormats
    val order0: JValue =
      JObject("order-id" -> JInt(0), "fields" -> JArray(Nil))
    val prevOrders = prev.map(st =>
      (st.meta \ "sort-orders").children).getOrElse(Nil)
    val base: List[JValue] =
      if (prevOrders.isEmpty) List(order0) else prevOrders.toList
    if (declaredIds.isEmpty) {
      val keep = prev.flatMap(st =>
        (st.meta \ "default-sort-order-id").extractOpt[Int]).getOrElse(0)
      (base, keep)
    } else {
      val fieldsJson = JArray(declaredIds.map(id => (JObject(
        "transform" -> JString("identity"), "source-id" -> JInt(id),
        "direction" -> JString("asc"),
        "null-order" -> JString("nulls-first")): JValue)).toList)
      base.find(o => (o \ "fields") == fieldsJson) match {
        case Some(o) => (base, (o \ "order-id").extract[Int])
        case None =>
          val nid = base.map(o => (o \ "order-id").extract[Int]).max + 1
          (base :+ (JObject("order-id" -> JInt(nid),
            "fields" -> fieldsJson): JValue), nid)
      }
    }
  }

  /** Sort-order ENTRIES → the flat column list: a `zorder(c1, c2, …)`
    * entry (the store's multi-column clustering) spells as the spec
    * allows — a multi-column order over its columns; plain entries pass
    * through. */
  private def orderColsOf(entries: Seq[String]): Seq[String] =
    entries.flatMap { e =>
      "(?i)^zorder\\((.*)\\)$".r.findFirstMatchIn(e.trim) match {
        case Some(m) =>
          m.group(1).split(',').map(_.trim).filter(_.nonEmpty).toSeq
        case None => Seq(e.trim)
      }
    }

  /** Write one snapshot's manifest + manifest list (carrying the previous
    * snapshot's manifests forward — the fast-append shape) + the next
    * vN.metadata.json + version hint. */
  private def writeSnapshot(spark: SparkSession, destDir: String,
      prev: Option[TableState], location: String, schemaJson: String,
      lastColumnId: Int, seq: Long, snapshotId: Long, entrySchema: Schema,
      entries: Seq[GenericData.Record], manifestContent: Int, addedRows: Long,
      operation: String, specFields: JValue,
      partitionSummary: Map[String, String],
      carryForward: Boolean = true,
      extraProps: Map[String, String] = Map.empty,
      schemaId: Int = 0, prevSchemas: Seq[JValue] = Nil,
      sortOrdersResolved: Option[(List[JValue], Int)] = None,
      specsJson: List[JValue] = Nil, defaultSpecId: Int = 0,
      manifestSpecId: Int = 0, lastPartitionId: Int = -1): Unit = {
    implicit val fmts: Formats = DefaultFormats
    val hconf = spark.sparkContext.hadoopConfiguration
    val fs = new Path(destDir).getFileSystem(hconf)
    val nowMs = System.currentTimeMillis()
    val mIdx = prev.map(_.lastSeq).getOrElse(0L)
    val (sortOrders, defaultOrderId) =
      sortOrdersResolved.getOrElse(resolveSortOrders(prev, Nil))

    val manifestName = java.util.UUID
      .nameUUIDFromBytes(s"$location#m$seq".getBytes("UTF-8")).toString + s"-m$mIdx.avro"
    val manifestPath = new Path(s"$destDir/metadata/$manifestName")
    val manifestLen = writeAvro(spark, manifestPath, entrySchema,
      Map("schema" -> schemaJson,
        "partition-spec" -> JsonMethods.compact(JsonMethods.render(specFields)),
        "partition-spec-id" -> manifestSpecId.toString,
        "format-version" -> "2",
        "content" -> (if (manifestContent == 0) "data" else "deletes")),
      entries)

    val mf = new GenericData.Record(ManifestFileSchema)
    mf.put("manifest_path", fs.makeQualified(manifestPath).toString)
    mf.put("manifest_length", manifestLen)
    mf.put("partition_spec_id", manifestSpecId)
    mf.put("content", manifestContent)
    mf.put("sequence_number", seq)
    mf.put("min_sequence_number", seq)
    mf.put("added_snapshot_id", snapshotId)
    mf.put("added_files_count", entries.size)
    mf.put("existing_files_count", 0)
    mf.put("deleted_files_count", 0)
    mf.put("added_rows_count",
      entries.map(_.get("data_file").asInstanceOf[GenericData.Record]
        .get("record_count").asInstanceOf[Long]).sum)
    mf.put("existing_rows_count", 0L)
    mf.put("deleted_rows_count", 0L)

    // previous snapshot's manifests carry forward (same schema constant) —
    // except for OVERWRITE snapshots, whose content is the new manifest alone
    val carried =
      if (!carryForward) Nil
      else prev.map { st =>
        val listPath = manifestListPathOf(st, st.currentSnapshotId)
        readAvro(spark, new Path(listPath))
      }.getOrElse(Nil)
    val listName = s"snap-$snapshotId-1-" + java.util.UUID
      .nameUUIDFromBytes(s"$location#list$seq".getBytes("UTF-8")).toString + ".avro"
    val listPath = new Path(s"$destDir/metadata/$listName")
    writeAvro(spark, listPath, ManifestFileSchema,
      Map("snapshot-id" -> snapshotId.toString,
        "sequence-number" -> seq.toString, "format-version" -> "2"),
      carried :+ mf)

    // table metadata vN+1 (json4s AST — names/locations escape correctly)
    val parent = prev.map(_.currentSnapshotId)
    val summary = JObject(
      ("operation" -> JString(operation)) +:
        partitionSummary.toList.map { case (k, v) => k -> (JString(v): JValue) }: _*)
    val newSnap = JObject(List[(String, JValue)](
      "snapshot-id" -> JInt(snapshotId)) ++
      parent.map(p => "parent-snapshot-id" -> (JInt(p): JValue)).toList ++
      List[(String, JValue)](
        "sequence-number" -> JInt(seq),
        "timestamp-ms" -> JInt(nowMs),
        "summary" -> summary,
        "manifest-list" -> JString(fs.makeQualified(listPath).toString),
        "schema-id" -> JInt(schemaId)): _*)
    val prevSnapshots = prev.map(_.snapshots).getOrElse(Nil)
    val prevLog = prev.map(st => (st.meta \ "snapshot-log").children).getOrElse(Nil)
    val prevMetaLog = prev.map(st => (st.meta \ "metadata-log").children).getOrElse(Nil)
    val newMetaLog = prev.map { st =>
      prevMetaLog :+ (JObject(
        "timestamp-ms" -> JInt((st.meta \ "last-updated-ms").extract[Long]),
        "metadata-file" -> JString(fs.makeQualified(new Path(
          s"$destDir/metadata/v${st.version}.metadata.json")).toString)): JValue)
    }.getOrElse(Nil)
    val metaAst = JObject(
      "format-version" -> JInt(2),
      "table-uuid" -> JString(java.util.UUID
        .nameUUIDFromBytes(location.getBytes("UTF-8")).toString),
      "location" -> JString(location),
      "last-sequence-number" -> JInt(seq),
      "last-updated-ms" -> JInt(nowMs),
      "last-column-id" -> JInt(lastColumnId),
      "current-schema-id" -> JInt(schemaId),
      "schemas" -> JArray((prevSchemas.filterNot(s =>
        (s \ "schema-id").extract[Int] == schemaId) :+
        JsonMethods.parse(schemaJson)).toList),
      "default-spec-id" -> JInt(defaultSpecId),
      "partition-specs" -> JArray(
        if (specsJson.nonEmpty) specsJson
        else List(JObject("spec-id" -> JInt(0), "fields" -> specFields))),
      "last-partition-id" -> JInt(
        if (lastPartitionId >= 0) lastPartitionId
        else 999 + specFields.children.size),
      "default-sort-order-id" -> JInt(defaultOrderId),
      "sort-orders" -> JArray(sortOrders),
      "properties" -> JObject(
        ((prev.map(_.properties).getOrElse(Map.empty) +
          ("write.format.default" -> "parquet") +
          // the Iceberg name-mapping spec, refreshed per write from the
          // CURRENT schema: Spark's parquet writer stamps field ids on
          // struct-shaped columns only (map key/value and array element
          // ids have no StructField metadata slot), so a strict foreign
          // reader resolving purely by id needs this name-based fallback
          // for those nested positions
          ("schema.name-mapping.default" ->
            nameMappingJson(JsonMethods.parse(schemaJson)))) ++ extraProps)
          .toList.sortBy(_._1)
          .map { case (k, v2) => k -> (JString(v2): JValue) }: _*),
      "current-snapshot-id" -> JInt(snapshotId),
      // the spec's snapshot-references map: `main` tracks the current
      // snapshot (what HadoopTables and the REST catalog both write).
      // Non-main refs CARRY FORWARD — a data/delete snapshot between
      // mirrorTags ticks (or a foreign engine's own tags) must not wipe
      // the refs map; updateRefs remains the reconciliation point.
      "refs" -> JObject(
        ("main" -> (JObject(
          "snapshot-id" -> JInt(snapshotId),
          "type" -> JString("branch")): JValue)) +:
          prev.map(st => (st.meta \ "refs") match {
            case JObject(fs2) => fs2.filterNot(_._1 == "main")
            case _ => Nil
          }).getOrElse(Nil): _*),
      "snapshots" -> JArray((prevSnapshots :+ (newSnap: JValue)).toList),
      "snapshot-log" -> JArray((prevLog :+ (JObject(
        "timestamp-ms" -> JInt(nowMs),
        "snapshot-id" -> JInt(snapshotId)): JValue)).toList),
      "metadata-log" -> JArray(newMetaLog.toList))
    val v = prev.map(_.version + 1).getOrElse(1)
    writeString(fs, new Path(s"$destDir/metadata/v$v.metadata.json"),
      JsonMethods.pretty(JsonMethods.render(metaAst)) + "\n")
    writeString(fs, hintPath(destDir), v.toString)
  }

  private def writeString(fs: org.apache.hadoop.fs.FileSystem, p: Path,
      s: String): Unit = {
    val out = createFile(fs, p)
    try out.write(s.getBytes("UTF-8")) finally out.close()
  }

  /** Create-or-overwrite `p` for a metadata write. The local filesystem
    * writes through java.nio, as the store's metadata seam does: Hadoop's
    * checksummed local create forks a `chmod` per file (no native Hadoop
    * library) and writes a `.crc` sidecar, and a sidecar left by an earlier
    * Hadoop write is removed, or a checksummed read of the new bytes would
    * fail. Every other scheme writes through its FileSystem. */
  private def createFile(fs: org.apache.hadoop.fs.FileSystem,
      p: Path): java.io.OutputStream =
    if (fs.getScheme != "file") fs.create(p, true)
    else {
      val local = java.nio.file.Paths.get(fs.makeQualified(p).toUri)
      java.nio.file.Files.createDirectories(local.getParent)
      java.nio.file.Files.deleteIfExists(
        local.resolveSibling(s".${local.getFileName}.crc"))
      new java.io.BufferedOutputStream(java.nio.file.Files.newOutputStream(local))
    }

  // ── data-dir listing + hive partition values ────────────────────────────

  /** (qualified path, length) of every data-dir file, partition dirs
    * included, metadata/hidden names excluded. */
  private[sources] def listDataFiles(spark: SparkSession,
      destDir: String): Seq[(String, Long)] = {
    val dataDir = new Path(s"$destDir/data")
    val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dataDir)) return Nil
    SnapshotTable.listVisibleFiles(fs, dataDir).collect {
      case (rel, st) if !rel.startsWith("deletes-") =>
        (fs.makeQualified(st.getPath).toString, st.getLen)
    }.sortBy(_._1)
  }

  /** The partition tuple of one data file, parsed from its hive path
    * segments and typed for the Avro partition record (the tuple's type is
    * the TRANSFORM's result type — epoch-day int for `day`, int for
    * month/year/hour/bucket, the source type for identity/truncate). */
  private def partitionValuesOf(path: String,
      specs: Seq[SpecField], types: Map[String, DataType]): Map[String, Any] =
    if (specs.isEmpty) Map.empty
    else {
      val segs = path.split('/').filter(_.contains('='))
        .map { s =>
          val i = s.indexOf('=')
          (s.substring(0, i),
            ExternalCatalogUtils.unescapePathName(s.substring(i + 1)))
        }.toMap
      specs.flatMap { sf =>
        segs.get(sf.name).filter(_ != "__HIVE_DEFAULT_PARTITION__").map { raw =>
          val v: Any = partResultType(sf, types(sf.source)) match {
            case IntegerType | ShortType | ByteType => raw.toInt
            case LongType => raw.toLong
            case StringType => raw
            case BooleanType => raw.toBoolean
            case FloatType => raw.toFloat
            case DoubleType => raw.toDouble
            case DateType => java.time.LocalDate.parse(raw).toEpochDay.toInt
            case other => throw new IllegalArgumentException(
              s"unsupported partition value type $other")
          }
          sf.name -> v
        }
      }.toMap
    }

  // ── the independent read path (metadata chain only) ─────────────────────

  /** One planned file, resolved purely through the metadata chain. */
  private final case class PlannedFile(path: String, records: Long,
      content: Int, seq: Long, partition: Map[String, Any],
      lower: Map[Int, Array[Byte]], upper: Map[Int, Array[Byte]],
      equalityIds: Seq[Int],
      valueCounts: Map[Int, Long], nullCounts: Map[Int, Long],
      addedBy: Long, sortOrderId: Option[Int], specId: Int = 0)

  private def manifestListPathOf(st: TableState, snapshotId: Long): String = {
    implicit val fmts: Formats = DefaultFormats
    val snap = st.snapshots.find(s =>
      (s \ "snapshot-id").extract[Long] == snapshotId).getOrElse(
      throw new IllegalArgumentException(
        s"snapshot $snapshotId not in the metadata chain"))
    (snap \ "manifest-list").extract[String]
  }

  /** (manifest path, manifest content, added-snapshot-id, sequence) of one
    * snapshot's list — the last two feed the spec's METADATA INHERITANCE:
    * a null entry-level snapshot_id/sequence_number (what real engines
    * write for ADDED entries) inherits the manifest_file's values. */
  private def manifestsOf(spark: SparkSession, st: TableState,
      snapshotId: Long): Seq[(String, Int, Long, Long, Int)] =
    readAvro(spark, new Path(manifestListPathOf(st, snapshotId)))
      .map(r => (r.get("manifest_path").toString,
        r.get("content").asInstanceOf[Int],
        Option(r.get("added_snapshot_id")).map(_.asInstanceOf[Long]).getOrElse(0L),
        Option(r.get("sequence_number")).map(_.asInstanceOf[Long]).getOrElse(0L),
        Option(r.get("partition_spec_id")).map(_.asInstanceOf[Int]).getOrElse(0)))

  private def plannedOf(spark: SparkSession, st: TableState,
      snapshotId: Long): Seq[PlannedFile] =
    manifestsOf(spark, st, snapshotId).flatMap { case (m, _, mAdded, mSeq, mSpec) =>
      readAvro(spark, new Path(m))
        .filter(_.get("status").asInstanceOf[Int] != 2) // 2 = DELETED
        .map { e =>
          val d = e.get("data_file").asInstanceOf[GenericData.Record]
          def bounds(field: String): Map[Int, Array[Byte]] =
            Option(d.get(field)).map { arr =>
              import scala.jdk.CollectionConverters._
              arr.asInstanceOf[java.util.List[_]].asScala.map { kv =>
                val r = kv.asInstanceOf[org.apache.avro.generic.GenericRecord]
                val bb = r.get("value").asInstanceOf[java.nio.ByteBuffer]
                val b = new Array[Byte](bb.remaining()); bb.duplicate().get(b)
                r.get("key").asInstanceOf[Int] -> b
              }.toMap
            }.getOrElse(Map.empty)
          val partition = Option(d.get("partition"))
            .map(_.asInstanceOf[org.apache.avro.generic.GenericRecord])
            .map { p =>
              import scala.jdk.CollectionConverters._
              p.getSchema.getFields.asScala.flatMap { f =>
                Option(p.get(f.name())).map {
                  case u: org.apache.avro.util.Utf8 => f.name() -> (u.toString: Any)
                  case v => f.name() -> (v: Any)
                }
              }.toMap
            }.getOrElse(Map.empty[String, Any])
          val eqIds = Option(d.get("equality_ids")).map { arr =>
            import scala.jdk.CollectionConverters._
            arr.asInstanceOf[java.util.List[_]].asScala
              .map(_.asInstanceOf[Int]).toSeq
          }.getOrElse(Nil)
          def counts(field: String): Map[Int, Long] =
            // older manifests lack the metrics fields: Avro's generic
            // reader returns null there, which is just "no metrics"
            Option(if (d.getSchema.getField(field) == null) null
              else d.get(field)).map { arr =>
              import scala.jdk.CollectionConverters._
              arr.asInstanceOf[java.util.List[_]].asScala.map { kv =>
                val r = kv.asInstanceOf[org.apache.avro.generic.GenericRecord]
                r.get("key").asInstanceOf[Int] ->
                  r.get("value").asInstanceOf[Long]
              }.toMap
            }.getOrElse(Map.empty)
          PlannedFile(d.get("file_path").toString,
            d.get("record_count").asInstanceOf[Long],
            d.get("content").asInstanceOf[Int],
            Option(e.get("sequence_number")).map(_.asInstanceOf[Long])
              .getOrElse(mSeq),
            partition, bounds("lower_bounds"), bounds("upper_bounds"), eqIds,
            counts("value_counts"), counts("null_value_counts"),
            Option(e.get("snapshot_id")).map(_.asInstanceOf[Long])
              .getOrElse(mAdded),
            // older manifests lack the field; null = unsorted/unknown
            Option(if (d.getSchema.getField("sort_order_id") == null) null
              else d.get("sort_order_id")).map(_.asInstanceOf[Int]),
            specId = mSpec)
        }
    }

  /** The file filter for `conj` over files written under `specs`: each
    * file's binary bounds, null/value counts and partition tuple become a
    * [[FilePruning.FileMetrics]] record, and [[FilePruning.keep]] decides
    * over the conjuncts with their tuple conjuncts derived. */
  private def pruner(st: TableState, specs: Seq[SpecField],
      conj: Seq[Expression]): PlannedFile => Boolean = {
    val byName = st.fields.fields.map(f => f.name -> f.dataType).toMap
    val types = FilePruning.typesOf(st.fields) ++ specs.filterNot(_.isIdentity)
      .flatMap(sf => byName.get(sf.source).map(sf.name.toLowerCase -> partResultType(sf, _)))
    val derived = FilePruning.deriveTuples(conj, specs, types)
    val ids = st.fieldIds.map { case (n, id) => n.toLowerCase -> id }
    f => {
      // a tuple pins its field (an identity tuple: its source column) to
      // one value
      val tuples = specs.flatMap { sf =>
        val key = (if (sf.isIdentity) sf.source else sf.name).toLowerCase
        for (raw <- f.partition.get(sf.name); dt <- types.get(key); v <- tupleValue(raw, dt))
          yield key -> (v, v)
      }.toMap
      def bounds(c: String) = for {
        id <- ids.get(c); dt <- types.get(c)
        lo <- f.lower.get(id).flatMap(boundValue(dt, _))
        hi <- f.upper.get(id).flatMap(boundValue(dt, _))
      } yield (lo, hi)
      def count(counts: Map[Int, Long])(c: String) = ids.get(c).flatMap(counts.get)
      FilePruning.keep(types, FilePruning.FileMetrics(c => tuples.get(c).orElse(bounds(c)),
        count(f.nullCounts), count(f.valueCounts)), derived)
    }
  }

  /** A partition tuple's Avro value in the domain of its column of type
    * `dt`: Avro hands dates over as epoch-day ints and timestamps as
    * epoch-micro longs. */
  private[sources] def tupleValue(raw: Any, dt: DataType): Option[Any] =
    scala.util.Try(
      if (dt == DateType || dt == TimestampType) Literal(raw, dt) else Literal(raw)
    ).toOption.flatMap(FilePruning.domainValue(_, dt))

  /** The data files the chosen snapshot plans (content=0, live statuses),
    * resolved ONLY through the Iceberg metadata chain. (path, record_count)
    * per file — the q128 audit surface. */
  def plannedFiles(spark: SparkSession, dir: String,
      snapshotId: Option[Long] = None): Seq[(String, Long)] = {
    val st = readState(spark, dir)
    plannedOf(spark, st, snapshotId.getOrElse(st.currentSnapshotId))
      .filter(_.content == 0).map(f => (f.path, f.records))
  }

  /** The chain's DEFAULT sort order as a column list (empty = unsorted):
    * the write clustering recorded across the interchange boundary, so a
    * consumer can preserve it. A store's zorder(c1, c2, …) surfaces as
    * the spec's multi-column order over the same columns. */
  def sortOrderOf(spark: SparkSession, dir: String): Seq[String] = {
    implicit val fmts: Formats = DefaultFormats
    val st = readState(spark, dir)
    val oid = (st.meta \ "default-sort-order-id").extractOpt[Int].getOrElse(0)
    if (oid == 0) Nil
    else {
      val idToName = st.fieldIds.map(_.swap)
      (st.meta \ "sort-orders").children
        .find(o => (o \ "order-id").extract[Int] == oid)
        .map(o => (o \ "fields").children.map(f =>
          idToName.getOrElse((f \ "source-id").extract[Int],
            throw new IllegalStateException(
              "sort-order field names an unknown source-id"))))
        .getOrElse(Nil)
    }
  }

  /** (data-file path, per-file sort_order_id) of the current snapshot's
    * plan — the audit surface for the clustering handoff. */
  private[sources] def plannedDataFileOrders(spark: SparkSession,
      dir: String): Seq[(String, Option[Int])] = {
    val st = readState(spark, dir)
    plannedOf(spark, st, st.currentSnapshotId)
      .filter(_.content == 0).map(f => (f.path, f.sortOrderId))
  }

  /** The chain's snapshot-references beyond `main`: name →
    * (snapshot-id, type). The tag-interchange surface — [[syncStore]]
    * mirrors store TAGS here, [[syncFromTable]] adopts them. */
  def chainRefs(spark: SparkSession, dir: String): Map[String, (Long, String)] = {
    implicit val fmts: Formats = DefaultFormats
    val st = readState(spark, dir)
    (st.meta \ "refs") match {
      case JObject(fs) => fs.collect {
        case (name, o) if name != "main" =>
          name -> ((o \ "snapshot-id").extract[Long],
            (o \ "type").extract[String])
      }.toMap
      case _ => Map.empty
    }
  }

  /** METADATA-ONLY update of the refs map (a new vN+1.metadata.json that
    * differs only in refs, last-updated-ms and the metadata-log): `main`
    * always tracks the current snapshot and cannot be overridden. The
    * ref-propagation tail of a [[syncStore]] tick. */
  private def updateRefs(spark: SparkSession, dir: String,
      refs: Map[String, (Long, String)]): Unit = {
    implicit val fmts: Formats = DefaultFormats
    val st = readState(spark, dir)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nowMs = System.currentTimeMillis()
    val refsJson = JObject(
      ("main" -> (JObject(
        "snapshot-id" -> JInt(st.currentSnapshotId),
        "type" -> JString("branch")): JValue)) +:
        refs.toList.sortBy(_._1).map { case (n, (sid, kind)) =>
          n -> (JObject("snapshot-id" -> JInt(sid),
            "type" -> JString(kind)): JValue)
        }: _*)
    val prevMetaLog = (st.meta \ "metadata-log").children
    // remove-then-append: a chain written before refs existed has no such
    // field, and transformField alone would silently never add it (the
    // update must converge, not re-bump metadata every tick)
    val newMeta = st.meta
      .removeField { case ("refs", _) => true; case _ => false }
      .transformField {
        case ("last-updated-ms", _) => ("last-updated-ms", JInt(nowMs))
        case ("metadata-log", _) => ("metadata-log", JArray(
          (prevMetaLog :+ (JObject(
            "timestamp-ms" -> JInt((st.meta \ "last-updated-ms").extract[Long]),
            "metadata-file" -> JString(fs.makeQualified(new Path(
              s"$dir/metadata/v${st.version}.metadata.json")).toString)): JValue)).toList))
      } merge JObject("refs" -> (refsJson: JValue))
    val v = st.version + 1
    writeString(fs, new Path(s"$dir/metadata/v$v.metadata.json"),
      JsonMethods.pretty(JsonMethods.render(newMeta)) + "\n")
    writeString(fs, hintPath(dir), v.toString)
  }

  /** Snapshot ids of the chain, oldest first (time-travel surface). */
  def snapshotIds(spark: SparkSession, dir: String): Seq[Long] = {
    implicit val fmts: Formats = DefaultFormats
    readState(spark, dir).snapshots
      .map(s => (s \ "snapshot-id").extract[Long])
  }

  /** Read an exported table back purely from its Iceberg metadata:
    * version-hint → metadata.json → (chosen or current) snapshot →
    * manifest list → manifests → data + delete files. Predicates prune on
    * partition tuples and column bounds BEFORE the scan plans
    * ([[lastPlanStats]] reports kept/total) and apply as residual filters;
    * position and equality delete files apply with the spec's
    * sequence-number rules. An empty snapshot returns an empty frame with
    * the table's schema. */
  /** The table state as seen FROM one snapshot: if the snapshot records a
    * schema-id other than the current one (time travel across an
    * evolution), swap in that schema — the spec's time-travel rule. */
  private def stateAt(st: TableState, sid: Long): TableState = {
    implicit val fmts: Formats = DefaultFormats
    st.snapshots.find(s => (s \ "snapshot-id").extract[Long] == sid)
      .flatMap(s => (s \ "schema-id").extractOpt[Int])
      .flatMap(id => (st.meta \ "schemas").children.find(s =>
        (s \ "schema-id").extract[Int] == id))
      .map { ast =>
        val fieldIds = (ast \ "fields").children.map(f =>
          (f \ "name").extract[String] -> (f \ "id").extract[Int]).toMap
        st.copy(schemaAst = ast, fields = sparkSchema(ast),
          fieldIds = fieldIds)
      }.getOrElse(st)
  }

  /** Read content=0 `files` resolved to `st`'s schema BY FIELD ID (the
    * spec's column-resolution rule): files are grouped by the schema they
    * were ADDED under; when that schema names a shared field id
    * differently (a later RENAME) or holds a target NAME under a
    * different id (a dropped name re-added under a fresh id), the group
    * reads its OWN column names and projects to the target schema by id —
    * renamed columns keep their history, re-added names read pre-add
    * bytes as NULL. Chains with no such divergence (the common case) take
    * the single-scan path: an explicit read schema already null-fills
    * added columns and widens promoted ones (int→long, float→double —
    * Spark 4 parquet widening); identity partition columns take their dir
    * values typed. `withProv` appends `__ice_file`/`__ice_pos` at SCAN
    * time (before any union, where `_metadata` resolves). */
  private def readDataResolved(spark: SparkSession, st: TableState,
      files: Seq[PlannedFile], basePath: String,
      withProv: Boolean): DataFrame = {
    implicit val fmts: Formats = DefaultFormats
    def proved(d: DataFrame): DataFrame =
      if (withProv) d
        .withColumn("__ice_file", col("_metadata.file_path"))
        .withColumn("__ice_pos", col("_metadata.row_index"))
      else d
    val targetFieldAsts: Seq[JValue] = (st.schemaAst \ "fields").children
    val targetFields: Seq[(Int, StructField)] =
      st.fields.fields.toSeq.map(f => st.fieldIds(f.name) -> f)
    val targetSchemaId = (st.schemaAst \ "schema-id").extract[Int]
    val schemaIdOfSnap: Map[Long, Int] = st.snapshots.flatMap { s =>
      for { sid <- (s \ "snapshot-id").extractOpt[Long]
            scid <- (s \ "schema-id").extractOpt[Int] } yield sid -> scid
    }.toMap
    def fieldAstsById(schemaId: Int): Option[Map[Int, JValue]] =
      (st.meta \ "schemas").children
        .find(s => (s \ "schema-id").extractOpt[Int].contains(schemaId))
        .map(ast => (ast \ "fields").children.map(f =>
          (f \ "id").extract[Int] -> f).toMap)
    // does a name-based read of this group's files misresolve anything —
    // at the TOP level or (r20) INSIDE a struct? Renamed-since (same id,
    // new name) and re-added (same name, new id) both need id mapping.
    def divergesByName(gT: JValue, tT: JValue): Boolean = (gT, tT) match {
      case (go: JObject, to2: JObject)
          if (go \ "type") == JString("struct") &&
            (to2 \ "type") == JString("struct") =>
        val gFields = (go \ "fields").children.map(f =>
          (f \ "id").extract[Int] -> f).toMap
        val gNames = (go \ "fields").children.map(f =>
          (f \ "name").extract[String]).toSet
        (to2 \ "fields").children.exists { tf =>
          gFields.get((tf \ "id").extract[Int]) match {
            case Some(gf) =>
              (gf \ "name").extract[String] != (tf \ "name").extract[String] ||
                divergesByName(gf \ "type", tf \ "type")
            case None => gNames.contains((tf \ "name").extract[String])
          }
        }
      case _ => false
    }
    def needsIdMapping(g: Map[Int, JValue]): Boolean = {
      val gNames = g.values.map(f => (f \ "name").extract[String]).toSet
      targetFieldAsts.exists { tf =>
        g.get((tf \ "id").extract[Int]) match {
          case Some(gf) =>
            (gf \ "name").extract[String] != (tf \ "name").extract[String] ||
              divergesByName(gf \ "type", tf \ "type")
          case None => gNames.contains((tf \ "name").extract[String])
        }
      }
    }
    // files whose adding snapshot is unknown (foreign manifests without
    // entry-level ids) resolve name-based under the target schema. Groups
    // split on the WRITE spec too: two specs lay files out under
    // different hive dir structures, which one basePath scan cannot mix.
    val grouped = files.groupBy(f =>
      (schemaIdOfSnap.getOrElse(f.addedBy, targetSchemaId), f.specId))
    val mappingNeeded =
      grouped.keysIterator.map(_._2).toSet.size > 1 ||
        grouped.keysIterator.exists { case (gid, _) =>
          gid != targetSchemaId && fieldAstsById(gid).exists(needsIdMapping) }
    if (!mappingNeeded)
      proved(spark.read.option("basePath", basePath)
        .schema(st.fields)
        .parquet(files.map(_.path): _*))
    else grouped.toSeq.sortBy(_._1).map { case ((gid, _), gFiles) =>
      val g: Map[Int, JValue] = fieldAstsById(gid).getOrElse(
        targetFieldAsts.map(f => (f \ "id").extract[Int] -> f).toMap)
      // read the group under ITS OWN names (target leaf types: promotions
      // widen on read), then project to the target schema by field id —
      // recursively through structs (r20: nested renames keep history,
      // nested re-adds null-fill)
      val resolved: Seq[(Option[(String, DataType, Column => Column)], StructField)] =
        targetFields.zip(targetFieldAsts).map { case ((id, f), tAst) =>
          g.get(id) match {
            case Some(gf) =>
              val gname = (gf \ "name").extract[String]
              val (rt, proj) = resolveTypeById(gf \ "type", tAst \ "type",
                f.dataType)
              (Some((gname, rt, proj)), f)
            case None => (None, f)
          }
        }
      val readSchema = StructType(resolved.collect {
        case (Some((gname, rt, _)), _) =>
          StructField(gname, rt, nullable = true) })
      val base = proved(spark.read.option("basePath", basePath)
        .schema(readSchema).parquet(gFiles.map(_.path): _*))
      val sel = resolved.map {
        case (Some((gname, _, proj)), f) =>
          proj(col(gname)).cast(SnapshotTable.allNullable(f.dataType)).as(f.name)
        case (None, f) => lit(null).cast(SnapshotTable.allNullable(f.dataType)).as(f.name)
      } ++ (if (withProv) Seq(col("__ice_file"), col("__ice_pos")) else Nil)
      base.select(sel: _*)
    }.reduce(_.unionByName(_))
  }

  /** Mirror a foreign NESTED struct evolution (rename/drop/promote/add, by
    * SUBFIELD ID against the parent snapshot's type ast) as store nested
    * evolve commits — metadata-only, crash-replay-safe (each op checks the
    * store's CURRENT schema first). Refuses (IllegalArgumentException →
    * the caller's fold) what the store cannot express fine-grained:
    * subfield reorders, mid-struct inserts (store nested adds append at
    * the end), dependent rename sets (a nested swap), non-promotable type
    * changes. `prefix` is the dotted path into `parentCol` ("" at the
    * top), built from TARGET names (renames apply before descent). */
  /** Top-level (column-name → parquet field id) pairs from one data
    * file's footer — the ids [[withFieldIds]] stamped at write time.
    * Nested ids are not needed here: the expired-parent fallback resolves
    * only top-level rename-vs-add+drop ambiguity. */
  private def footerTopLevelIds(spark: SparkSession,
      path: String): Seq[(String, Int)] = {
    import scala.jdk.CollectionConverters._
    val hconf = spark.sparkContext.hadoopConfiguration
    val reader = SnapshotTable.footerOpener(hconf)(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new Path(path), hconf))
    try reader.getFooter.getFileMetaData.getSchema.getFields.asScala.toSeq
      .flatMap(f => Option(f.getId).map(id => f.getName -> id.intValue))
    finally reader.close()
  }

  private def nestedMirror(st: SnapshotTable, parentCol: String,
      pT: JValue, tT: JValue, prefix: String): Unit = {
    implicit val fmts: Formats = DefaultFormats
    def pathType(path: String): Option[DataType] = {
      def walk(t: DataType, segs: Seq[String]): Option[DataType] = t match {
        case s: StructType => s.fields
          .find(_.name.equalsIgnoreCase(segs.head))
          .flatMap(f => if (segs.size == 1) Some(f.dataType)
            else walk(f.dataType, segs.tail))
        case _ => None
      }
      st.read().schema.fields.find(_.name.equalsIgnoreCase(parentCol))
        .flatMap(f => walk(f.dataType, path.split('.').toSeq))
    }
    (pT, tT) match {
      case (po: JObject, to2: JObject)
          if (po \ "type") == JString("struct") &&
            (to2 \ "type") == JString("struct") =>
        val pF = (po \ "fields").children.map(f =>
          ((f \ "id").extract[Int], (f \ "name").extract[String], f \ "type"))
        val tF = (to2 \ "fields").children.map(f =>
          ((f \ "id").extract[Int], (f \ "name").extract[String], f \ "type"))
        val pIds = pF.map(_._1)
        val tIds = tF.map(_._1).toSet
        val keptT = tF.filter(f => pIds.contains(f._1))
        val keptP = pF.filter(f => tIds.contains(f._1))
        require(keptT.map(_._1) == keptP.map(_._1),
          s"snapshot reorders subfields of $parentCol.$prefix — " +
            "the store cannot express a nested reorder")
        require(tF.reverse.takeWhile(f => !pIds.contains(f._1)).size ==
          tF.count(f => !pIds.contains(f._1)),
          s"snapshot inserts a subfield mid-struct in $parentCol.$prefix — " +
            "store nested adds append at the end")
        val renamePairs = keptT.flatMap { case (id, tn, _) =>
          val pn = pF.find(_._1 == id).get._2
          if (pn != tn) Some((pn, tn)) else None
        }
        val srcs = renamePairs.map(_._1).toSet
        require(!renamePairs.exists(p => srcs.contains(p._2)),
          s"dependent nested rename set in $parentCol.$prefix (a swap) — " +
            "the store cannot stage nested temp renames")
        // drops first (a dropped name may be re-used by a rename target)
        pF.filterNot(f => tIds.contains(f._1)).foreach { case (_, pn, _) =>
          if (pathType(s"$prefix$pn").isDefined &&
              !renamePairs.exists(_._2 == pn))
            st.dropNestedColumn(parentCol, s"$prefix$pn")
          else if (pathType(s"$prefix$pn").isDefined)
            // the dropped name is also a rename TARGET: the store's
            // occupant under pn is the pre-rename column only if the
            // rename hasn't run; a single pass can't order these — refuse
            throw new IllegalArgumentException(
              s"subfield $pn of $parentCol.$prefix is dropped and " +
                "re-occupied by a rename in one snapshot")
        }
        // renames (replay-safe: only when source present, target absent)
        renamePairs.foreach { case (pn, tn) =>
          if (pathType(s"$prefix$pn").isDefined &&
              pathType(s"$prefix$tn").isEmpty)
            st.renameNestedColumn(parentCol, s"$prefix$pn", tn)
        }
        // promotions + recursion, under TARGET names
        keptT.foreach { case (id, tn, tAst2) =>
          val pAst2 = pF.find(_._1 == id).get._3
          val pt = sparkType(pAst2)
          val tt = sparkType(tAst2)
          if (pt != tt) (pt, tt) match {
            case (_: StructType, _: StructType) =>
              nestedMirror(st, parentCol, pAst2, tAst2, s"$prefix$tn.")
            case _ =>
              if (pathType(s"$prefix$tn").exists(t => t != tt))
                st.alterNestedColumnType(parentCol, s"$prefix$tn", tt.sql)
          }
        }
        // adds, appended in target order
        tF.filterNot(f => pIds.contains(f._1)).foreach { case (_, tn, tAst2) =>
          if (pathType(s"$prefix$tn").isEmpty)
            st.addNestedColumn(parentCol, s"$prefix$tn", sparkType(tAst2).sql)
        }
      case _ => throw new IllegalArgumentException(
        s"column $parentCol changed type in a way the store cannot mirror " +
          "fine-grained")
    }
  }

  /** Read-side NESTED id resolution (r20): given the type AST a file group
    * was written under and the target's, return (the read type — group
    * subfield NAMES with target leaf types, so parquet widens promotions
    * by name — and a projection rebuilding the target struct shape by
    * FIELD ID: renamed subfields carry their values, added/re-added ids
    * null-fill, dropped ones leave; NULL structs stay NULL). Non-struct
    * positions are identity — structs inside arrays/maps resolve by name,
    * matching the export's refusal to author renames there. */
  private def resolveTypeById(gAst: JValue, tAst: JValue,
      tType: DataType): (DataType, Column => Column) = {
    implicit val fmts: Formats = DefaultFormats
    (gAst, tAst, tType) match {
      case (go: JObject, to2: JObject, ts: StructType)
          if (go \ "type") == JString("struct") &&
            (to2 \ "type") == JString("struct") =>
        val gFields = (go \ "fields").children.map(f =>
          (f \ "id").extract[Int] -> f).toMap
        val subs = ts.fields.toSeq.zip((to2 \ "fields").children).map {
          case (tf, tfAst) =>
            gFields.get((tfAst \ "id").extract[Int]) match {
              case Some(gf) =>
                val gname = (gf \ "name").extract[String]
                val (rt, proj) =
                  resolveTypeById(gf \ "type", tfAst \ "type", tf.dataType)
                (Some((gname, rt, proj)), tf)
              case None => (None, tf)
            }
        }
        val readType = StructType(subs.collect {
          case (Some((gn, rt, _)), _) => StructField(gn, rt, nullable = true) })
        val proj: Column => Column = c => {
          val parts = subs.map {
            case (Some((gn, _, p)), tf) =>
              p(c.getField(gn)).cast(SnapshotTable.allNullable(tf.dataType)).as(tf.name)
            case (None, tf) =>
              lit(null).cast(SnapshotTable.allNullable(tf.dataType)).as(tf.name)
          }
          when(c.isNull, lit(null).cast(SnapshotTable.allNullable(ts)))
            .otherwise(struct(parts: _*))
        }
        (readType, proj)
      case _ => (tType, identity)
    }
  }

  /** Position-delete files read with the spec's `file_path string,
    * pos long` schema — never inferred from the files. */
  private def readPositionDeletes(spark: SparkSession,
      paths: Seq[String]): DataFrame =
    spark.read.schema(StructType(Seq(StructField("file_path", StringType),
      StructField("pos", LongType)))).parquet(paths: _*)

  /** One delete snapshot's equality-delete `files`, read with the schema
    * the metadata fixes — never inferred from the files — and returned as
    * the columns `cols` (the key names at `st`, in equality-id order). The
    * files carry their WRITE-TIME column names and types: each key id
    * resolves against the ADDING snapshot's schema, so a later rename or
    * type promotion stays metadata-only for standing delete files too. */
  private def readEqualityDeletes(spark: SparkSession, st: TableState,
      files: Seq[PlannedFile], cols: Seq[String]): DataFrame = {
    val at = stateAt(st, files.head.addedBy)
    val writeNames = at.fieldIds.map(_.swap)
    val fields = files.head.equalityIds.zip(cols).map { case (id, c) =>
      val name = writeNames.getOrElse(id, c)
      val dt = at.fields.find(_.name == name).orElse(st.fields.find(_.name == c))
        .getOrElse(throw new IllegalStateException(
          s"equality-delete key $name (field id $id) is in no schema of the chain"))
        .dataType
      StructField(name, SnapshotTable.allNullable(dt), nullable = true)
    }
    spark.read.schema(StructType(fields)).parquet(files.map(_.path): _*)
      .toDF(cols: _*)
  }

  def readTable(spark: SparkSession, dir: String,
      snapshotId: Option[Long] = None,
      preds: Seq[Predicate] = Nil): DataFrame =
    readTableInternal(spark, dir, snapshotId, preds, keepPos = false)

  /** [[readTable]] plus per-row provenance columns `__ice_file`/`__ice_pos`
    * (the owning chain data file and row position) — the surface
    * [[syncStore]]'s position-delete mirroring picks live copies from.
    * `preds` prune exactly as in [[readTable]]. */
  private[sources] def readTableWithPos(spark: SparkSession,
      dir: String, preds: Seq[Predicate] = Nil): DataFrame =
    readTableInternal(spark, dir, None, preds, keepPos = true)

  private def readTableInternal(spark: SparkSession, dir: String,
      snapshotId: Option[Long],
      preds: Seq[Predicate], keepPos: Boolean): DataFrame = {
    val st0 = readState(spark, dir)
    val st = snapshotId.map(stateAt(st0, _)).getOrElse(st0)
    val planned = plannedOf(spark, st, snapshotId.getOrElse(st.currentSnapshotId))
    val dataAll = planned.filter(_.content == 0)
    val conj = preds.map(residual)
    // each file prunes against the spec it was WRITTEN under (spec
    // evolution: per-manifest spec ids; an unknown id prunes bounds-only)
    val pruners = dataAll.map(_.specId).distinct.map { id =>
      id -> pruner(st, st.specsById.getOrElse(id, Nil), conj)
    }.toMap
    val data = if (conj.isEmpty) dataAll else dataAll.filter(f => pruners(f.specId)(f))
    lastPlanStats = (data.size.toLong, dataAll.size.toLong)
    val posDel = planned.filter(_.content == 1)
    val eqDel = planned.filter(_.content == 2)

    if (data.isEmpty) {
      val schema = if (!keepPos) st.fields else StructType(st.fields.fields
        ++ Seq(StructField("__ice_file", StringType),
          StructField("__ice_pos", LongType)))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    }

    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val basePath = fs.makeQualified(new Path(s"$dir/data")).toString
    val needsDeletes = posDel.nonEmpty || eqDel.nonEmpty
    val withProv = needsDeletes || keepPos
    var df = readDataResolved(spark, st, data, basePath, withProv)

    if (needsDeletes || keepPos) {
      // file → data sequence number (bounded by the planned file count)
      val seqRows = data.map(f => (f.path, f.seq))
      import spark.implicits._
      val seqDf = seqRows.toDF("__ice_file2", "__ice_dseq")
      df = df.join(broadcast(seqDf),
        normPath(col("__ice_file")) === normPath(col("__ice_file2")), "left")
        .drop("__ice_file2")

      // position deletes: rows naming (file, pos); apply to data files with
      // data seq ≤ delete seq (spec rule)
      posDel.groupBy(_.seq).toSeq.sortBy(_._1).foreach { case (dseq, files) =>
        val eligible = data.filter(_.seq <= dseq).map(_.path).toSet
        if (eligible.nonEmpty) {
          val dels = readPositionDeletes(spark, files.map(_.path))
            .filter(normPath(col("file_path")).isin(
              eligible.toSeq.map(p => normPathStr(p)): _*))
          df = df.join(broadcast(dels),
            normPath(df("__ice_file")) === normPath(dels("file_path")) &&
              df("__ice_pos") === dels("pos"), "left_anti")
        }
      }

      // equality deletes: key-tuple match against STRICTLY older data files
      val idToName = st.fieldIds.map(_.swap)
      eqDel.groupBy(f => (f.seq, f.equalityIds)).toSeq.sortBy(_._1._1)
        .foreach { case ((dseq, ids), files) =>
          val cols = ids.map(id => idToName.getOrElse(id,
            throw new IllegalStateException(
              s"equality-delete file keys on field id $id, which the " +
                "read schema no longer carries (dropped column) — read " +
                "at a snapshot whose schema still has it")))
          // one group = one delete snapshot (seq numbers are per-snapshot)
          val keys = readEqualityDeletes(spark, st, files, cols)
            .toDF(cols.map(c => s"__del_$c"): _*)
          val cond = cols.map(c => df(c) <=> keys(s"__del_$c"))
            .reduce(_ && _) && (df("__ice_dseq") < dseq)
          df = df.join(broadcast(keys), cond, "left_anti")
        }
      df = if (keepPos) df.drop("__ice_dseq")
        else df.drop("__ice_file", "__ice_pos", "__ice_dseq")
    }

    // schema order + types: identity partition columns come back from hive
    // dirs with inferred types — realign and cast to the Iceberg schema.
    // Derived transform dirs (ts_day=…) also surface as columns; the
    // schema-ordered select drops them (their names are require()d not to
    // collide with schema columns at export).
    // the explicit read schema already null-fills columns old files lack;
    // this select only re-orders and types the identity partition columns
    val partCols = st.specFields.filter(_.isIdentity).map(_.name).toSet
    val outCols = st.fields.fields.map { f =>
      if (partCols(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else col(f.name)
    }.toIndexedSeq ++
      (if (keepPos) Seq(col("__ice_file"), col("__ice_pos")) else Nil)
    val out = df.select(outCols: _*)
    conj.foldLeft(out)((d, e) => d.filter(ColumnBridge.column(e)))
  }

  /** The Iceberg NAME-MAPPING spec JSON for a schema AST (spec §"Name
    * Mapping Serialization"): every field id with its name, recursively —
    * struct subfields under "fields", list elements as "element", map
    * sides as "key"/"value". Written as the `schema.name-mapping.default`
    * table property, the spec's fallback for data files whose parquet
    * schema lacks (some) field ids. */
  private[sources] def nameMappingJson(schemaAst: JValue): String = {
    implicit val fmts: Formats = DefaultFormats
    def entry(id: Int, names: Seq[String], t: JValue): JValue =
      JObject(List[(String, JValue)](
        "field-id" -> JInt(id),
        "names" -> JArray(names.map(n => JString(n): JValue).toList)) ++
        nested(t).map(f => "fields" -> (f: JValue)).toList: _*)
    def nested(t: JValue): Option[JArray] = t match {
      case o: JObject => (o \ "type") match {
        case JString("struct") => Some(JArray((o \ "fields").children.map { f =>
          entry((f \ "id").extract[Int], Seq((f \ "name").extract[String]),
            f \ "type")
        }.toList))
        case JString("list") => Some(JArray(List(
          entry((o \ "element-id").extract[Int], Seq("element"), o \ "element"))))
        case JString("map") => Some(JArray(List(
          entry((o \ "key-id").extract[Int], Seq("key"), o \ "key"),
          entry((o \ "value-id").extract[Int], Seq("value"), o \ "value"))))
        case _ => None
      }
      case _ => None
    }
    JsonMethods.compact(JsonMethods.render(JArray(
      (schemaAst \ "fields").children.map { f =>
        entry((f \ "id").extract[Int], Seq((f \ "name").extract[String]),
          f \ "type")
      }.toList)))
  }

  /** Scheme-insensitive path normalization for joining manifest paths
    * against `_metadata.file_path` (Hadoop renders `file:/x`, Spark may
    * render `file:///x`). */
  private def normPath(c: Column): Column =
    regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*:/{1,3}", "/")

  private def normPathStr(s: String): String =
    s.replaceFirst("^[a-zA-Z][a-zA-Z0-9+.-]*:/{1,3}", "/")

  /** One predicate as a Catalyst expression: the residual row filter, and
    * the conjunct [[pruner]] evaluates against each file. */
  private def residual(p: Predicate): Expression = {
    val c = UnresolvedAttribute.quotedString(p.column)
    lazy val v = Literal(p.value)
    p.op match {
      case "=" => EqualTo(c, v)
      case "!=" => Not(EqualTo(c, v))
      case "<" => LessThan(c, v)
      case "<=" => LessThanOrEqual(c, v)
      case ">" => GreaterThan(c, v)
      case ">=" => GreaterThanOrEqual(c, v)
      case "in" => p.value match {
        case vs: Iterable[_] if vs.isEmpty => Literal(false)
        case vs: Iterable[_] => In(c, vs.toSeq.map(Literal(_)))
        case _ => Literal(true)
      }
      case "isnull" => IsNull(c)
      case "notnull" => IsNotNull(c)
    }
  }
}
