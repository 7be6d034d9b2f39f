package graft.pipeline

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute,
  UnresolvedInlineTable, UnresolvedRelation, UnresolvedTable}
import org.apache.spark.sql.catalyst.expressions.{EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.catalyst.plans.logical.{AddColumns, AlterColumns,
  DeleteAction, DeleteFromTable, DropColumns, InsertAction, InsertIntoStatement,
  InsertStarAction, LocalRelation, LogicalPlan, MergeIntoTable, RenameColumn,
  SubqueryAlias, UnresolvedWith, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.functions.{col, expr, lit, when}
import org.apache.spark.sql.graftbridge.{ColumnBridge, PlanBridge}

import graft.sources.Catalog

/** Executes a Dremio-style SQL script statement-by-statement (the reference's
  * pipeline lifecycle, SURVEY.md §3.2).
  *
  * Spark's parser reads the store statements: DELETE, UPDATE, MERGE INTO,
  * and INSERT INTO or ALTER TABLE … ADD/DROP/RENAME/ALTER COLUMN on a
  * snapshot-bound table (`graft.snapshot.<name>`). Their plan nodes become
  * [[graft.sources.SnapshotTable]] calls in each table's declared
  * `delete_mode`/`update_mode`/`merge_mode` — the Iceberg v2 DML surface —
  * after one rewrite that strips Dremio's `AT BRANCH b` from a DML target
  * and spells `SET DATA TYPE` as `TYPE`. A DELETE with no WHERE truncates,
  * bound and catalog tables alike (logistics_AI.sql:60). Every other
  * statement runs as Spark SQL with plain bound names bound to their stores
  * ([[bindSnapshotReads]]). Only the Dremio and Iceberg-extension arms
  * translate text:
  *
  *  - `CREATE FOLDER a.b.c` → `CREATE NAMESPACE` on a GraftCatalog
  *    registered for `a`, so dotted table paths resolve natively;
  *  - `CREATE VIEW a.b.v` → session temp view `a_b_v`, references
  *    rewritten; `CREATE TABLE … PARTITION BY|DISTRIBUTE BY (…)` → recorded
  *    intent (DISTRIBUTE BY becomes a REPARTITION hint);
  *  - `GRANT …` → Catalog.grant, enforced in `asUser` mode;
  *  - `ALTER DATASET d CREATE [RAW|AGGREGATE] REFLECTION …` → a refreshed,
  *    substituted [[graft.plans.Materializations]] entry;
  *  - `OPTIMIZE TABLE`, `VACUUM TABLE`, `ROLLBACK TABLE t TO SNAPSHOT 'v'`,
  *    branch/tag DDL and `WRITE ORDERED BY` → the store's maintenance, ref
  *    and sort-order calls;
  *  - `t AT SNAPSHOT|TIMESTAMP|BRANCH|TAG …`, `TABLE(table_*('t'))` and
  *    `TABLE(LIST_FILES('@src/…'))` → statement-scoped temp views;
  *  - [[DremioDialect]]'s spellings (AI_GENERATE, TO_TIMESTAMP, …).
  *
  * Comments are stripped and statements split on top-level `;`. Returns the
  * result of every statement that produced rows (SELECTs), by index.
  */
final class SqlScriptRunner(spark: SparkSession,
                            asUser: Option[String] = None,
                            advisor: Option[graft.plans.WorkloadAdvisor] = None) {

  /** dotted view name → flattened temp-view name, longest first at rewrite. */
  private val viewRewrites =
    scala.collection.mutable.LinkedHashMap.empty[String, String]

  /** flattened temp-view name → original dotted path (for grant checks). */
  private val viewPathsByFlat =
    scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]

  /** Reflections declared by this script (`ALTER DATASET … CREATE
    * REFLECTION`), refreshed eagerly and substituted into later SELECTs. */
  lazy val reflections: graft.plans.Materializations =
    new graft.plans.Materializations(spark,
      Some(graft.TempDirs.newDir("graft_reflections")))

  private var metaViewCount = 0
  private var hasReflections = false

  /** graft_* temp views created by the CURRENT statement's rewrites. Only
    * these are exempt from SELECT enforcement (their privilege was checked
    * against the original dataset at rewrite time); a user statement that
    * names a graft_* view bound by an EARLIER (possibly more privileged)
    * statement is denied, and each statement's views are dropped after it
    * executes, so no rewrite artifact outlives its statement. */
  private val stmtViews = scala.collection.mutable.Set.empty[String]

  /** Binds `df` as this statement's next `graft_<kind>_N` view; its name. */
  private def statementView(kind: String, df: DataFrame): String = {
    metaViewCount += 1
    val v = s"graft_${kind}_$metaViewCount"
    df.createOrReplaceTempView(v)
    stmtViews += v
    v
  }

  def run(script: String): Map[Int, DataFrame] = {
    graft.ai.AiFunctions.register(spark)
    // re-ensure this runner's substitution rule before each batch: another
    // registry's install() may have run since the reflection was declared
    if (hasReflections) installSubstitution()
    statements(script).zipWithIndex.flatMap { case (stmt, i) =>
      execute(stmt).map(i -> _)
    }.toMap
  }

  /** Split on `;` outside single/double quotes; strip `--` line comments
    * and `/* … */` block comments. */
  private[pipeline] def statements(raw: String): Seq[String] = {
    val script = DremioDialect.stripBlockComments(raw)
    val noComments = script.linesIterator.map { line =>
      var inS = false; var inD = false; var cut = line.length
      var i = 0
      while (i < line.length - 1 && cut == line.length) {
        line.charAt(i) match {
          case '\'' if !inD => inS = !inS
          case '"' if !inS => inD = !inD
          case '-' if !inS && !inD && line.charAt(i + 1) == '-' => cut = i
          case _ =>
        }
        i += 1
      }
      line.substring(0, cut)
    }.mkString("\n")
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var inS = false; var inD = false
    var i = 0
    while (i < noComments.length) {
      noComments.charAt(i) match {
        case c @ '\\' if (inS || inD) && i + 1 < noComments.length =>
          // backslash-escaped quote inside a literal (single- OR double-
          // quoted) must not toggle state
          sb += c; sb += noComments.charAt(i + 1); i += 1
        case c @ '\'' if !inD => inS = !inS; sb += c
        case c @ '"' if !inS => inD = !inD; sb += c
        case ';' if !inS && !inD =>
          if (sb.toString.trim.nonEmpty) out += sb.toString.trim
          sb.clear()
        case c => sb += c
      }
      i += 1
    }
    if (sb.toString.trim.nonEmpty) out += sb.toString.trim
    out.toSeq
  }

  /** Register a GraftCatalog for the path's first segment, once per name. */
  private def ensureCatalog(cat: String): Unit = {
    val key = s"spark.sql.catalog.$cat"
    if (spark.conf.getOption(key).isEmpty) {
      spark.conf.set(key, classOf[graft.sources.GraftCatalog].getName)
      spark.conf.set(s"$key.warehouse",
        graft.TempDirs.newDir(s"graft_cat_$cat"))
    }
  }

  private def execute(raw: String): Option[DataFrame] = {
    val stmt = DremioDialect.rewriteDdlTypes(
      DremioDialect.rewriteAiGenerate(
        DremioDialect.rewriteToTimestamp3(
          DremioDialect.rewriteFunctionNames(
            DremioDialect.rewriteArrayLiterals(
              DremioDialect.rewriteQuotedIdentifiers(
                rewriteViewPaths(raw)))))))
    val upper = stmt.toUpperCase.replaceAll("\\s+", " ").trim
    val (text, target, branch) = normalise(stmt)
    if (upper.startsWith("CREATE FOLDER")) {
      val path = stmt.trim.split("\\s+").last.stripSuffix(";")
      ensureCatalog(path.split("\\.").head)
      spark.sql(s"CREATE NAMESPACE IF NOT EXISTS $path")
      None
    } else if (upper.startsWith("GRANT ")) {
      Catalog.grant(stmt)
      None
    } else if (upper.startsWith("ALTER DATASET ") && upper.contains(" REFLECTION ")) {
      asUser.foreach { u =>
        "(?is)ALTER\\s+DATASET\\s+([\\w.]+)".r.findFirstMatchIn(stmt).foreach(m =>
          requirePrivilege(u, "ALTER", Seq("ALTER REFLECTION"),
            datasetPath(m.group(1))))
      }
      createReflection(stmt)
      None
    } else if (upper.startsWith("CREATE OR REPLACE VIEW ") ||
        upper.startsWith("CREATE VIEW ")) {
      val m = "(?is)^(CREATE(?:\\s+OR\\s+REPLACE)?\\s+)VIEW\\s+([\\w.]+)(.*)$".r
      // record representations for the Iceberg view export (r20): the
      // translated Spark SQL is the canonical dialect; when the ORIGINAL
      // statement differs (Dremio spellings the dialect layer rewrote),
      // it rides along as a `dremio` representation — the spec's
      // multi-representation list, so the source engine reads its own
      // text back
      def record(viewName: String, sparkBody: String, rawStmt: String): Unit = {
        val rawBody = "(?is)^CREATE(?:\\s+OR\\s+REPLACE)?\\s+VIEW\\s+[\\w.\"]+\\s+AS\\s+(.*)$".r
          .findFirstMatchIn(rawStmt.trim).map(_.group(1).trim)
        val extra = rawBody.filter(_ != sparkBody).map("dremio" -> _).toSeq
        Catalog.recordViewRepresentations(spark, viewName,
          ("spark" -> sparkBody) +: extra)
      }
      def bodyOf(rest: String): Option[String] =
        "(?is)^\\s+AS\\s+(.*)$".r.findFirstMatchIn(rest).map(_.group(1).trim)
      stmt match {
        case m(head, name, rest) if name.contains(".") =>
          val flat = name.replace('.', '_')
          viewRewrites(name) = flat
          viewPathsByFlat(flat) = name.split("\\.").toSeq
          spark.sql(s"${head}TEMP VIEW $flat$rest")
          bodyOf(rest).foreach(record(flat, _, raw))
          None
        case m(_, name, rest) =>
          spark.sql(stmt)
          bodyOf(rest).foreach(record(name, _, raw))
          None
        case _ =>
          spark.sql(stmt); None
      }
    } else if (upper.startsWith("CREATE TABLE") &&
        ("(?i)PARTITION\\s+BY\\s*\\(".r.findFirstIn(stmt).isDefined ||
         "(?i)DISTRIBUTE\\s+BY\\s*\\(".r.findFirstIn(stmt).isDefined)) {
      // Dremio `PARTITION BY (DAY(ts))` / `(col)` on CREATE TABLE: Spark's
      // parser doesn't accept the spelling and the v2 parquet write path
      // doesn't lay out transform partitions, so the clause is recorded as
      // declared intent and the table is created unpartitioned. Day-grain
      // pruning is provided by the engine's own write path
      // (Catalog.ctasDayPartitioned + HiddenPartitionPruning).
      // `DISTRIBUTE BY (cols)` (retail.sql:134) keeps its SEMANTICS: the
      // clause becomes a REPARTITION hint on the CTAS select, clustering
      // rows on the declared key exactly as Dremio lays them out.
      // one nesting level inside the clauses covers DAY(ts)/TRUNCATE(n, col)
      val tName = "(?is)CREATE\\s+TABLE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?([\\w.]+)".r
        .findFirstMatchIn(stmt).map(_.group(1)).getOrElse("?")
      var sql = stmt
      "(?is)PARTITION\\s+BY\\s*\\(((?:[^()]|\\([^()]*\\))*)\\)".r
        .findFirstMatchIn(sql).foreach { m =>
          Catalog.recordPartitionIntent(tName, m.group(1).trim)
          sql = sql.substring(0, m.start) + sql.substring(m.end)
        }
      "(?is)DISTRIBUTE\\s+BY\\s*\\(((?:[^()]|\\([^()]*\\))*)\\)".r
        .findFirstMatchIn(sql).foreach { m =>
          val cols = m.group(1).trim
          Catalog.recordPartitionIntent(tName, s"DISTRIBUTE BY ($cols)")
          sql = sql.substring(0, m.start) + sql.substring(m.end)
          sql = "(?is)\\bSELECT\\b".r.findFirstMatchIn(sql).map(s0 =>
            sql.substring(0, s0.end) + s" /*+ REPARTITION($cols) */" +
              sql.substring(s0.end)).getOrElse(sql)
        }
      spark.sql(sql)
      None
    } else if (upper.startsWith("OPTIMIZE TABLE ")) {
      // X2 maintenance surface: OPTIMIZE TABLE t [REWRITE DATA] — file
      // compaction (readme.md:393-401). Dremio's trailing options
      // (REWRITE DATA USING BIN_PACK, MIN/MAX_FILE_SIZE_MB…) select the
      // strategy; this engine's single strategy IS bin-pack.
      val table = stmt.trim.split("\\s+")(2).stripSuffix(";")
      asUser.foreach(u =>
        requirePrivilege(u, "ALTER", Seq("WRITE"), datasetPath(table)))
      spark.conf.getOption(s"graft.snapshot.$table") match {
        case Some(root) =>
          // snapshot-bound: bin-pack into a fresh base via the versioned
          // store's own compaction (folds outstanding delete files too);
          // the target file count comes from manifest bytes alone
          val st = new graft.sources.SnapshotTable(spark, root)
          val bytes = st.layoutStats()._1.flatMap(_._2).sum
          val tgt = math.max(1L, (bytes + (128L << 20) - 1) / (128L << 20))
          st.compact(tgt.min(Int.MaxValue).toInt)
        case None => Catalog.compactTable(spark, table)
      }
      None
    } else if (upper.startsWith("DELETE FROM ")) {
      // Row-level DELETE on a bound table, in its declared delete_mode (cow
      // default | mor, keyed by graft.snapshot.<name>.key | pos — Iceberg's
      // write.delete.mode). No WHERE truncates: a bound store commits an
      // empty snapshot; a catalog table is dropped and recreated (Spark's
      // FileTable has no v2 TRUNCATE). AT BRANCH writes the branch's head.
      val d = parseAs[DeleteFromTable](text, "DELETE")
      val (name, alias) = targetOf(d.table)
      val truncate = d.condition == Literal.TrueLiteral
      if (truncate && !isBound(name)) {
        asUser.foreach(u =>
          requirePrivilege(u, "DELETE", Seq("WRITE"), datasetPath(name)))
        val schema = spark.table(name).schema
        spark.sql(s"DROP TABLE $name")
        spark.sql(s"CREATE TABLE $name (${schema.toDDL}) USING parquet")
      } else {
        val st = snapshotStore(name, "DELETE")
        val pred = column(d.condition, targetNames(name, alias))
        (branch, if (truncate) "cow" else mode(name, "delete")) match {
          case (Some(b), _) => // survivors become the branch's head
            st.commitToBranch(b, st.readBranch(b).filter(!(pred <=> lit(true))), "overwrite")
          case (_, "mor") => st.deleteWhereMor(pred, keyOf(name, "DELETE"))
          case (_, "pos") => st.deleteWherePos(pred) // keyless position deletes
          case _ => st.deleteWhere(pred)
        }
      }
      None
    } else if (upper.startsWith("UPDATE ")) {
      // UPDATE on a bound table, in its declared update_mode (cow default |
      // mor: only the updated copies + their equality-delete keys).
      val u = parseAs[UpdateTable](text, "UPDATE")
      val (name, alias) = targetOf(u.table)
      val st = snapshotStore(name, "UPDATE")
      val names = targetNames(name, alias)
      val set = u.assignments.map(a =>
        assigned(a.key, names, "UPDATE") -> column(a.value, names)).toMap
      val pred = u.condition.fold(lit(true))(column(_, names))
      (branch, mode(name, "update")) match {
        case (Some(b), _) =>
          val head = st.readBranch(b)
          st.commitToBranch(b, st.onFields(head.schema, set, "UPDATE").foldLeft(head) {
            case (df, (c, e)) => df.withColumn(c, when(pred, e).otherwise(col(c)))
          }, "overwrite")
        case (_, "mor") => st.updateMor(pred, set, keyOf(name, "UPDATE"))
        case _ => st.update(pred, set)
      }
      None
    } else if (upper.startsWith("INSERT INTO ") && target.exists(isBound)) {
      // INSERT on a bound table: an O(DELTA) append commit (the Iceberg
      // append cost model; reference spark.py:88-89). A column list maps the
      // output by position; otherwise SELECT output aligns BY NAME (missing
      // columns null-fill) and VALUES by position, like SQL INSERT.
      val ins = parseAs[InsertIntoStatement](text, "INSERT")
      val (name, _) = targetOf(ins.table)
      require(ins.partitionSpec.isEmpty, s"INSERT INTO $name PARTITION (…): " +
        "unsupported clause — the store lays rows out by its own partition spec")
      val st = snapshotStore(name, "INSERT")
      val df0 = PlanBridge.ofRows(spark, bindSnapshotReads(ins.query))
      // the table's current schema (branch head when AT BRANCH): inserted
      // values are CAST to the target column types, like SQL INSERT — an
      // integer literal landing as INT in a BIGINT table would otherwise
      // split the delta run and widen the resolved schema via unionByName
      lazy val tSchema = branch.map(st.readBranch(_)).getOrElse(st.read()).schema
      def castTo(df: DataFrame): DataFrame = {
        val types = tSchema.fields.map(f => f.name.toLowerCase -> f.dataType).toMap
        // ANSI store-assignment: a value the target column's type cannot
        // hold must ERROR, not silently wrap/truncate (Column.cast is
        // non-ANSI). try_cast marks lossy values null, so a null produced
        // from a non-null input is the failure signal; widening casts can
        // never lose and skip the (one-job) validation pass.
        import org.apache.spark.sql.types._
        def lossless(from: DataType, to: DataType): Boolean = (from, to) match {
          case (a, b) if a == b => true
          case (NullType, _) => true
          case (_, StringType) => true
          case (ByteType, ShortType | IntegerType | LongType |
            FloatType | DoubleType) => true
          case (ShortType, IntegerType | LongType | FloatType | DoubleType) => true
          // int→float and long→float/double can lose PRECISION but never
          // fail to store (ANSI store-assignment allows them, and try_cast
          // never yields null for them — the probe job could never fire),
          // so they skip the validation pass like true widenings
          case (IntegerType, LongType | FloatType | DoubleType) => true
          case (LongType, FloatType | DoubleType) => true
          case (LongType, _) => false
          case (FloatType, DoubleType) => true
          case (DateType, TimestampType) => true
          case _ => false
        }
        val checked = df.schema.fields.toSeq.flatMap { f =>
          types.get(f.name.toLowerCase).toSeq.collect {
            case dt if !lossless(f.dataType, dt) => (f.name, dt)
          }
        }
        if (checked.nonEmpty) {
          val bad = checked.map { case (c, dt) =>
            col(c).isNotNull && expr(s"try_cast(`$c` AS ${dt.sql})").isNull
          }.reduce(_ || _)
          require(df.filter(bad).isEmpty, s"INSERT INTO $name: a value does " +
            s"not fit its target column type (${checked.map { case (c, dt) =>
              s"$c ${dt.simpleString}" }.mkString(", ")}) — ANSI INSERT " +
            "rejects lossy store-assignment; widen the column first " +
            "(ALTER COLUMN … TYPE) or fix the value")
        }
        df.select(df.columns.toSeq.map(c =>
          types.get(c.toLowerCase).map(col(c).cast(_)).getOrElse(col(c)).as(c)): _*)
      }
      val cols = ins.userSpecifiedCols
      val df =
        if (cols.nonEmpty) {
          require(df0.columns.length == cols.length,
            s"INSERT INTO $name (${cols.length} columns): query produced ${df0.columns.length}")
          // every listed column must exist in the table: a typo'd name would
          // otherwise silently schema-evolve the table (by-name union adds it)
          val tableCols = tSchema.fields.map(_.name.toLowerCase).toSet
          val unknown = cols.filterNot(c => tableCols.contains(c.toLowerCase))
          require(unknown.isEmpty,
            s"INSERT INTO $name: unknown column(s) ${unknown.mkString(", ")} — " +
              "use ALTER TABLE ADD COLUMN for schema evolution")
          castTo(df0.toDF(cols: _*))
        } else ins.query match {
          case _: LocalRelation | _: UnresolvedInlineTable => // VALUES
            val tCols = tSchema.fields.map(_.name)
            require(df0.columns.length == tCols.length,
              s"INSERT INTO $name VALUES: ${df0.columns.length} values for ${tCols.length} columns")
            castTo(df0.toDF(tCols.toSeq: _*))
          case _ => df0
        }
      branch match {
        case Some(b) => st.commitToBranch(b, df, "append")
        case None    => st.commit(df, "append")
      }
      None
    } else if (upper.startsWith("MERGE INTO ")) {
      // MERGE INTO a bound table, first matching clause wins: WHEN MATCHED
      // [AND c] THEN UPDATE SET */c = e, …/DELETE; WHEN NOT MATCHED [AND c]
      // THEN INSERT */(c, …) VALUES (…). The source is a name or an aliased
      // sub-select; ON must be one key equality (mergeKey). SET * + INSERT *
      // is the anti-join+union upsert (SnapshotTable.merge); any other mix
      // runs mergeInto (the target never shuffles), and merge_mode=mor one
      // O(source) mergeIntoMor commit.
      val m = parseAs[MergeIntoTable](text, "MERGE")
      val (name, alias) = targetOf(m.targetTable)
      val st = snapshotStore(name, "INSERT")
      val (srcPlan, srcAlias) = m.sourceTable match {
        case SubqueryAlias(a, p) => (p, Some(a.name))
        case p => (p, None)
      }
      val srcName = Some(srcPlan).collect { case r: UnresolvedRelation => r.multipartIdentifier.mkString(".") }
      require(srcAlias.nonEmpty || srcName.nonEmpty, "MERGE USING (sub-select) needs an alias")
      val tNames = targetNames(name, alias)
      val sNames = (srcAlias.toSeq ++ srcName).map(_.toLowerCase)
      require(tNames.intersect(sNames).isEmpty,
        s"MERGE target and source aliases collide: ${tNames.intersect(sNames).mkString(",")}")
      require(m.notMatchedBySourceActions.isEmpty, "MERGE clause WHEN NOT MATCHED " +
        "BY SOURCE is unsupported: the store reads only target rows a source key matches")
      require(!m.withSchemaEvolution, "MERGE WITH SCHEMA EVOLUTION is unsupported")
      val key = mergeKey(m.mergeCondition, tNames, sNames)
      // clause expressions see target columns by plain name and source
      // columns as __src_<name> (the SnapshotTable.mergeInto convention)
      def bind(e: Expression): Column = column(e, tNames, sNames)
      val source = PlanBridge.ofRows(spark, bindSnapshotReads(srcPlan))
      val morMode = mode(name, "merge") == "mor"
      (m.matchedActions, m.notMatchedActions) match {
        case (Seq(UpdateStarAction(None)), Seq(InsertStarAction(None))) if !morMode =>
          st.merge(source, key)
        case (matchedActions, notMatchedActions) =>
          val matched = matchedActions.map {
            // SET * in a clause mix = assign every source column by name
            case UpdateStarAction(c) => (c.map(bind), Some(source.columns.filterNot(_ == key)
              .toSeq.map(c => c -> expr(s"__src_$c")).toMap))
            case UpdateAction(c, set, _) => (c.map(bind), Some(set.map(a =>
              assigned(a.key, tNames, "MERGE UPDATE") -> bind(a.value)).toMap))
            case DeleteAction(c) => (c.map(bind), None)
            case other => throw new IllegalArgumentException(s"unsupported MERGE action: $other")
          }
          val notMatched = notMatchedActions.map {
            case InsertStarAction(c) => (c.map(bind), None)
            case InsertAction(c, set) => (c.map(bind), Some(set.map(a =>
              assigned(a.key, tNames, "MERGE INSERT") -> bind(a.value)).toMap))
            case other => throw new IllegalArgumentException(s"unsupported MERGE action: $other")
          }
          if (morMode) st.mergeIntoMor(source, key, matched, notMatched)
          else st.mergeInto(source, key, matched, notMatched)
      }
      None
    } else if (upper.startsWith("ROLLBACK TABLE ")) {
      // Dremio's ROLLBACK TABLE t TO SNAPSHOT 'v': table head moves to the
      // old content as a NEW snapshot; history is preserved.
      val m = "(?is)ROLLBACK\\s+TABLE\\s+([\\w.]+)\\s+TO\\s+SNAPSHOT\\s+'([^']+)'".r
        .findFirstMatchIn(stmt).getOrElse(throw new IllegalArgumentException(
          "expected: ROLLBACK TABLE t TO SNAPSHOT 'v'"))
      snapshotStore(m.group(1), "ALTER").rollback(m.group(2).trim.toLong)
      None
    } else if (upper.startsWith("VACUUM TABLE ")) {
      // Dremio's snapshot-pruning maintenance SQL (readme.md:398 "metadata
      // pruning — cleaning up snapshots and manifests"; public Dremio/Iceberg
      // VACUUM syntax):
      //   VACUUM TABLE t EXPIRE SNAPSHOTS RETAIN_LAST n
      //   VACUUM TABLE t EXPIRE SNAPSHOTS OLDER_THAN 'yyyy-mm-dd hh:mm:ss'
      //   VACUUM TABLE t REMOVE ORPHAN FILES [OLDER_THAN 'ts']
      // Retention guarantees (live-ref pins, mor bases, alias targets) are
      // SnapshotTable.expireSnapshots' — VACUUM can never orphan a readable
      // snapshot's files; REMOVE ORPHAN FILES is the crashed-writer
      // cleanup (Iceberg's remove_orphan_files), age-guarded and never
      // touching a dir a log record names.
      val om = ("(?is)VACUUM\\s+TABLE\\s+([\\w.]+)\\s+REMOVE\\s+ORPHAN\\s+FILES" +
        "(?:\\s+OLDER_THAN\\s+'([^']+)')?").r.findFirstMatchIn(stmt)
      om match {
        case Some(o) =>
          val st = snapshotStore(o.group(1), "ALTER")
          // Iceberg's remove_orphan_files min-age check: a cutoff inside the
          // slow-writer window is refused unless the session explicitly
          // disables the check (the same escape hatch Iceberg's Spark
          // procedure offers via a conf)
          val minAgeCheck = spark.conf
            .get("graft.snapshot.orphan.minAgeCheck", "true").toBoolean
          Option(o.group(2)) match {
            case Some(ts) => st.removeOrphans(math.max(0L,
              System.currentTimeMillis() -
                java.sql.Timestamp.valueOf(ts.trim).getTime),
              force = !minAgeCheck)
            case None => st.removeOrphans(force = !minAgeCheck)
          }
        case None =>
          val m = ("(?is)VACUUM\\s+TABLE\\s+([\\w.]+)\\s+EXPIRE\\s+SNAPSHOTS\\s+" +
            "(?:RETAIN_LAST\\s+(\\d+)|OLDER_THAN\\s+'([^']+)')").r
            .findFirstMatchIn(stmt).getOrElse(throw new IllegalArgumentException(
              "expected: VACUUM TABLE t EXPIRE SNAPSHOTS RETAIN_LAST n | " +
                "OLDER_THAN 'ts' | REMOVE ORPHAN FILES [OLDER_THAN 'ts']"))
          val st = snapshotStore(m.group(1), "ALTER")
          if (m.group(2) != null) {
            val n = m.group(2).toInt
            require(n >= 1, s"RETAIN_LAST $n: must retain at least 1 snapshot")
            st.expireSnapshots(n)
          } else st.expireSnapshotsOlderThan(
            java.sql.Timestamp.valueOf(m.group(3).trim).getTime)
      }
      None
    } else if (("(?is)^ALTER\\s+TABLE\\s+[\\w.]+\\s+" +
        "(CREATE|REPLACE|DROP|FAST\\s+FORWARD)\\s+(BRANCH|TAG)\\b").r
        .findFirstIn(stmt.trim).isDefined) {
      // Branch/tag DDL on a snapshot-bound table, in Apache Iceberg's Spark
      // SQL extension syntax (public: iceberg branching DDL):
      //   ALTER TABLE t CREATE BRANCH b [AS OF VERSION v]
      //   ALTER TABLE t CREATE TAG g   [AS OF VERSION v]
      //   ALTER TABLE t REPLACE BRANCH b AS OF VERSION v
      //   ALTER TABLE t DROP BRANCH b | DROP TAG g
      //   ALTER TABLE t FAST FORWARD BRANCH b   -- publish (the
      //     fast_forward procedure, as a statement; write-audit-publish)
      val p = ("(?is)ALTER\\s+TABLE\\s+([\\w.]+)\\s+" +
        "(CREATE|REPLACE|DROP|FAST\\s+FORWARD)\\s+(BRANCH|TAG)\\s+(\\w+)" +
        "(?:\\s+AS\\s+OF\\s+VERSION\\s+(\\d+))?").r
      val m = p.findFirstMatchIn(stmt).getOrElse(
        throw new IllegalArgumentException(
          "expected: ALTER TABLE t CREATE|REPLACE|DROP|FAST FORWARD " +
            "BRANCH|TAG name [AS OF VERSION v]"))
      val st = snapshotStore(m.group(1), "ALTER")
      val kind = m.group(3).toUpperCase
      val name = m.group(4)
      val at = Option(m.group(5)).map(_.toLong)
      m.group(2).toUpperCase.replaceAll("\\s+", " ") match {
        case "CREATE" if kind == "BRANCH" =>
          // Iceberg semantics: CREATE errors on an existing branch, REPLACE
          // errors on a missing one — a typo'd CREATE must never silently
          // re-point a branch holding staged-but-unpublished commits
          require(st.branchHead(name).isEmpty,
            s"branch $name already exists; use REPLACE BRANCH to re-point it")
          st.createBranch(name, at)
        case "REPLACE" if kind == "BRANCH" =>
          require(st.branchHead(name).isDefined,
            s"no branch $name to replace")
          st.createBranch(name, at)
        case "CREATE" => st.createTag(name, at)
        case "REPLACE" => throw new IllegalArgumentException(
          s"REPLACE TAG $name: tags never move; DROP it first")
        case "DROP"         => st.dropRef(name, Some(kind.toLowerCase))
        case "FAST FORWARD" =>
          require(kind == "BRANCH", "FAST FORWARD takes a BRANCH")
          st.fastForward(name)
      }
      None
    } else if ("(?is)^ALTER\\s+TABLE\\s+[\\w.]+\\s+WRITE\\s+(ORDERED\\s+BY|UNORDERED)\\b".r
        .findFirstIn(stmt.trim).isDefined && target.exists(isBound)) {
      // Write sort-order DDL on a SNAPSHOT-BOUND table (Apache Iceberg's
      // public Spark SQL extension syntax; unbound tables fall through to
      // Spark, where a real Iceberg catalog handles the same statement):
      //   ALTER TABLE t WRITE ORDERED BY c1, c2 [INTO n FILES]
      //   ALTER TABLE t WRITE ORDERED BY zorder(c1, c2) [INTO n FILES]
      //   ALTER TABLE t WRITE UNORDERED
      // The order persists like the partition spec: every later data
      // commit, compaction, and autonomous maintenance tick re-clusters on
      // it (INTO n FILES pins the range-partition count — deterministic
      // small-table layouts; omit it at scale and the shuffle-partition
      // count decides).
      val body = stmt.trim.stripSuffix(";")
      val pu = "(?is)^ALTER\\s+TABLE\\s+([\\w.]+)\\s+WRITE\\s+UNORDERED\\s*$".r
      val po = ("(?is)^ALTER\\s+TABLE\\s+([\\w.]+)\\s+WRITE\\s+ORDERED\\s+BY\\s+" +
        "(.+?)(?:\\s+INTO\\s+(\\d+)\\s+FILES)?\\s*$").r
      body match {
        case pu(t) => snapshotStore(t, "ALTER").clearSortOrder()
        case po(t, colsRaw, files) =>
          var cols = colsRaw.trim
          // strip ONE pair of outer parens — only when they actually match
          // ("(a), (b)" must not lose its first and last paren)
          if (cols.startsWith("(") && cols.endsWith(")") && {
            var depth = 0; var matched = true
            cols.zipWithIndex.foreach { case (c, i) =>
              if (c == '(') depth += 1
              else if (c == ')') { depth -= 1
                if (depth == 0 && i < cols.length - 1) matched = false }
            }
            matched && depth == 0
          }) cols = cols.substring(1, cols.length - 1)
          // each entry is a bare column (an explicit ASC is fine) or ONE
          // zorder(cols) — direction/null modifiers are rejected rather
          // than silently persisted as a never-matching "column" that
          // would disable clustering with no error anywhere
          val entries = topLevelSplit(cols).map { e =>
            val asc = "(?is)^(\\w+)(?:\\s+ASC)?$".r
            e match {
              case asc(c) => c
              case z if "(?is)^zorder\\(.*\\)$".r.findFirstIn(z).isDefined => z
              case other => throw new IllegalArgumentException(
                s"WRITE ORDERED BY entry '$other': only ascending plain " +
                  "columns or one zorder(c1, c2, ...) entry are supported " +
                  "(DESC / NULLS FIRST|LAST orderings are not)")
            }
          }
          require(entries.nonEmpty, "WRITE ORDERED BY needs at least one column")
          val n = Option(files).map(_.toLongOption.getOrElse(Long.MaxValue))
            .getOrElse(0L)
          require(n >= 0 && n <= 100000,
            s"INTO $n FILES: pinned file counts above 100000 would plan a " +
              "degenerate range shuffle; omit the clause to let the " +
              "shuffle-partition count decide")
          val st = snapshotStore(t, "ALTER")
          // a typo'd column would persist an order that silently never
          // applies — validate every named column against the live schema
          // (an EMPTY store has no schema yet; declaring ahead of the first
          // commit is legitimate and validates on write instead)
          if (st.currentVersion.isDefined) {
            val have = st.read().columns.map(_.toLowerCase).toSet
            val named = entries.flatMap(e =>
              "(?is)^zorder\\((.*)\\)$".r.findFirstMatchIn(e)
                .map(_.group(1).split(',').map(_.trim).toSeq).getOrElse(Seq(e)))
            named.find(c => !have(c.toLowerCase)).foreach(c =>
              throw new IllegalArgumentException(
                s"WRITE ORDERED BY $c: no such column in $t"))
          }
          st.setSortOrder(entries, n.toInt)
        case _ => throw new IllegalArgumentException(
          "expected: ALTER TABLE t WRITE ORDERED BY cols | zorder(cols) " +
            "[INTO n FILES] | WRITE UNORDERED")
      }
      None
    } else if (upper.startsWith("ALTER TABLE ") && target.exists(isBound)) {
      // Schema evolution on a bound table (Iceberg's ALTER TABLE surface):
      // ADD, DROP, RENAME and ALTER COLUMN … TYPE (widening only) are
      // METADATA-ONLY commits; older versions keep their schema. A dotted
      // column (`nest.b`) takes the nested evolve op. Other ALTER TABLE forms
      // take the generic path.
      lazy val st = snapshotStore(target.get, "ALTER")
      def onPath[A](path: Seq[String])(top: String => A, nested: (String, String) => A): A =
        if (path.length == 1) top(path.head) else nested(path.head, path.tail.mkString("."))
      parseAs[LogicalPlan](text, "ALTER TABLE") match {
        case AddColumns(_, cols) =>
          val c = cols.head
          storeRuns("ADD COLUMN", "more than one column" -> (cols.length > 1),
            "COMMENT" -> c.comment.isDefined, "FIRST/AFTER" -> c.position.isDefined,
            "DEFAULT" -> c.default.isDefined, "NOT NULL" -> !c.nullable)
          val ty = c.dataType.sql
          onPath(c.path.toSeq.flatMap(_.name) :+ c.colName)(
            st.addColumn(_, ty), st.addNestedColumn(_, _, ty))
        case DropColumns(_, cols, ifExists) =>
          storeRuns("DROP COLUMN", "more than one column" -> (cols.length > 1),
            "IF EXISTS" -> ifExists)
          onPath(cols.head.name)(st.dropColumn, st.dropNestedColumn)
        case RenameColumn(_, from, to) =>
          onPath(from.name)(st.renameColumn(_, to), st.renameNestedColumn(_, _, to))
        case AlterColumns(_, specs) =>
          val s = specs.head
          storeRuns("ALTER COLUMN", "more than one column" -> (specs.length > 1),
            "NULL/NOT NULL" -> s.newNullability.isDefined,
            "COMMENT" -> s.newComment.isDefined, "FIRST/AFTER" -> s.newPosition.isDefined,
            "DEFAULT" -> (s.newDefaultExpression.isDefined || s.dropDefault),
            "a change other than TYPE" -> s.newDataType.isEmpty)
          val ty = s.newDataType.get.sql
          onPath(s.column.name)(st.alterColumnType(_, ty), st.alterNestedColumnType(_, _, ty))
        case _ => return runGeneric(stmt, upper)
      }
      None
    } else runGeneric(stmt, upper)
  }

  /** Any other statement: Spark SQL after the time-travel, LIST_FILES and
    * metadata-table rewrites, with bound store names bound. */
  private def runGeneric(stmt: String, upper: String): Option[DataFrame] = {
    stmtViews.clear()
    // graft_* rewrite views are internal: a direct reference in user SQL
    // would read a snapshot bound under an earlier statement's (possibly
    // higher) privilege, bypassing the dataset check — deny it outright.
    asUser.foreach { u =>
      if ("(?i)\\bgraft_(?:tt|files|meta)_\\d+\\b".r.findFirstIn(stmt).isDefined)
        throw new Catalog.AccessDeniedException(
          s"user $u may not reference internal graft_* rewrite views directly")
    }
    val rewritten = rewriteMetadataTables(rewriteListFiles(rewriteTimeTravel(stmt)))
    val plan = bindSnapshotReads(spark.sessionState.sqlParser.parsePlan(rewritten))
    asUser.foreach(u => enforce(u, upper, rewritten, plan))
    // Dataset construction analyzes eagerly (temp views inline into the
    // plan), so the statement's rewrite views can be dropped immediately —
    // the returned DataFrame stays valid for later actions.
    val df = PlanBridge.ofRows(spark, plan)
    stmtViews.foreach(spark.catalog.dropTempView)
    stmtViews.clear()
    if (upper.startsWith("SELECT") || upper.startsWith("WITH")) {
      // Feed scripted SELECTs to the workload monitor when one is attached
      // (readme.md:381-389), like API-path queries. observe() optimizes the
      // plan at script-run time, roughly doubling driver planning on this
      // path — accepted so that a script's LAST statement benefits from its
      // earlier ones' shapes; run with advisor = None to opt out.
      advisor.foreach(_.observe(df))
      Some(df)
    } else None
  }

  /** RBAC enforcement for `asUser` mode (reference permissions.sql:1-11):
    * SELECTs need SELECT on every dataset the parsed plan reads, subqueries
    * included (folder grants cover their subtree; PROJECT covers
    * everything); writes need their DML privilege or the folder-level
    * WRITE. Views declared by this script are checked by their original
    * dotted path. */
  private def enforce(user: String, upper: String, sql: String, plan: LogicalPlan): Unit = {
    def target(pattern: String): Option[Seq[String]] =
      pattern.r.findFirstMatchIn(sql).map(m => datasetPath(m.group(1)))
    if (upper.startsWith("SELECT") || upper.startsWith("WITH")) {
      // Only THIS statement's rewrite views are exempt (their datasets were
      // checked at rewrite time; other graft_* names were denied before
      // it), and bound store names are no relations here: the binder
      // checked them.
      referencedRelations(plan)
        .map(ds => if (ds.length == 1) datasetPath(ds.head) else ds)
        .filterNot(ds => ds.length == 1 && stmtViews.contains(ds.head))
        .foreach(ds => requirePrivilege(user, "SELECT", Nil, ds))
    } else if (upper.startsWith("INSERT"))
      target("(?is)INSERT\\s+INTO\\s+([\\w.]+)")
        .foreach(requirePrivilege(user, "INSERT", Seq("WRITE"), _))
    else if (upper.startsWith("DROP TABLE"))
      target("(?is)DROP\\s+TABLE\\s+(?:IF\\s+EXISTS\\s+)?([\\w.]+)")
        .foreach(requirePrivilege(user, "DROP", Nil, _))
    else if (upper.startsWith("CREATE TABLE"))
      target("(?is)CREATE\\s+TABLE\\s+(?:IF\\s+NOT\\s+EXISTS\\s+)?([\\w.]+)")
        .foreach(requirePrivilege(user, "CREATE TABLE", Seq("WRITE"), _))
  }

  private def requirePrivilege(user: String, priv: String,
                               alternatives: Seq[String], ds: Seq[String]): Unit =
    if (!(Catalog.authorized(user, priv, ds) ||
        alternatives.exists(Catalog.authorized(user, _, ds))))
      throw new Catalog.AccessDeniedException(
        s"user $user lacks $priv on ${ds.mkString(".")}")

  /** A name as written in SQL → the dataset path grants refer to (flattened
    * script views map back to their dotted declaration). */
  private def datasetPath(name: String): Seq[String] =
    viewPathsByFlat.getOrElse(name, name.split("\\.").toSeq)

  /** Dataset names a statement reads, from the PARSED (unresolved) plan,
    * subqueries included — CTE-local names are excluded. */
  private def referencedRelations(plan: LogicalPlan): Seq[Seq[String]] = {
    val ctes = cteNames(plan)
    plan.collectWithSubqueries { case u: UnresolvedRelation => u.multipartIdentifier }
      .distinct.filterNot(ds => ds.length == 1 && ctes(ds.head.toLowerCase))
  }

  private def cteNames(plan: LogicalPlan): Set[String] = plan.collectWithSubqueries {
    case w: UnresolvedWith => w.cteRelations.map(_._1.toLowerCase)
  }.flatten.toSet

  /** `ALTER DATASET d CREATE [RAW|AGGREGATE] REFLECTION r USING …` — the
    * reference's acceleration DDL (readme.md:322-326). RAW materializes the
    * dataset (optionally a `DISPLAY (…)` column subset); AGGREGATE
    * materializes a groupBy over `DIMENSIONS (…)` with the declared
    * `MEASURES (…)` (per-measure fn list; SUM+COUNT when unspecified,
    * Dremio's default measure set). Registered + refreshed eagerly, and the
    * substitution rule is installed so later SELECTs over the dataset are
    * served from the materialization without the query changing. */
  private def createReflection(stmt: String): Unit = {
    import org.apache.spark.sql.functions._
    val ddl = ("(?is)ALTER\\s+DATASET\\s+([\\w.]+)\\s+CREATE\\s+" +
      "(?:(RAW|AGGREGATE|AGGREGATION)\\s+)?REFLECTION\\s+(\\w+)\\s+USING\\s+(.*)").r
    stmt.trim.stripSuffix(";") match {
      case ddl(ds, kindOrNull, rname, usingRaw) =>
        val using = usingRaw.trim
        val kind = Option(kindOrNull).map(_.toUpperCase).getOrElse(
          if (using.toUpperCase.startsWith("RAW")) "RAW" else "AGGREGATE")
        def section(name: String): Seq[String] =
          ("(?is)" + name + "\\s*\\(([^)]*)\\)").r.findFirstMatchIn(using)
            .map(_.group(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq)
            .getOrElse(Nil)
        val define: () => DataFrame = kind match {
          case "RAW" =>
            val display = section("DISPLAY")
            () => {
              val t = spark.table(ds)
              if (display.isEmpty) t else t.select(display.map(col): _*)
            }
          case _ =>
            val dims = section("DIMENSIONS")
            require(dims.nonEmpty,
              s"AGGREGATE REFLECTION $rname needs DIMENSIONS (…)")
            val measuresClause = "(?is)MEASURES\\s*\\(((?:[^()]|\\([^()]*\\))*)\\)".r
              .findFirstMatchIn(using).map(_.group(1)).getOrElse("")
            val measures = "(\\w+)\\s*(?:\\(([^)]*)\\))?".r
              .findAllMatchIn(measuresClause)
              .map(m => m.group(1) -> Option(m.group(2))
                .map(_.split(",").map(_.trim.toUpperCase).filter(_.nonEmpty).toSeq)
                .getOrElse(Seq("SUM", "COUNT")))
              .toSeq
            () => {
              val aggs = measures.flatMap { case (c, fns) => fns.map {
                case "SUM"   => sum(col(c)).as(s"sum_$c")
                case "COUNT" => count(col(c)).as(s"count_$c")
                case "MIN"   => min(col(c)).as(s"min_$c")
                case "MAX"   => max(col(c)).as(s"max_$c")
                case "AVG" | "MEAN" => avg(col(c)).as(s"avg_$c")
                case "APPROX_COUNT_DISTINCT" =>
                  approx_count_distinct(col(c)).as(s"acd_$c")
                case other =>
                  throw new IllegalArgumentException(s"measure function $other")
              }}
              spark.table(ds).groupBy(dims.map(col): _*).agg(aggs.head, aggs.tail: _*)
            }
        }
        reflections.register(rname, define)
        reflections.refresh(rname)
        hasReflections = true
        installSubstitution()
      case other =>
        throw new IllegalArgumentException(s"cannot parse reflection DDL: $other")
    }
  }

  private def installSubstitution(): Unit =
    graft.plans.ExtraOptimizations.mutate(spark) { existing =>
      val present = existing.exists {
        case graft.plans.MaterializationSubstitution(m) => m eq reflections
        case _ => false
      }
      if (present) existing
      else existing :+ graft.plans.MaterializationSubstitution(reflections)
    }

  /** `TABLE(LIST_FILES('@source/prefix'))` (ai_generate.sql:19-21,
    * logistics_AI.sql:349) → a temp view of one `file` struct per object —
    * `file['path']` / `file['size']` / `file['mtime']` as Dremio exposes.
    * `@name` roots resolve via `graft.source.<name>` session conf (point it
    * at any directory/bucket mount); unconfigured sources bind to an empty
    * staging dir so pipelines run with a no-files-yet source rather than
    * failing on a foreign bucket. Content bytes deliberately stay OUT of
    * the handle (metadata listing never reads payloads; a consumer fetches
    * by path). */
  private def rewriteListFiles(stmt: String): String = {
    val p = "(?is)TABLE\\s*\\(\\s*LIST_FILES\\s*\\(\\s*'([^']+)'\\s*\\)\\s*\\)".r
    p.replaceAllIn(stmt, m => {
      val ref = m.group(1)
      val (source, prefix) = ref.stripPrefix("@").split("/", 2) match {
        case Array(s, rest) => (s, rest)
        case Array(s) => (s, "")
      }
      val root = spark.conf.getOption(s"graft.source.$source").getOrElse {
        val dir = graft.TempDirs.newDir(s"graft_src_$source")
        spark.conf.set(s"graft.source.$source", dir)
        dir
      }
      val dir = new java.io.File(root, prefix)
      java.nio.file.Files.createDirectories(dir.toPath)
      val listing = graft.sources.Ingest.listFileMeta(spark, dir.getAbsolutePath)
        .select(org.apache.spark.sql.functions.struct(
          org.apache.spark.sql.functions.col("path"),
          org.apache.spark.sql.functions.col("length").as("size"),
          org.apache.spark.sql.functions.col("modificationTime").as("mtime"))
          .as("file"))
      java.util.regex.Matcher.quoteReplacement(statementView("files", listing))
    })
  }

  /** Resolve a row-level-DML target to its bound snapshot store (the same
    * `graft.snapshot.<name>` binding the time-travel clauses use), checking
    * the write privilege in `asUser` mode. Row-level DML targets
    * snapshot-bound tables only — catalog parquet tables keep the truncate
    * form (Spark's FileTable has no v2 row-delete capability). */
  private def snapshotStore(name: String, priv: String): graft.sources.SnapshotTable = {
    val root = spark.conf.getOption(s"graft.snapshot.$name").getOrElse(
      throw new IllegalArgumentException(
        s"$priv on $name: no snapshot store bound (set spark conf " +
          s"graft.snapshot.$name); row-level DML targets snapshot-bound tables"))
    asUser.foreach(u => requirePrivilege(u, priv, Seq("WRITE"), datasetPath(name)))
    new graft.sources.SnapshotTable(spark, root)
  }

  /** Split a WRITE ORDERED BY list on top-level commas (quote- and
    * paren-aware, with backslash-escaped quotes skipped). */
  private def topLevelSplit(s: String): Seq[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    val sb = new StringBuilder
    var depth = 0; var inS = false
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case c @ '\\' if inS && i + 1 < s.length =>
          sb += c; sb += s.charAt(i + 1); i += 1
        case c @ '\'' => inS = !inS; sb += c
        case c @ '(' if !inS => depth += 1; sb += c
        case c @ ')' if !inS => depth -= 1; sb += c
        case ',' if !inS && depth == 0 =>
          if (sb.toString.trim.nonEmpty) out += sb.toString.trim
          sb.clear()
        case c => sb += c
      }
      i += 1
    }
    if (sb.toString.trim.nonEmpty) out += sb.toString.trim
    out.toSeq
  }

  /** `t AT SNAPSHOT 'v'` / `t AT TIMESTAMP 'ts'` / `t AT BRANCH b` — Dremio's
    * time-travel clauses over Iceberg history (readme.md:366-370 "perform
    * time travel queries"). A table opts in by binding its versioned store
    * root via the session conf `graft.snapshot.<name>` (the same pattern as
    * `graft.source.<name>` for LIST_FILES roots); the clause pins the
    * requested snapshot and binds it as a temp view in place:
    *
    *  - `AT SNAPSHOT 'N'`   → version N exactly ([[SnapshotTable.read]])
    *  - `AT TIMESTAMP 'ts'` → latest version committed at or before ts
    *    (epoch millis, or a `yyyy-MM-dd HH:mm:ss[.f…]` literal)
    *  - `AT BRANCH b`       → the branch's head ([[SnapshotTable.readBranch]];
    *    `main` is the implicit trunk); an unknown branch errors rather than
    *    silently serving `main`'s data.
    *  - `AT TAG t`          → the tag's pinned version ([[SnapshotTable.readTag]]).
    *
    * In `asUser` mode the SELECT privilege is checked against the ORIGINAL
    * dataset name here (the rewritten temp view is skipped by `enforce`). */
  private def rewriteTimeTravel(stmt: String): String = {
    val p = ("(?is)\\b([\\w.]+)\\s+AT\\s+(SNAPSHOT|TIMESTAMP|BRANCH|TAG)" +
      "\\s+(?:'([^']*)'|(\\w+))").r
    // Match against a literal-masked copy so a string like
    // 'logged at timestamp ''5''' is never mistaken for a clause; masking is
    // length-preserving, so match offsets index straight into the original.
    val ms = p.findAllMatchIn(maskStringLiterals(stmt)).toList
    if (ms.isEmpty) return stmt
    val sb = new StringBuilder
    var last = 0
    ms.foreach { m =>
      sb.append(stmt.substring(last, m.start))
      val name = stmt.substring(m.start(1), m.end(1))
      val kind = stmt.substring(m.start(2), m.end(2)).toUpperCase
      val arg =
        if (m.start(3) >= 0) stmt.substring(m.start(3), m.end(3))
        else stmt.substring(m.start(4), m.end(4))
      val root = spark.conf.getOption(s"graft.snapshot.$name").getOrElse(
        throw new IllegalArgumentException(
          s"$name AT $kind: no snapshot store bound " +
            s"(set spark conf graft.snapshot.$name to the store root)"))
      asUser.foreach(u => requirePrivilege(u, "SELECT", Nil, datasetPath(name)))
      val st = new graft.sources.SnapshotTable(spark, root)
      val df = kind match {
        case "SNAPSHOT" => st.read(versionAsOf = Some(arg.trim.toLong))
        case "TIMESTAMP" =>
          val msEpoch =
            if (arg.trim.forall(_.isDigit)) arg.trim.toLong
            else java.sql.Timestamp.valueOf(arg.trim).getTime
          st.readAsOfTimestamp(msEpoch)
        case "TAG" => st.readTag(arg.trim)
        case _ =>
          // `main` is the implicit trunk; any other name must be a real
          // branch ref — an unknown branch errors rather than silently
          // serving main's data.
          if (arg.trim.equalsIgnoreCase("main")) st.read()
          else if (st.branchHead(arg.trim).isDefined) st.readBranch(arg.trim)
          else throw new IllegalArgumentException(
            s"$name AT BRANCH ${arg.trim}: no such branch")
      }
      sb.append(statementView("tt", df))
      last = m.end
    }
    sb.append(stmt.substring(last))
    sb.toString
  }

  /** The one binder of snapshot-bound names: every relation a bound store
    * answers (`graft.snapshot.<name>`) and no real table, view or CTE
    * serves, in subqueries too, becomes the store's CURRENT read aliased to
    * the name. A plain `SELECT … FROM t WHERE …` then reads the store and
    * PRUNES: the read scans [[graft.sources.ManifestFileIndex]], so the
    * statement's own WHERE skips data files (clinicdata.sql:38-39). In
    * `asUser` mode each bound name needs SELECT on its dataset. */
  private def bindSnapshotReads(plan: LogicalPlan): LogicalPlan = {
    val ctes = cteNames(plan)
    val reads = scala.collection.mutable.Map.empty[String, Option[LogicalPlan]]
    def read(name: String): Option[LogicalPlan] = reads.getOrElseUpdate(name,
      spark.conf.getOption(s"graft.snapshot.$name")
        .filter(_ => scala.util.Try(spark.table(name)).isFailure)
        .map { root =>
          asUser.foreach(u => requirePrivilege(u, "SELECT", Nil, datasetPath(name)))
          new graft.sources.SnapshotTable(spark, root).read().queryExecution.analyzed
        })
    plan.transformUpWithSubqueries {
      case r: UnresolvedRelation if !(r.multipartIdentifier.length == 1 &&
          ctes(r.multipartIdentifier.head.toLowerCase)) =>
        read(r.multipartIdentifier.mkString("."))
          .fold[LogicalPlan](r)(SubqueryAlias(r.multipartIdentifier, _))
    }
  }

  private def isBound(name: String): Boolean =
    spark.conf.getOption(s"graft.snapshot.$name").isDefined

  /** The one rewrite a store statement gets before Spark parses it: a
    * `DELETE FROM`/`UPDATE`/`INSERT INTO t AT BRANCH b` target loses the
    * clause, and `SET DATA TYPE` becomes `TYPE` in ALTER TABLE. Returns
    * (text to parse, target name, branch). */
  private def normalise(stmt: String): (String, Option[String], Option[String]) =
    StoreTarget.findFirstMatchIn(stmt) match {
      case None => (stmt, None, None)
      case Some(m) if m.group(1).toUpperCase.startsWith("ALTER") =>
        (SetDataType.replaceAllIn(stmt, "TYPE"), Some(m.group(2)), None)
      case Some(m) =>
        val branch = Option(m.group(3))
        (branch.fold(stmt)(_ => stmt.substring(0, m.end(2)) + stmt.substring(m.end)),
          Some(m.group(2)), branch)
    }

  private val StoreTarget = ("(?is)^\\s*(DELETE\\s+FROM|UPDATE|INSERT\\s+INTO|ALTER\\s+TABLE)" +
    "\\s+([\\w.]+)(?:\\s+AT\\s+BRANCH\\s+(\\w+))?").r
  private val SetDataType = "(?i)\\bSET\\s+DATA\\s+TYPE\\b".r

  /** Spark's parse of a store statement. A syntax error, or a statement
    * that parses to another node, is refused naming the statement form. */
  private def parseAs[T <: LogicalPlan: ClassTag](text: String, form: String): T =
    try spark.sessionState.sqlParser.parsePlan(text) match {
      case p: T => p
      case p => throw new IllegalArgumentException(s"unsupported $form form: ${p.nodeName}")
    } catch { case e: ParseException =>
      throw new IllegalArgumentException(s"unsupported $form form: ${e.getMessage}", e)
    }

  /** The dotted table name a parsed DML/DDL target names, and its alias. */
  private def targetOf(plan: LogicalPlan): (String, Option[String]) = plan match {
    case SubqueryAlias(a, child) => (targetOf(child)._1, Some(a.name))
    case r: UnresolvedRelation => (r.multipartIdentifier.mkString("."), None)
    case t: UnresolvedTable => (t.multipartIdentifier.mkString("."), None)
    case other => throw new IllegalArgumentException(
      s"unsupported DML target ${other.nodeName}: name a snapshot-bound table")
  }

  /** A target's alias, then its (dotted) name, lower-cased. */
  private def targetNames(name: String, alias: Option[String]): Seq[String] =
    (alias.toSeq :+ name).map(_.toLowerCase)

  /** `e` as a Column, with a column qualified by one of the `target` names
    * made plain and one qualified by a `source` name renamed
    * `__src_<name>` (the SnapshotTable.mergeInto convention). */
  private def column(e: Expression, target: Seq[String],
                     source: Seq[String] = Nil): Column =
    ColumnBridge.column(unqualify(e, target, source))

  private def unqualify(e: Expression, target: Seq[String],
                        source: Seq[String] = Nil): Expression =
    e.transformUp { case a: UnresolvedAttribute =>
      def rest(names: Seq[String]): Option[Seq[String]] = names.map(_.split('.').toSeq)
        .find(q => a.nameParts.length > q.length &&
          a.nameParts.take(q.length).map(_.toLowerCase) == q)
        .map(q => a.nameParts.drop(q.length))
      rest(source).map(p => UnresolvedAttribute(s"__src_${p.head}" +: p.tail))
        .orElse(rest(target).map(UnresolvedAttribute(_)))
        .getOrElse(a)
    }

  /** The column an UPDATE or MERGE assignment writes: a plain or
    * target-qualified top-level name. */
  private def assigned(key: Expression, target: Seq[String], form: String): String =
    unqualify(key, target) match {
      case UnresolvedAttribute(Seq(c)) => c
      case other => throw new IllegalArgumentException(
        s"$form assigns ${other.sql}: only a top-level column of the target can be assigned")
    }

  /** The merge key of a MERGE's ON clause: exactly ONE equality of the same
    * column name on both sides, qualified by the target's and the source's
    * names (either order). */
  private def mergeKey(on: Expression, target: Seq[String], source: Seq[String]): String =
    on match {
      case EqualTo(a: UnresolvedAttribute, b: UnresolvedAttribute)
          if a.nameParts.length > 1 && b.nameParts.length > 1 &&
            a.nameParts.last.equalsIgnoreCase(b.nameParts.last) =>
        def qualifier(x: UnresolvedAttribute) = x.nameParts.init.mkString(".").toLowerCase
        val (qa, qb) = (qualifier(a), qualifier(b))
        require((target.contains(qa) && source.contains(qb)) ||
          (target.contains(qb) && source.contains(qa)),
          s"MERGE ON qualifiers must be the target and source aliases " +
            s"(${target.head}, ${source.headOption.getOrElse("?")}): ${on.sql}")
        (if (target.contains(qa)) a else b).nameParts.last
      case _ => throw new IllegalArgumentException(
        s"MERGE ON clause must be t.<key> = s.<key>: ${on.sql}")
    }

  /** A bound table's declared `<kind>_mode` (cow when unset). */
  private def mode(name: String, kind: String): String =
    spark.conf.getOption(s"graft.snapshot.$name.${kind}_mode").getOrElse("cow")

  /** A merge-on-read store's declared equality-delete key; a comma-separated
    * key is COMPOSITE (Iceberg equality deletes span identifier fields). */
  private def keyOf(name: String, op: String): Seq[String] =
    spark.conf.getOption(s"graft.snapshot.$name.key").getOrElse(
      throw new IllegalArgumentException(s"$op (merge-on-read) on $name: " +
        s"set graft.snapshot.$name.key to the equality-delete key"))
      .split(",").map(_.trim).filter(_.nonEmpty).toSeq

  /** Refuses the Spark column-DDL clauses an evolve commit cannot record. */
  private def storeRuns(ddl: String, clauses: (String, Boolean)*): Unit = {
    val unsupported = clauses.collect { case (c, true) => c }
    require(unsupported.isEmpty, s"ALTER TABLE … $ddl on a snapshot-bound " +
      s"table: ${unsupported.mkString(", ")} unsupported — the store records " +
      "one column's name and type per statement")
  }

  /** Length-preserving mask of single-quoted literal CONTENTS (quote chars
    * stay, so statement structure is intact); `''` escapes toggle twice and
    * come out masked. Keeps position-based rewrites from firing on words
    * like AT/TIMESTAMP inside string data. */
  private def maskStringLiterals(s: String): String = {
    val sb = new StringBuilder(s)
    var inS = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (inS && c == '\\' && i + 1 < s.length) {
        // Spark's default literals support backslash escapes ('it\'s'): the
        // escaped char must not toggle quote state or survive the mask
        sb.setCharAt(i, '_'); sb.setCharAt(i + 1, '_'); i += 1
      } else if (c == '\'') inS = !inS
      else if (inS) sb.setCharAt(i, '_')
      i += 1
    }
    sb.toString
  }

  /** Bind `TABLE(table_snapshot('t'))` / `TABLE(table_history('t'))`
    * metadata scans (readme.md:357-369) as temp views in place. Also binds
    * `TABLE(table_changes('t', from, to [, 'key']))` — the CDC changelog
    * between two snapshots of a snapshot-bound table (the key defaults to
    * the table's declared `graft.snapshot.<t>.key`; 'k1,k2' keys on the
    * composite tuple; NO key anywhere → the keyless multiset changelog). */
  private def rewriteMetadataTables(stmt: String): String = {
    // from/to accept a VERSION NUMBER or a quoted REF NAME ('main', a
    // branch, a tag) — the "what would publishing this branch change?"
    // audit spelling: table_changes('t', 'main', 'staging') diffs the
    // staged branch against main BEFORE publish, pure resolution sugar
    // over the same changelog machinery.
    val pc = ("(?is)TABLE\\s*\\(\\s*table_changes\\s*\\(\\s*'([^']+)'\\s*," +
      "\\s*(?:(\\d+)|'([^']+)')\\s*,\\s*(?:(\\d+)|'([^']+)')\\s*" +
      "(?:,\\s*'([^']+)'\\s*)?\\)\\s*\\)").r
    val withChanges = pc.replaceAllIn(stmt, m => {
      val name = m.group(1)
      val root = spark.conf.getOption(s"graft.snapshot.$name").getOrElse(
        throw new IllegalArgumentException(s"table_changes('$name', …): no " +
          s"snapshot store bound (set spark conf graft.snapshot.$name)"))
      // the key may be COMPOSITE ('tenant,id') — changes() keys on the
      // tuple — or ABSENT entirely: with no key argument and no bound
      // default, the diff is the KEYLESS multiset changelog (insert/delete
      // with duplicate copies honored, no update pairing — the form for
      // tables without a unique key)
      val keyOpt = Option(m.group(6))
        .orElse(spark.conf.getOption(s"graft.snapshot.$name.key"))
      asUser.foreach(u => requirePrivilege(u, "SELECT", Nil, datasetPath(name)))
      val st = new graft.sources.SnapshotTable(spark, root)
      def refArg(num: Int, ref: Int): Long =
        if (m.group(num) != null) m.group(num).toLong
        else st.refVersion(m.group(ref).trim).getOrElse(
          throw new IllegalArgumentException(
            s"table_changes('$name', …): no ref '${m.group(ref).trim}'"))
      val df = keyOpt match {
        case Some(k) =>
          val keys = k.split(',').map(_.trim).filter(_.nonEmpty).toSeq
          // a key was GIVEN but degenerate (',' / whitespace) — that is a
          // misconfiguration to surface with context, not a silent fall
          // back to the keyless form the caller didn't ask for
          require(keys.nonEmpty,
            s"table_changes('$name', …): key '$k' names no columns — pass " +
              "real column names, or omit the key (and unset " +
              s"graft.snapshot.$name.key) for the keyless changelog")
          st.changes(refArg(2, 3), refArg(4, 5), keys)
        case None => st.changes(refArg(2, 3), refArg(4, 5))
      }
      java.util.regex.Matcher.quoteReplacement(statementView("meta", df))
    })
    val p = ("(?is)TABLE\\s*\\(\\s*(table_snapshot|table_history|table_files" +
      "|table_refs|table_partitions)\\s*\\(\\s*'([^']+)'\\s*\\)\\s*\\)").r
    p.replaceAllIn(withChanges, m => {
      // metadata still describes the dataset (partition keys, row counts,
      // branch names) — reading it requires the same SELECT the data needs
      asUser.foreach(u =>
        requirePrivilege(u, "SELECT", Nil, datasetPath(m.group(2))))
      val df = m.group(1).toLowerCase match {
        case "table_snapshot" =>
          graft.sources.MetadataFunctions.tableSnapshot(spark, m.group(2))
        case "table_files" =>
          graft.sources.MetadataFunctions.tableFiles(spark, m.group(2))
        case "table_refs" =>
          graft.sources.MetadataFunctions.tableRefs(spark, m.group(2))
        case "table_partitions" =>
          graft.sources.MetadataFunctions.tablePartitions(spark, m.group(2))
        case _ =>
          graft.sources.MetadataFunctions.tableHistory(spark, m.group(2))
      }
      java.util.regex.Matcher.quoteReplacement(statementView("meta", df))
    })
  }

  /** Rewrite declared dotted VIEW names (`a.b.v` → `a_b_v`); table paths
    * pass through untouched — they resolve in the nested catalog. */
  private def rewriteViewPaths(stmt: String): String =
    viewRewrites.toSeq.sortBy(-_._1.length).foldLeft(stmt) { case (s, (dotted, flat)) =>
      s.replaceAll("(?i)\\b" + java.util.regex.Pattern.quote(dotted) + "\\b", flat)
    }
}
