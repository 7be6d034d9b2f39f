package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}

/** DDL/catalog surface (SURVEY.md §2.1): the reference's folder/namespace,
  * table, CTAS and view operators re-expressed against Spark's built-in
  * session catalog + parquet tables. (The reference resolves these through an
  * Iceberg REST catalog — spark.py:26-28; Spark's catalog API is the same
  * shape, so an Iceberg catalog drops in via config where its runtime jars
  * are available.)
  */
object Catalog {

  /** D1/D2 — CREATE FOLDER / CREATE NAMESPACE IF NOT EXISTS (idempotent).
    * Nested paths collapse to dotted database names on the session catalog. */
  def createNamespace(spark: SparkSession, parts: Seq[String]): Unit =
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ${parts.mkString("_")}")

  /** D3/D4/D5 — declared-schema table, optionally partitioned. Partition
    * transforms: identity columns directly; day-grain via a generated
    * `<col>_day` date column (hidden-partitioning stand-in: readers filter
    * the base column, writers derive the partition value). */
  def createTable(spark: SparkSession, name: String, ddl: String,
                  partitionBy: Seq[String] = Nil, location: Option[String] = None): Unit = {
    val partClause = if (partitionBy.nonEmpty) s" PARTITIONED BY (${partitionBy.mkString(", ")})" else ""
    val locClause = location.map(l => s" LOCATION '$l'").getOrElse("")
    spark.sql(s"CREATE TABLE IF NOT EXISTS $name ($ddl) USING parquet$partClause$locClause")
  }

  /** D6 — CTAS with optional PARTITION BY and DISTRIBUTE BY semantics:
    * DISTRIBUTE BY (retail.sql:134) = repartition on the clustering key
    * before write, co-locating rows for downstream joins. */
  def ctas(spark: SparkSession, name: String, df: DataFrame,
           partitionBy: Seq[String] = Nil, distributeBy: Seq[Column] = Nil): Unit = {
    spark.sql(s"DROP TABLE IF EXISTS $name") // D8 idempotent-rebuild pattern
    val distributed = if (distributeBy.nonEmpty) df.repartition(distributeBy: _*) else df
    val writer = distributed.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) writer.partitionBy(partitionBy: _*) else writer)
      .saveAsTable(name)
  }

  /** D4 — CTAS with a HIDDEN day-grain partition on `tsCol` (the reference's
    * `PARTITION BY (DAY(admit_ts))`, clinicdata.sql:41-51): the writer
    * derives a `<tsCol>_day` DATE partition column; readers keep filtering
    * the base timestamp — plans/HiddenPartitionPruning (installed here) maps
    * base-column bounds onto the partition column so the scan prunes. */
  def ctasDayPartitioned(spark: SparkSession, name: String, df: DataFrame,
                         tsCol: String, distributeBy: Seq[Column] = Nil): Unit = {
    graft.plans.HiddenPartitionPruning.install(spark)
    val withDay = df.withColumn(s"${tsCol}_day",
      org.apache.spark.sql.functions.to_date(org.apache.spark.sql.functions.col(tsCol)))
    ctas(spark, name, withDay, partitionBy = Seq(s"${tsCol}_day"), distributeBy = distributeBy)
  }

  /** D9 — CREATE OR REPLACE VIEW (the semantic layer; ~40 occurrences in the
    * reference). Temp views for session scope, global for cross-session.
    * SQL-defined views record their text, so [[IcebergViews]] can export
    * the definitions as public Iceberg view metadata (the semantic-layer
    * interchange direction). A DataFrame-defined view records a DERIVED
    * canonical SQL when its analyzed plan is inside [[ViewSql]]'s
    * verified grammar (r20) — outside it, the recording is dropped and
    * export refuses loudly with the remedy. */
  def createOrReplaceView(spark: SparkSession, name: String, df: DataFrame): Unit = {
    df.createOrReplaceTempView(name)
    // Keys are lowercased: Spark temp-view names are case-insensitive,
    // so a replace under a different case must hit the same entry.
    ViewSql.derive(spark, df) match {
      case Some(sql) =>
        synchronized { viewSqlOf(spark)(name.toLowerCase) = Seq("spark" -> sql) }
      case None =>
        // underivable: invalidate any recorded SQL — exporting a stale
        // definition would diverge from what the catalog serves
        synchronized { viewSqlOf(spark).remove(name.toLowerCase): Unit }
    }
  }

  def createOrReplaceView(spark: SparkSession, name: String, sql: String): Unit =
    createOrReplaceView(spark, name, sql, Nil)

  /** SQL-defined view with EXTRA dialect representations (the Iceberg view
    * spec's multi-representation list): `extra` carries (dialect, sql)
    * pairs recorded alongside the canonical spark-dialect text — e.g. the
    * ORIGINAL Dremio statement a script view was translated from. */
  def createOrReplaceView(spark: SparkSession, name: String, sql: String,
      extra: Seq[(String, String)]): Unit = {
    spark.sql(s"CREATE OR REPLACE TEMP VIEW $name AS $sql")
    synchronized {
      viewSqlOf(spark)(name.toLowerCase) = ("spark" -> sql) +: extra
    }
  }

  /** Record representations for a view created elsewhere (the script
    * runner's CREATE VIEW path creates the temp view itself). */
  private[graft] def recordViewRepresentations(spark: SparkSession,
      name: String, reps: Seq[(String, String)]): Unit =
    synchronized { viewSqlOf(spark)(name.toLowerCase) = reps }

  // keyed by SESSION, then lowercased view name: temp views are
  // per-SparkSession, so two sessions defining different SQL under the same
  // name must not cross-contaminate exportCatalogViews. Weak keys: a closed
  // session's recordings go with it. NOTE: Catalog.createOrReplaceView is
  // the only supported mutation path for exportable views — a view replaced
  // via raw spark.sql leaves its recorded text stale (ReviewRegressionSpec
  // pins the invalidation semantics; the raw-SQL path has no hook).
  private val viewSqlBySession =
    new java.util.WeakHashMap[SparkSession,
      scala.collection.mutable.LinkedHashMap[String, Seq[(String, String)]]]()
  private def viewSqlOf(spark: SparkSession) = {
    val cur = viewSqlBySession.get(spark)
    if (cur != null) cur
    else {
      val m = scala.collection.mutable
        .LinkedHashMap.empty[String, Seq[(String, String)]]
      viewSqlBySession.put(spark, m)
      m
    }
  }
  /** lowercased name → spark-dialect SQL of every view with a recorded (or
    * derived) definition in THIS session (Spark temp-view names are
    * case-insensitive). */
  def recordedViewSql(spark: SparkSession): Map[String, String] =
    synchronized(viewSqlOf(spark).view.mapValues(reps =>
      reps.collectFirst { case ("spark", s) => s }.get).toMap)

  /** lowercased name → FULL representation list (dialect, sql), spark
    * first — the Iceberg view spec's multi-representation surface. */
  def recordedViewRepresentations(
      spark: SparkSession): Map[String, Seq[(String, String)]] =
    synchronized(viewSqlOf(spark).toMap)

  /** D8 — DROP TABLE IF EXISTS. */
  def dropTable(spark: SparkSession, name: String): Unit =
    spark.sql(s"DROP TABLE IF EXISTS $name")

  /** M1 — INSERT INTO … VALUES via typed rows. */
  def insertRows(spark: SparkSession, table: String, df: DataFrame): Unit =
    df.write.mode(SaveMode.Append).insertInto(table)

  /** M2 — unqualified DELETE FROM t (the reference's repeatable-run truncate,
    * logistics_AI.sql:60). INSERT OVERWRITE of the empty set works on both
    * managed and external parquet tables (TRUNCATE rejects external ones). */
  def truncate(spark: SparkSession, table: String): Unit = {
    // An empty frame of the same schema, built without reading the table's
    // files (overwrite-while-reading is rejected), overwrite-inserted.
    // partitionOverwriteMode is pinned to static for the call: under dynamic
    // mode an empty input overwrites no partitions at all, silently keeping
    // every row.
    val key = "spark.sql.sources.partitionOverwriteMode"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "static")
    try {
      val empty = spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        spark.table(table).schema)
      empty.write.mode(SaveMode.Overwrite).insertInto(table)
    } finally {
      prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }
  }

  /** D11 — GRANT … ON … TO USER: Spark's session catalog has no ACL store,
    * so grants are recorded as governance metadata; pipelines carrying
    * permissions.sql statements run without modification. Statements are ALSO
    * parsed into structured [[Grant]]s, and [[SqlScriptRunner]]'s opt-in
    * `asUser` mode enforces them (reference: permissions.sql:1-11 — project,
    * folder, and dotted-folder scopes). */
  private val grants = scala.collection.mutable.ArrayBuffer.empty[String]
  private val parsedGrants = scala.collection.mutable.ArrayBuffer.empty[Grant]
  def grant(statement: String): Unit = synchronized {
    grants += statement
    parseGrant(statement).foreach(parsedGrants += _)
  }
  def recordedGrants: Seq[String] = synchronized(grants.toSeq)

  /** One parsed GRANT: privileges on a scope (PROJECT = everything; FOLDER =
    * the namespace subtree; TABLE/VIEW/PDS/VDS = one dataset) to a grantee. */
  final case class Grant(privileges: Set[String], kind: String,
                         path: Seq[String], grantee: String) {
    /** Does this grant cover `privilege` on dataset `dataset` (full dotted
      * path, case-insensitive)? FOLDER covers its whole subtree — the
      * reference grants `ON FOLDER dremio.recipes` to cover the tables in
      * the folder (permissions.sql:8-11). */
    def covers(privilege: String, dataset: Seq[String]): Boolean =
      privileges.contains(privilege.toUpperCase) && (kind match {
        case "PROJECT" => true
        case "FOLDER" =>
          dataset.length >= path.length &&
            dataset.take(path.length).map(_.toLowerCase) == path.map(_.toLowerCase)
        case _ => dataset.map(_.toLowerCase) == path.map(_.toLowerCase)
      })
  }

  final class AccessDeniedException(msg: String) extends RuntimeException(msg)

  /** `GRANT p1, p2 ON [PROJECT|FOLDER f|TABLE t|…] TO USER u` (quoted or
    * bare identifiers, any case). Unparseable statements record raw-only. */
  def parseGrant(statement: String): Option[Grant] = {
    val p = ("(?is)GRANT\\s+(.+?)\\s+ON\\s+" +
      "(PROJECT|FOLDER|TABLE|VIEW|PDS|VDS|SYSTEM)\\s*" +
      "(\"[^\"]+\"|[\\w.]+)?\\s+TO\\s+(?:USER|ROLE)\\s+(\"[^\"]+\"|\\S+)").r
    p.findFirstMatchIn(statement).map { m =>
      def unquote(s: String) = s.stripPrefix("\"").stripSuffix("\"").stripSuffix(";")
      val privs = m.group(1).split(",").map(_.trim.toUpperCase).filter(_.nonEmpty).toSet
      val kind = m.group(2).toUpperCase
      val path = Option(m.group(3)).map(unquote).filter(_.nonEmpty)
        .map(_.split("\\.").toSeq).getOrElse(Nil)
      Grant(privs, if (kind == "SYSTEM") "PROJECT" else kind, path, unquote(m.group(4)))
    }
  }

  /** True when any recorded grant gives `user` the `privilege` on the
    * dataset path. */
  def authorized(user: String, privilege: String, dataset: Seq[String]): Boolean =
    synchronized {
      parsedGrants.exists(g =>
        g.grantee.equalsIgnoreCase(user) && g.covers(privilege, dataset))
    }

  /** X2 — `OPTIMIZE TABLE t` (Dremio's manual table-optimization surface;
    * readme.md:393-401 describes the managed version: "file compaction
    * (bin-packing small files into larger ones)"). Rewrites the table's
    * files into `targetFiles` bin-packed outputs: stage the current content
    * (never overwrite files while a scan could still read them), then
    * rebuild and append the coalesced copy. At cluster scale the same
    * operation is Iceberg's `rewrite_data_files` per partition;
    * [[SnapshotTable.compact]] provides the versioned-commit variant.
    * Returns (files before, files after). */
  def compactTable(spark: SparkSession, table: String, targetFiles: Int = 1): (Int, Int) = {
    val df = spark.table(table)
    val before = df.inputFiles.length
    val schema = df.schema
    val staged = graft.TempDirs.newDir("graft_compact")
    df.write.mode(SaveMode.Overwrite).parquet(staged)
    spark.sql(s"DROP TABLE $table")
    spark.sql(s"CREATE TABLE $table (${schema.toDDL}) USING parquet")
    spark.read.parquet(staged)
      .select(schema.fieldNames.map(org.apache.spark.sql.functions.col).toSeq: _*)
      .coalesce(math.max(1, targetFiles))
      .writeTo(table).append()
    (before, spark.table(table).inputFiles.length)
  }

  /** Declared Dremio `PARTITION BY (...)` clauses from script CREATE TABLEs:
    * recorded intent (table → transform list). The v2 parquet write path
    * doesn't lay out transform partitions, so SqlScriptRunner strips the
    * clause and the engine's own write path (ctasDayPartitioned +
    * HiddenPartitionPruning) supplies day-grain pruning. */
  private val partitionIntents = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
  def recordPartitionIntent(table: String, clause: String): Unit =
    synchronized { partitionIntents += (table -> clause) }
  def recordedPartitionIntents: Seq[(String, String)] = synchronized(partitionIntents.toSeq)
}
