package graft.pipeline

import java.nio.file.Files

import graft.SparkSpec

/** Drives a reference-shaped script end-to-end: folder DDL, declared table,
  * literal INSERT with timestamp literals and NULLs, window-dedup silver
  * view, gold KPI view with FILTER, GRANT no-op, final SELECT. */
class SqlScriptRunnerSpec extends SparkSpec {

  test("reference-style script executes in order with dialect translation") {
    val wh = Files.createTempDirectory("script_wh").toFile.getAbsolutePath
    val script = s"""
      -- medallion bootstrap (clinicdata.sql shape)
      CREATE FOLDER IF NOT EXISTS clinic.raw;

      DROP TABLE IF EXISTS clinic.raw.encounters;

      CREATE TABLE IF NOT EXISTS clinic.raw.encounters (
        encounter_id BIGINT, patient_id STRING, department STRING,
        admit_ts TIMESTAMP
      ) USING parquet LOCATION '$wh/encounters';

      INSERT INTO clinic.raw.encounters VALUES
        (1001, 'P001', 'CARDIO', TIMESTAMP '2025-02-10 09:00:00'),
        (1001, 'P001', 'CARDIO', TIMESTAMP '2025-02-10 09:00:00'), -- duplicate
        (1002, 'P002', NULL, TIMESTAMP '2025-02-11 10:00:00'),
        (1003, 'P003', 'ENDO', TIMESTAMP '2025-02-12 11:00:00');

      GRANT SELECT ON FOLDER clinic TO USER analyst;

      CREATE OR REPLACE TEMP VIEW silver_encounters AS
        SELECT encounter_id, patient_id,
               COALESCE(department, 'UNASSIGNED') AS department, admit_ts
        FROM (SELECT *, row_number() OVER (PARTITION BY encounter_id
                       ORDER BY admit_ts DESC) AS rn
              FROM clinic.raw.encounters) t
        WHERE rn = 1;

      SELECT department, count(*) AS n,
             count(*) FILTER (WHERE patient_id LIKE 'P00%') AS n_p00
      FROM silver_encounters GROUP BY department ORDER BY department
    """
    val runner = new SqlScriptRunner(spark)
    val results = runner.run(script)
    // one row-producing statement: the final SELECT
    assert(results.size === 1)
    val rows = results.values.head.collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ===
      Seq(("CARDIO", 1L), ("ENDO", 1L), ("UNASSIGNED", 1L)))
    // GRANT recorded, not executed
    assert(graft.sources.Catalog.recordedGrants.exists(_.contains("clinic")))
    // the namespace hierarchy is REAL: the dotted path resolves natively,
    // no a_b_c flattening (reference fidelity, semantics.sql:8-23)
    assert(spark.sql("SELECT count(*) FROM clinic.raw.encounters").head.getLong(0) === 4)
    assert(spark.sql("SHOW NAMESPACES IN clinic").collect().map(_.getString(0))
      .contains("raw"))
    assert(spark.sql("SHOW TABLES IN clinic.raw").collect().map(_.getString(1))
      .contains("encounters"))
    spark.sql("DROP TABLE IF EXISTS clinic.raw.encounters")
  }

  test("DELETE FROM on a nested-catalog table truncates for repeatable runs") {
    val runner = new SqlScriptRunner(spark)
    runner.run("""
      CREATE FOLDER IF NOT EXISTS logi.raw;
      DROP TABLE IF EXISTS logi.raw.deliveries;
      CREATE TABLE logi.raw.deliveries (id BIGINT, city STRING) USING parquet;
      INSERT INTO logi.raw.deliveries VALUES (1, 'Oakland'), (2, 'Fresno');
      DELETE FROM logi.raw.deliveries;
      INSERT INTO logi.raw.deliveries VALUES (3, 'Denver');
    """)
    val rows = spark.sql("SELECT id, city FROM logi.raw.deliveries").collect()
    assert(rows.length === 1 && rows(0).getLong(0) === 3L)
    spark.sql("DROP TABLE IF EXISTS logi.raw.deliveries")
  }

  test("Dremio PARTITION BY clause on CREATE TABLE is stripped and recorded") {
    val runner = new SqlScriptRunner(spark)
    runner.run("""
      CREATE FOLDER IF NOT EXISTS clin2.raw;
      DROP TABLE IF EXISTS clin2.raw.encounters;
      CREATE TABLE clin2.raw.encounters (
        encounter_id BIGINT, admit_ts TIMESTAMP
      ) PARTITION BY (DAY(admit_ts));
      INSERT INTO clin2.raw.encounters VALUES (1, TIMESTAMP '2025-02-10 09:00:00');
    """)
    assert(spark.sql("SELECT count(*) FROM clin2.raw.encounters").head.getLong(0) === 1)
    assert(graft.sources.Catalog.recordedPartitionIntents
      .exists { case (t, c) => t == "clin2.raw.encounters" && c.contains("DAY(admit_ts)") })
    spark.sql("DROP TABLE IF EXISTS clin2.raw.encounters")
  }

  test("ALTER DATASET … CREATE REFLECTION USING RAW accelerates later SELECTs") {
    val saved = spark.experimental.extraOptimizations
    try {
      val runner = new SqlScriptRunner(spark)
      val results = runner.run("""
        CREATE FOLDER IF NOT EXISTS refl.demo;
        DROP TABLE IF EXISTS refl.demo.orders;
        CREATE TABLE refl.demo.orders (o_id BIGINT, cust STRING, amount DOUBLE)
          USING parquet;
        INSERT INTO refl.demo.orders VALUES
          (1, 'alice', 10.0), (2, 'alice', 5.0), (3, 'bob', 7.0);

        -- readme.md:322-326 shape: raw reflection on a declared view
        CREATE OR REPLACE VIEW refl.demo.customer_spend AS
          SELECT cust, SUM(amount) AS total_spend
          FROM refl.demo.orders GROUP BY cust;

        ALTER DATASET refl.demo.customer_spend
        CREATE REFLECTION customer_spend_reflection
        USING RAW;

        SELECT cust, total_spend FROM refl.demo.customer_spend ORDER BY cust
      """)
      val df = results.values.head
      assert(df.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ===
        Seq(("alice", 15.0), ("bob", 7.0)))
      // transparent substitution: the SELECT is served from the reflection's
      // parquet snapshot, not by re-running the aggregate over the base table
      // the plan string may truncate long scan locations mid-name, so match
      // the reflections-warehouse marker rather than the full reflection name
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("graft_reflections"),
        s"expected reflection scan in:\n$physical")
      assert(!physical.contains("HashAggregate"),
        s"aggregate should be served from the reflection:\n$physical")
      spark.sql("DROP TABLE IF EXISTS refl.demo.orders")
    } finally spark.experimental.extraOptimizations = saved
  }

  test("AGGREGATE REFLECTION with DIMENSIONS/MEASURES serves matching rollups") {
    val saved = spark.experimental.extraOptimizations
    try {
      val runner = new SqlScriptRunner(spark)
      val results = runner.run("""
        CREATE FOLDER IF NOT EXISTS refl2.demo;
        DROP TABLE IF EXISTS refl2.demo.sales;
        CREATE TABLE refl2.demo.sales (region STRING, amount DOUBLE) USING parquet;
        INSERT INTO refl2.demo.sales VALUES
          ('west', 1.0), ('west', 2.0), ('east', 10.0);

        ALTER DATASET refl2.demo.sales
        CREATE AGGREGATE REFLECTION sales_agg
        USING DIMENSIONS (region) MEASURES (amount (SUM, COUNT));

        SELECT region, SUM(amount) AS sum_amount
        FROM refl2.demo.sales GROUP BY region ORDER BY region
      """)
      val df = results.values.head
      assert(df.collect().map(r => (r.getString(0), r.getDouble(1))).toSeq ===
        Seq(("east", 10.0), ("west", 3.0)))
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("graft_reflections"),
        s"expected aggregate-reflection scan in:\n$physical")
      spark.sql("DROP TABLE IF EXISTS refl2.demo.sales")
    } finally spark.experimental.extraOptimizations = saved
  }

  test("TABLE(table_snapshot/table_history) metadata scans inside a script") {
    val runner = new SqlScriptRunner(spark)
    val results = runner.run("""
      CREATE FOLDER IF NOT EXISTS meta.demo;
      DROP TABLE IF EXISTS meta.demo.customers;
      CREATE TABLE meta.demo.customers (id BIGINT, name STRING) USING parquet;
      INSERT INTO meta.demo.customers VALUES (1, 'a'), (2, 'b');

      SELECT snapshot_id, operation, total_records
      FROM TABLE(table_snapshot('meta.demo.customers'));

      SELECT snapshot_id, is_current_ancestor
      FROM TABLE(table_history('meta.demo.customers'));

      SELECT file_format, record_count, file_size_bytes
      FROM TABLE(table_files('meta.demo.customers'))
    """)
    assert(results.size === 3)
    val Seq(snap, hist, files) = results.toSeq.sortBy(_._1).map(_._2)
    val s = snap.collect()
    assert(s.length === 1 && s(0).getLong(0) === 0L && s(0).getLong(2) === 2L)
    val h = hist.collect()
    assert(h.length === 1 && h(0).getBoolean(1))
    // files: footer-read record counts sum to the table count; sizes real
    val f = files.collect()
    assert(f.nonEmpty && f.forall(_.getString(0) == "PARQUET"))
    assert(f.map(_.getLong(1)).sum === 2L)
    assert(f.forall(_.getLong(2) > 0L))
    spark.sql("DROP TABLE IF EXISTS meta.demo.customers")
  }

  test("asUser mode enforces recorded grants (permissions.sql shapes)") {
    import graft.sources.Catalog
    // admin bootstraps the warehouse and grants folder-scoped access
    new SqlScriptRunner(spark).run("""
      CREATE FOLDER IF NOT EXISTS rbac.raw;
      DROP TABLE IF EXISTS rbac.raw.claims;
      CREATE TABLE rbac.raw.claims (id BIGINT, amount DOUBLE) USING parquet;
      INSERT INTO rbac.raw.claims VALUES (1, 10.0), (2, 20.0);
      DROP TABLE IF EXISTS rbac.secure.salaries;
      CREATE FOLDER IF NOT EXISTS rbac.secure;
      CREATE TABLE rbac.secure.salaries (id BIGINT, amt DOUBLE) USING parquet;

      GRANT ALTER, USAGE, SELECT, WRITE on FOLDER rbac.raw to USER rbac_analyst;
      GRANT SELECT ON FOLDER rbac TO USER rbac_auditor;
    """)
    val analyst = new SqlScriptRunner(spark, asUser = Some("rbac_analyst"))
    // folder grant covers the subtree: read and write both pass
    assert(analyst.run("SELECT count(*) AS n FROM rbac.raw.claims")
      .values.head.head.getLong(0) === 2L)
    analyst.run("INSERT INTO rbac.raw.claims VALUES (3, 30.0)")
    // …but not a sibling folder
    val denied = intercept[Catalog.AccessDeniedException] {
      analyst.run("SELECT * FROM rbac.secure.salaries")
    }
    assert(denied.getMessage.contains("rbac_analyst") &&
      denied.getMessage.contains("SELECT"))
    // auditor: SELECT everywhere under rbac, but no WRITE/INSERT
    val auditor = new SqlScriptRunner(spark, asUser = Some("rbac_auditor"))
    assert(auditor.run("SELECT count(*) AS n FROM rbac.secure.salaries")
      .values.head.head.getLong(0) === 0L)
    intercept[Catalog.AccessDeniedException] {
      auditor.run("INSERT INTO rbac.raw.claims VALUES (4, 40.0)")
    }
    // unknown user: nothing
    intercept[Catalog.AccessDeniedException] {
      new SqlScriptRunner(spark, asUser = Some("rbac_nobody"))
        .run("SELECT * FROM rbac.raw.claims")
    }
    // declared views are checked by their dotted path; CTE names are not
    // datasets and must not trip the check
    analyst.run("""
      CREATE OR REPLACE VIEW rbac.raw.big_claims AS
        SELECT * FROM rbac.raw.claims WHERE amount > 15.0;
    """)
    assert(analyst.run("""
      WITH c AS (SELECT * FROM rbac.raw.big_claims)
      SELECT count(*) AS n FROM c""").values.head.head.getLong(0) === 2L)
    intercept[Catalog.AccessDeniedException] {
      auditor.run("INSERT INTO rbac.raw.claims VALUES (9, 9.0)")
    }
    spark.sql("DROP TABLE IF EXISTS rbac.raw.claims")
    spark.sql("DROP TABLE IF EXISTS rbac.secure.salaries")
  }

  test("OPTIMIZE TABLE bin-packs small files without changing content") {
    val runner = new SqlScriptRunner(spark)
    runner.run("""
      CREATE FOLDER IF NOT EXISTS opt.raw;
      DROP TABLE IF EXISTS opt.raw.readings;
      CREATE TABLE opt.raw.readings (id BIGINT, v DOUBLE) USING parquet;
      INSERT INTO opt.raw.readings VALUES (1, 1.0);
      INSERT INTO opt.raw.readings VALUES (2, 2.0);
      INSERT INTO opt.raw.readings VALUES (3, 3.0);
      INSERT INTO opt.raw.readings VALUES (4, 4.0);
    """)
    val before = spark.table("opt.raw.readings").inputFiles.length
    assert(before >= 4, s"expected one file per insert, got $before")
    runner.run("OPTIMIZE TABLE opt.raw.readings")
    val t = spark.table("opt.raw.readings")
    assert(t.inputFiles.length === 1)
    assert(t.orderBy("id").collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq ===
      Seq((1L, 1.0), (2L, 2.0), (3L, 3.0), (4L, 4.0)))
    spark.sql("DROP TABLE IF EXISTS opt.raw.readings")
  }

  test("statement splitter is quote- and comment-aware") {
    val r = new SqlScriptRunner(spark)
    val stmts = r.statements(
      "SELECT 'a;b' AS x; -- comment; with semicolon\nSELECT 2")
    assert(stmts === Seq("SELECT 'a;b' AS x", "SELECT 2"))
  }

  test("AT SNAPSHOT / AT TIMESTAMP / AT BRANCH time-travel in scripted SQL") {
    import graft.sources.SnapshotTable
    import spark.implicits._
    val root = Files.createTempDirectory("script_tt").toString
    val st = new SnapshotTable(spark, root)
    val v1 = st.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    val tsAfterV1 = System.currentTimeMillis()
    Thread.sleep(5) // commit log is millis-grained; keep v2 strictly later
    st.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag"))
    spark.conf.set("graft.snapshot.audit.log.entries", root)
    val r = new SqlScriptRunner(spark)

    val atSnap = r.run(
      s"SELECT count(*) AS n FROM audit.log.entries AT SNAPSHOT '$v1'")
    assert(atSnap.head._2.collect().head.getLong(0) === 2L)

    // epoch-millis form and a timestamp literal both pin the pre-v2 state
    val atTs = r.run(
      s"SELECT count(*) AS n FROM audit.log.entries AT TIMESTAMP '$tsAfterV1'")
    assert(atTs.head._2.collect().head.getLong(0) === 2L)
    val lit = new java.sql.Timestamp(tsAfterV1).toString
    val atTsLit = r.run(
      s"SELECT count(*) AS n FROM audit.log.entries AT TIMESTAMP '$lit'")
    assert(atTsLit.head._2.collect().head.getLong(0) === 2L)

    // main = trunk head; a real branch serves ITS head; an unknown branch
    // errors, and an unbound table errors rather than reading something else
    val atBranch = r.run(
      "SELECT count(*) AS n FROM audit.log.entries AT BRANCH main")
    assert(atBranch.head._2.collect().head.getLong(0) === 3L)
    st.createBranch("dev")
    st.commitToBranch("dev", Seq((9L, "z")).toDF("id", "tag"))
    val atDev = r.run(
      "SELECT count(*) AS n FROM audit.log.entries AT BRANCH dev")
    assert(atDev.head._2.collect().head.getLong(0) === 1L)
    // the branch commit is invisible to main readers
    assert(st.read().count() === 3L)
    st.createTag("audited")
    val atTag = r.run(
      "SELECT count(*) AS n FROM audit.log.entries AT TAG audited")
    assert(atTag.head._2.collect().head.getLong(0) === 3L)
    val eBranch = intercept[IllegalArgumentException] {
      r.run("SELECT * FROM audit.log.entries AT BRANCH nope")
    }
    assert(eBranch.getMessage.contains("no such branch"))
    val eUnbound = intercept[IllegalArgumentException] {
      r.run("SELECT * FROM nowhere.t AT SNAPSHOT '0'")
    }
    assert(eUnbound.getMessage.contains("no snapshot store bound"))
  }

  test("scripted row-level DML: DELETE WHERE (cow+mor), UPDATE, MERGE, ROLLBACK") {
    import graft.sources.SnapshotTable
    import spark.implicits._
    val root = Files.createTempDirectory("script_dml").toString
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L))
      .toDF("id", "tag", "score"))
    spark.conf.set("graft.snapshot.ops.events", root)
    val r = new SqlScriptRunner(spark)
    def content = st.read().as[(Long, String, Long)].collect().toSet

    // copy-on-write DELETE … WHERE (default mode)
    r.run("DELETE FROM ops.events WHERE score >= 40")
    assert(content === Set((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)))

    // UPDATE … SET (two assignments; one contains a top-level-comma call)
    r.run("UPDATE ops.events SET tag = concat(tag, '!'), score = score + 1 WHERE id >= 3")
    assert(content === Set((1L, "a", 10L), (2L, "b", 20L), (3L, "c!", 31L)))

    // MERGE INTO with a sub-select source: 2 replaced, 9 inserted
    r.run("""MERGE INTO ops.events t
             USING (SELECT 2 AS id, 'B' AS tag, 200 AS score
                    UNION ALL SELECT 9, 'i', 90) s
             ON t.id = s.id
             WHEN MATCHED THEN UPDATE SET *
             WHEN NOT MATCHED THEN INSERT *""")
    assert(content === Set((1L, "a", 10L), (2L, "B", 200L), (3L, "c!", 31L), (9L, "i", 90L)))

    // merge-on-read DELETE: commits an equality-delete file, not a rewrite
    spark.conf.set("graft.snapshot.ops.events.delete_mode", "mor")
    spark.conf.set("graft.snapshot.ops.events.key", "id")
    r.run("DELETE FROM ops.events WHERE tag = 'i'")
    assert(content === Set((1L, "a", 10L), (2L, "B", 200L), (3L, "c!", 31L)))
    assert(st.history().orderBy("version").collect().last.getString(2) === "mor-delete")
    spark.conf.unset("graft.snapshot.ops.events.delete_mode")

    // ROLLBACK TABLE … TO SNAPSHOT: head returns to v0's content, history grows
    val before = st.history().count()
    r.run("ROLLBACK TABLE ops.events TO SNAPSHOT '0'")
    assert(content === Set((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L)))
    assert(st.history().count() === before + 1)

    // column-level MERGE: conditional UPDATE SET col=expr, DELETE, and an
    // explicit-column INSERT, first-match-wins (r10 VERDICT next-round #3)
    r.run("""MERGE INTO ops.events t
             USING (SELECT 1 AS id, 5 AS bump
                    UNION ALL SELECT 2, 7 UNION ALL SELECT 11, 1) s
             ON t.id = s.id
             WHEN MATCHED AND t.score < 15 THEN UPDATE SET score = t.score + s.bump
             WHEN MATCHED THEN DELETE
             WHEN NOT MATCHED THEN INSERT (id, tag, score) VALUES (s.id, 'new', s.bump * 10)""")
    // id=1 (score 10 < 15): bumped to 15; id=2 (score 20): deleted;
    // id=11: inserted with tag 'new', score 10; ids 3,4 untouched
    assert(content === Set((1L, "a", 15L), (3L, "c", 30L), (4L, "d", 40L),
      (11L, "new", 10L)))

    // a typo'd ON clause (same qualifier both sides) is refused loudly —
    // never a silent key-merge (round-10 ADVICE)
    val eOn = intercept[IllegalArgumentException] {
      r.run("MERGE INTO ops.events t USING (SELECT 1 AS id) s ON t.id = t.id " +
        "WHEN MATCHED THEN UPDATE SET *")
    }
    assert(eOn.getMessage.contains("qualifiers"))

    // a duplicated source key is refused (Iceberg MERGE fails on multiple
    // matches), never a silent double-insert
    val eDup = intercept[IllegalArgumentException] {
      r.run("MERGE INTO ops.events t USING (SELECT 99 AS id, 'x' AS tag, 1 AS score " +
        "UNION ALL SELECT 99, 'y', 2) s ON t.id = s.id " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    }
    assert(eDup.getMessage.contains("non-unique"))

    // a garbled MERGE is still refused loudly, not mis-executed
    val eMerge = intercept[IllegalArgumentException] {
      r.run("MERGE INTO ops.events t USING x s ON t.id = s.id " +
        "WHEN MATCHED THEN REPLACE EVERYTHING")
    }
    assert(eMerge.getMessage.contains("unsupported MERGE form"))
  }

  test("scripted branch/tag DDL: WAP via ALTER TABLE, plus table_changes CDC") {
    import graft.sources.SnapshotTable
    import spark.implicits._
    val root = Files.createTempDirectory("script_refs").toString
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "note"))          // v0
    spark.conf.set("graft.snapshot.ops.audit", root)
    val r = new SqlScriptRunner(spark)

    r.run("ALTER TABLE ops.audit CREATE TAG baseline AS OF VERSION 0")
    r.run("ALTER TABLE ops.audit CREATE BRANCH wap")
    // stage on the branch via the API (branch writes are an API surface),
    // audit via scripted AT BRANCH, publish via scripted FAST FORWARD
    st.commitToBranch("wap", Seq((1L, "a"), (2L, "B"), (3L, "c")).toDF("id", "note"))
    val audit = r.run("SELECT count(*) AS n FROM ops.audit AT BRANCH wap").values.head
    assert(audit.as[Long].head() === 3L)
    assert(st.read().count() === 2)                  // main untouched pre-publish
    r.run("ALTER TABLE ops.audit FAST FORWARD BRANCH wap")
    assert(st.read().count() === 3)
    // CDC between v0 and main's published head, keyed on id
    val head = st.currentVersion.get
    val ch = r.run(s"SELECT _change_type, id FROM " +
      s"TABLE(table_changes('ops.audit', 0, $head, 'id')) " +
      s"ORDER BY id, _change_type").values.head
    assert(ch.as[(String, Long)].collect().toSeq ===
      Seq(("update_postimage", 2L), ("update_preimage", 2L), ("insert", 3L))
        .sortBy(t => (t._2, t._1)))
    // DROP kind-checking and tombstones
    intercept[IllegalArgumentException](r.run("ALTER TABLE ops.audit DROP TAG wap"))
    r.run("ALTER TABLE ops.audit DROP BRANCH wap")
    assert(st.refs().as[(String, String, Long)].collect().map(_._1).toSet
      === Set("baseline"))
    intercept[IllegalArgumentException](
      r.run("ALTER TABLE ops.audit REPLACE TAG baseline AS OF VERSION 1"))
    r.run("ALTER TABLE ops.audit DROP TAG baseline")
    r.run("ALTER TABLE ops.audit CREATE TAG baseline AS OF VERSION 0") // name freed
    assert(st.readTag("baseline").count() === 2)
  }

  test("scripted table_changes: composite keys and the keyless multiset form") {
    import graft.sources.SnapshotTable
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    val root = Files.createTempDirectory("script_cdc2").toString
    val st = new SnapshotTable(spark, root)
    // (tenant, id) identity; same id under both tenants
    st.commit(Seq(("a", 1L, 10L), ("b", 1L, 10L)).toDF("tenant", "id", "n")) // v0
    st.update(col("tenant") === "a" && col("id") === 1L, Map("n" -> lit(11L))) // v1
    spark.conf.set("graft.snapshot.ops.multi", root)
    val r = new SqlScriptRunner(spark)
    // composite key: only (a,1) pairs — a single-column key would smear (b,1)
    val ch = r.run("SELECT tenant, _change_type FROM " +
      "TABLE(table_changes('ops.multi', 0, 1, 'tenant,id')) ORDER BY 1, 2")
      .values.head
    assert(ch.as[(String, String)].collect().toSeq ===
      Seq(("a", "update_postimage"), ("a", "update_preimage")))
    // keyless: no key argument, no bound default → multiset insert/delete
    val nk = r.run("SELECT _change_type, count(*) AS n FROM " +
      "TABLE(table_changes('ops.multi', 0, 1)) GROUP BY 1 ORDER BY 1")
      .values.head
    assert(nk.as[(String, Long)].collect().toSeq ===
      Seq(("delete", 1L), ("insert", 1L))) // old (a,1,10) out, new (a,1,11) in
  }

  test("scripted VACUUM TABLE expiry and table_refs/table_partitions scans") {
    import graft.sources.SnapshotTable
    import spark.implicits._
    val root = Files.createTempDirectory("script_vac").toString
    val st = new SnapshotTable(spark, root)
    (1 to 4).foreach(i =>
      st.commit(Seq.tabulate(i)(j => (j.toLong, s"r$j")).toDF("id", "v")))
    st.createTag("keep0", Some(0L))      // pins v0 through the vacuum
    spark.conf.set("graft.snapshot.ops.vac", root)
    val r = new SqlScriptRunner(spark)

    r.run("VACUUM TABLE ops.vac EXPIRE SNAPSHOTS RETAIN_LAST 2")
    assert(st.history().count() === 3)   // v2, v3 + the tag-pinned v0
    assert(st.readTag("keep0").count() === 1)
    assert(st.read().count() === 4)

    val refs = r.run("SELECT ref_name, ref_kind FROM TABLE(table_refs('ops.vac'))")
      .values.head.as[(String, String)].collect().toSeq
    assert(refs === Seq(("keep0", "tag")))

    // OLDER_THAN far in the past expires nothing; far in the future keeps
    // only what retention must (head + pins)
    r.run("VACUUM TABLE ops.vac EXPIRE SNAPSHOTS OLDER_THAN '2000-01-01 00:00:00'")
    assert(st.history().count() === 3)
    r.run("VACUUM TABLE ops.vac EXPIRE SNAPSHOTS OLDER_THAN '2100-01-01 00:00:00'")
    assert(st.read().count() === 4)      // head survives however old
    assert(st.readTag("keep0").count() === 1)

    // table_partitions over a partitioned catalog write
    Seq((1, "en"), (2, "en"), (3, "de")).toDF("id", "lang")
      .write.partitionBy("lang").mode("overwrite").parquet(s"$root/pt")
    spark.read.parquet(s"$root/pt").createOrReplaceTempView("vac_parts")
    val parts = r.run(
      "SELECT partition, record_count FROM TABLE(table_partitions('vac_parts')) " +
        "ORDER BY partition").values.head.as[(String, Long)].collect().toSeq
    assert(parts === Seq(("lang=de", 1L), ("lang=en", 2L)))

    // RETAIN_LAST 0 is rejected, never a silent table wipe
    intercept[IllegalArgumentException](
      r.run("VACUUM TABLE ops.vac EXPIRE SNAPSHOTS RETAIN_LAST 0"))
    assert(st.read().count() === 4)
  }

  test("branch DDL guard is surgical: other ALTER TABLE forms fall through") {
    import graft.sources.SnapshotTable
    import spark.implicits._
    val root = Files.createTempDirectory("refs_guard").toString
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((1L, "a")).toDF("id", "v"))
    spark.conf.set("graft.snapshot.ops.guard", root)
    val r = new SqlScriptRunner(spark)
    // a column/property named tag or branch is NOT ref DDL — the statement
    // must reach spark.sql (which rejects it for a path-less name, not the
    // ref-DDL parser)
    val e = intercept[Exception](
      r.run("ALTER TABLE some_missing_table ADD COLUMNS (tag STRING)"))
    assert(!e.getMessage.contains("CREATE|REPLACE|DROP|FAST FORWARD"))
    // CREATE on an existing branch errors (Iceberg semantics); REPLACE on a
    // missing one too
    r.run("ALTER TABLE ops.guard CREATE BRANCH audit")
    intercept[IllegalArgumentException](
      r.run("ALTER TABLE ops.guard CREATE BRANCH audit"))
    intercept[IllegalArgumentException](
      r.run("ALTER TABLE ops.guard REPLACE BRANCH missing AS OF VERSION 0"))
    r.run("ALTER TABLE ops.guard REPLACE BRANCH audit AS OF VERSION 0")
    assert(st.branchHead("audit") === Some(0L))
  }

  test("DML dispatch is literal-safe and formatting-safe") {
    import graft.sources.SnapshotTable
    import spark.implicits._
    val root = Files.createTempDirectory("script_dml2").toString
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "note"))
    spark.conf.set("graft.snapshot.ops.notes", root)
    val r = new SqlScriptRunner(spark)
    def ids = st.read().select("id").as[Long].collect().toSet

    // WHERE with no trailing space must still be row-level, NOT a truncate
    r.run("DELETE FROM ops.notes WHERE(id = 3)")
    assert(ids === Set(1L, 2L))

    // a ' where ' inside an assignment's string literal must not split SET
    r.run("UPDATE ops.notes SET note = 'kept where found' WHERE id = 2")
    assert(st.read().filter($"id" === 2L).select("note").as[String].head()
      === "kept where found")

    // WHERE only inside a literal is NOT top-level: this UPDATE has no
    // predicate and applies to every row
    r.run("UPDATE ops.notes SET note = 'no where here'")
    assert(st.read().select("note").as[String].collect().toSet
      === Set("no where here"))
  }

  test("scripted MERGE honors merge_mode=mor, including the whole-row form") {
    import graft.sources.SnapshotTable
    import spark.implicits._
    val root = Files.createTempDirectory("script_mor_merge").toString
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    spark.conf.set("graft.snapshot.ops.morm", root)
    spark.conf.set("graft.snapshot.ops.morm.merge_mode", "mor")
    val r = new SqlScriptRunner(spark)
    // whole-row SET * / INSERT * — normally the cheap anti-join+union cow
    // path; in mor mode it must become ONE mor-merge commit instead
    r.run("""MERGE INTO ops.morm t USING (
               SELECT 2 AS id, 'B2' AS v UNION ALL SELECT 9, 'n') s
             ON t.id = s.id
             WHEN MATCHED THEN UPDATE SET *
             WHEN NOT MATCHED THEN INSERT *""")
    assert(st.read().as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "B2"), (3L, "c"), (9L, "n")))
    val last = st.history().orderBy($"version".desc).limit(1).collect().head
    assert(last.getString(2) === "mor-merge")
    assert(last.getLong(3) === 4L) // resulting total in the log
    // the commit's data dir is delta-sized: 1 updated copy + 1 insert
    assert(spark.read.parquet(s"$root/v=1").count() === 2)
  }

  test("snapshot-bound INSERT VALUES casts to the table's column types") {
    import graft.sources.SnapshotTable
    import spark.implicits._
    val root = Files.createTempDirectory("script_ins_cast").toString
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((1L, 10.5)).toDF("id", "amt")) // id BIGINT, amt DOUBLE
    spark.conf.set("graft.snapshot.fin.cast.ledger", root)
    val r = new SqlScriptRunner(spark)
    // integer literals parse as INT / DECIMAL — they must land as the
    // table's BIGINT/DOUBLE, or the delta run splits and the resolved
    // schema widens via unionByName (review finding)
    r.run("INSERT INTO fin.cast.ledger VALUES (2, 20)")
    r.run("INSERT INTO fin.cast.ledger (amt, id) (SELECT 30.25, 3)")
    val out = st.read()
    assert(out.schema.map(f => (f.name, f.dataType.sql)).toSet ===
      Set(("id", "BIGINT"), ("amt", "DOUBLE")))
    assert(out.as[(Long, Double)].collect().toSet ===
      Set((1L, 10.5), (2L, 20.0), (3L, 30.25)))
    assert(st.history().count() === 3)
  }

  test("asUser SELECT checks the datasets its subqueries read") {
    import graft.sources.Catalog
    import spark.implicits._
    Seq(1L, 2L).toDF("id").createOrReplaceTempView("subq_public")
    Seq(2L).toDF("id").createOrReplaceTempView("subq_secret")
    Catalog.grant("GRANT SELECT ON TABLE subq_public TO USER subq_reader")
    val r = new SqlScriptRunner(spark, asUser = Some("subq_reader"))
    assert(r.run("SELECT count(*) AS n FROM subq_public").values.head.head.getLong(0) === 2L)
    val denied = intercept[Catalog.AccessDeniedException](r.run(
      "SELECT count(*) AS n FROM subq_public WHERE id IN (SELECT id FROM subq_secret)"))
    assert(denied.getMessage.contains("subq_secret"))
  }

  test("scripted DML in asUser mode requires the write privilege") {
    import graft.sources.{Catalog, SnapshotTable}
    import spark.implicits._
    val root = Files.createTempDirectory("script_dml_rbac").toString
    new SnapshotTable(spark, root).commit(Seq((1L, "a")).toDF("id", "tag"))
    spark.conf.set("graft.snapshot.hr.records", root)
    Catalog.grant("GRANT SELECT ON TABLE hr.records TO USER reader")
    val denied = intercept[Catalog.AccessDeniedException] {
      new SqlScriptRunner(spark, asUser = Some("reader"))
        .run("DELETE FROM hr.records WHERE id = 1")
    }
    assert(denied.getMessage.contains("reader"))
    Catalog.grant("GRANT WRITE ON TABLE hr.records TO USER editor")
    new SqlScriptRunner(spark, asUser = Some("editor"))
      .run("DELETE FROM hr.records WHERE id = 1")
    assert(new SnapshotTable(spark, root).read().count() === 0L)
  }

  test("time travel in asUser mode checks SELECT on the original dataset") {
    import graft.sources.{Catalog, SnapshotTable}
    import spark.implicits._
    val root = Files.createTempDirectory("script_tt_rbac").toString
    new SnapshotTable(spark, root).commit(Seq((1L, "a")).toDF("id", "tag"))
    spark.conf.set("graft.snapshot.finance.ledger", root)
    Catalog.grant("GRANT SELECT ON TABLE finance.ledger TO USER auditor")
    val ok = new SqlScriptRunner(spark, asUser = Some("auditor"))
      .run("SELECT count(*) AS n FROM finance.ledger AT SNAPSHOT '0'")
    assert(ok.head._2.collect().head.getLong(0) === 1L)
    val denied = intercept[Catalog.AccessDeniedException] {
      new SqlScriptRunner(spark, asUser = Some("intern"))
        .run("SELECT * FROM finance.ledger AT SNAPSHOT '0'")
    }
    assert(denied.getMessage.contains("intern"))
  }

  test("graft_* rewrite views cannot be read around the privilege check") {
    import graft.sources.{Catalog, SnapshotTable}
    import spark.implicits._
    val root = Files.createTempDirectory("script_tt_bypass").toString
    new SnapshotTable(spark, root).commit(Seq((1L, "secret")).toDF("id", "tag"))
    spark.conf.set("graft.snapshot.hr.salaries", root)
    Catalog.grant("GRANT SELECT ON TABLE hr.salaries TO USER hr_admin")
    // a privileged statement binds a graft_tt_N view internally…
    new SqlScriptRunner(spark, asUser = Some("hr_admin"))
      .run("SELECT count(*) AS n FROM hr.salaries AT SNAPSHOT '0'")
    // …and an unprivileged user can neither name such a view directly (any
    // index — denied pre-rewrite) nor find one still bound (dropped per
    // statement).
    val intern = new SqlScriptRunner(spark, asUser = Some("intern"))
    (1 to 4).foreach { i =>
      val e = intercept[Catalog.AccessDeniedException] {
        intern.run(s"SELECT * FROM graft_tt_$i")
      }
      assert(e.getMessage.contains("graft_"))
    }
    assert(!spark.catalog.tableExists("graft_tt_1"))
  }

  test("scripted schema evolution: ADD/INSERT/RENAME/DROP lifecycle + guards") {
    import graft.sources.SnapshotTable
    import spark.implicits._
    val root = Files.createTempDirectory("script_evo").toString
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "txt", "n"))
    spark.conf.set("graft.snapshot.ops.docs", root)
    val r = new SqlScriptRunner(spark)
    r.run("""
      ALTER TABLE ops.docs ADD COLUMN score DOUBLE;
      INSERT INTO ops.docs VALUES (3, 'c', 30, 0.9);
      ALTER TABLE ops.docs RENAME COLUMN n TO n2;
      ALTER TABLE ops.docs DROP COLUMN txt;
    """)
    val head = st.read()
    assert(head.columns.toSeq === Seq("id", "n2", "score"))
    assert(head.orderBy("id").as[(Long, Int, Option[Double])].collect().toSeq ===
      Seq((1L, 10, None), (2L, 20, None), (3L, 30, Some(0.9))))
    // version 0 still serves the ORIGINAL schema through scripted time travel
    val v0 = r.run("SELECT * FROM ops.docs AT SNAPSHOT '0'").head._2
    assert(v0.columns.toSeq === Seq("id", "txt", "n"))
    // bad DDL fails fast
    intercept[IllegalArgumentException](
      r.run("ALTER TABLE ops.docs DROP COLUMN nothere"))
    // RBAC: schema DDL needs ALTER/WRITE
    graft.sources.Catalog.grant("GRANT SELECT ON TABLE ops.docs TO USER viewer")
    intercept[graft.sources.Catalog.AccessDeniedException](
      new SqlScriptRunner(spark, asUser = Some("viewer"))
        .run("ALTER TABLE ops.docs ADD COLUMN sneaky INT"))
  }

  test("branch-targeted DML stages on the branch; main never moves") {
    import graft.sources.SnapshotTable
    import spark.implicits._
    val root = Files.createTempDirectory("script_brdml").toString
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "tag"))
    spark.conf.set("graft.snapshot.ops.staged", root)
    val r = new SqlScriptRunner(spark)
    r.run("""
      ALTER TABLE ops.staged CREATE BRANCH wip;
      DELETE FROM ops.staged AT BRANCH wip WHERE id = 2;
      UPDATE ops.staged AT BRANCH wip SET tag = concat(tag, '+') WHERE id = 3;
      INSERT INTO ops.staged AT BRANCH wip VALUES (9, 'z');
    """)
    // main is untouched through all three staged writes
    assert(st.read().as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    assert(st.readBranch("wip").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (3L, "c+"), (9L, "z")))
    // the branch INSERT was an O(delta) commit: its dir holds one row
    val head = st.branchHead("wip").get
    assert(spark.read.parquet(s"$root/v=$head").count() === 1)
    // publish, then the staged state is main's
    r.run("ALTER TABLE ops.staged FAST FORWARD BRANCH wip")
    assert(st.read().as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (3L, "c+"), (9L, "z")))
    // branch truncate empties only the branch
    r.run("""
      ALTER TABLE ops.staged REPLACE BRANCH wip;
      DELETE FROM ops.staged AT BRANCH wip;
    """)
    assert(st.readBranch("wip").count() === 0)
    assert(st.read().count() === 3)
  }

  test("snapshot-bound unqualified DELETE truncates the store, not the catalog") {
    import graft.sources.SnapshotTable
    import spark.implicits._
    val root = Files.createTempDirectory("script_trunc").toString
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((1L, "a")).toDF("id", "tag"))
    // conf-bound ONLY (no catalog table of this name exists) — the old
    // drop+recreate path would have thrown a catalog error here
    spark.conf.set("graft.snapshot.ops.scratch", root)
    new SqlScriptRunner(spark).run("DELETE FROM ops.scratch")
    assert(st.read().count() === 0)
    assert(st.read().columns.toSeq === Seq("id", "tag")) // schema survives
    assert(st.read(Some(0L)).count() === 1)              // history preserved
  }

  test("backslash-escaped quotes in literals don't desync DML clause slicing") {
    import graft.sources.SnapshotTable
    import spark.implicits._
    val root = Files.createTempDirectory("script_bs").toString
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "note"))
    spark.conf.set("graft.snapshot.ops.notes", root)
    val r = new SqlScriptRunner(spark)
    // the literal contains an ESCAPED quote, a comma, and the word WHERE —
    // any of which would mis-split the SET clause if the mask desynced
    r.run("UPDATE ops.notes SET note = 'it\\'s big, where possible' WHERE id = 1")
    assert(st.read().orderBy("id").as[(Long, String)].collect().toSeq ===
      Seq((1L, "it's big, where possible"), (2L, "b")))
    // and in the statement splitter: an escaped quote before a semicolon
    val rows = r.run("SELECT 'don\\'t; split' AS s; SELECT 2 AS t;")
    assert(rows.size === 2)
    assert(rows(0).collect().head.getString(0) === "don't; split")
    // escaped quote inside a DOUBLE-quoted segment must not desync either:
    // if the \" toggled state, the ; inside the quotes would split the
    // statement in half (review finding)
    val split = r.statements("SELECT \"x\\\"; y\" FROM t; SELECT 2 AS n;")
    assert(split.size === 2 && split(1) === "SELECT 2 AS n", split.toString)
  }

  test("MERGE clause rewriting and slicing are literal-safe (review findings)") {
    import graft.sources.SnapshotTable
    import spark.implicits._
    val root = Files.createTempDirectory("merge_lit").toString
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((1L, "old", "keep"), (2L, "x", "keep"))
      .toDF("id", "url", "note"))
    spark.conf.set("graft.snapshot.ops.links", root)
    val r = new SqlScriptRunner(spark)
    // the literal 't.co/xyz' contains the TARGET ALIAS as a prefix and the
    // condition literal embeds ' THEN ' — neither may corrupt the rewrite
    r.run("""MERGE INTO ops.links t USING (SELECT 1 AS id) s
             ON t.id = s.id
             WHEN MATCHED AND t.note = 'keep THEN drop' THEN DELETE
             WHEN MATCHED THEN UPDATE SET url = 't.co/xyz'""")
    assert(st.read().orderBy("id").as[(Long, String, String)].collect().toSeq ===
      Seq((1L, "t.co/xyz", "keep"), (2L, "x", "keep")))
    // a NULL-key source row is legal: it matches nothing and simply inserts
    r.run("""MERGE INTO ops.links t USING (
               SELECT CAST(NULL AS BIGINT) AS id, 'null.co' AS url, 'n' AS note
               UNION ALL SELECT 9, 'nine.co', 'n') s
             ON t.id = s.id
             WHEN MATCHED THEN UPDATE SET *
             WHEN NOT MATCHED THEN INSERT *""")
    assert(st.read().count() === 4)
    assert(st.read().filter(
      org.apache.spark.sql.functions.col("url") === "null.co").count() === 1)
  }

  test("snapshot INSERT: explicit column lists and compound SELECT bodies") {
    import graft.sources.SnapshotTable
    import spark.implicits._
    val root = Files.createTempDirectory("ins_forms").toString
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((1L, "a", 10)).toDF("id", "v", "n"))
    spark.conf.set("graft.snapshot.ops.forms", root)
    val r = new SqlScriptRunner(spark)
    // explicit column list maps VALUES positionally onto the listed columns
    r.run("INSERT INTO ops.forms (id, v, n) VALUES (2, 'b', 20)")
    // compound parenthesized SELECT body must NOT be paren-stripped
    r.run("INSERT INTO ops.forms (SELECT 3 AS id, 'c' AS v, 30 AS n) " +
      "UNION ALL (SELECT 4, 'd', 40)")
    assert(st.read().orderBy("id").as[(Long, String, Int)].collect().toSeq ===
      Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30), (4L, "d", 40)))
  }

  test("plain SELECT over a snapshot-bound table auto-binds AND prunes") {
    import graft.sources.SnapshotTable
    import spark.implicits._
    val root = Files.createTempDirectory("plain_sel").toString
    val st = new SnapshotTable(spark, root)
    st.commit(Seq.tabulate(100)(i => (i.toLong, s"w$i")).toDF("id", "w").coalesce(1))
    (1 to 3).foreach { k =>
      st.commit(Seq.tabulate(100)(i => ((k * 100 + i).toLong, s"w$i"))
        .toDF("id", "w").coalesce(1), op = "append")
    }
    spark.conf.set("graft.snapshot.plainsel.t", root)
    val r = new SqlScriptRunner(spark)
    // NO AT clause, NO pre-bound view, NO readWhere: the runner binds the
    // dotted name itself and the statement's own WHERE prunes the files
    SnapshotTable.resetScanStats(root)
    val res = r.run(
      "SELECT count(*) AS n FROM plainsel.t WHERE id >= 150 AND id < 180")
      .values.head
    assert(res.collect()(0).getLong(0) === 30L)
    assert(SnapshotTable.scanStats(root) === ((1L, 4L)),
      "the scripted WHERE must reach the manifest listing")
    // joins against ordinary relations work; a literal containing the name
    // is untouched
    val res2 = r.run("SELECT 'plainsel.t is great' AS msg, max(id) AS m " +
      "FROM plainsel.t").values.head.collect()(0)
    assert(res2.getString(0) === "plainsel.t is great" && res2.getLong(1) === 399L)
    // an INSERT body reading the bound table resolves the same way
    val root2 = Files.createTempDirectory("plain_tgt").toString
    val st2 = new SnapshotTable(spark, root2)
    st2.commit(Seq((-1L, "seed")).toDF("id", "w"))
    spark.conf.set("graft.snapshot.copy.tgt", root2)
    r.run("INSERT INTO copy.tgt SELECT id, w FROM plainsel.t WHERE id < 3")
    assert(st2.read().count() === 4)
  }

  test("qualified column refs resolve on a bound single-part table name") {
    import graft.sources.SnapshotTable
    import spark.implicits._
    val root = Files.createTempDirectory("qual_ref").toString
    new SnapshotTable(spark, root)
      .commit(Seq((1L, "x"), (2L, "y")).toDF("id", "w").coalesce(1))
    spark.conf.set("graft.snapshot.qualref", root)
    val r = new SqlScriptRunner(spark)
    // the rename-style rewrite fixed the FROM but left `qualref.id`
    // dangling; the name-preserving binding resolves both
    val got = r.run(
      "SELECT qualref.id, qualref.w FROM qualref WHERE qualref.id = 2")
      .values.head.collect()
    assert(got.map(x => (x.getLong(0), x.getString(1))).toSeq === Seq((2L, "y")))
    // self-joins by the plain name work too
    val n = r.run("SELECT count(*) AS n FROM qualref a JOIN qualref b ON a.id = b.id")
      .values.head.collect()(0).getLong(0)
    assert(n === 2L)
  }

  test("MERGE source by plain name checks SELECT in asUser mode") {
    import graft.sources.{Catalog, SnapshotTable}
    import spark.implicits._
    val tgtRoot = Files.createTempDirectory("merge_rbac_t").toString
    val srcRoot = Files.createTempDirectory("merge_rbac_s").toString
    new SnapshotTable(spark, tgtRoot).commit(Seq((1L, "a")).toDF("id", "v"))
    new SnapshotTable(spark, srcRoot).commit(Seq((1L, "classified")).toDF("id", "v"))
    spark.conf.set("graft.snapshot.ops.tgt", tgtRoot)
    spark.conf.set("graft.snapshot.sec.src", srcRoot)
    Catalog.grant("GRANT WRITE ON TABLE ops.tgt TO USER writer")
    // WRITE on the target does NOT confer read on an arbitrary bound
    // dataset named as the MERGE source — that would bypass the dataset
    // SELECT check every other read path enforces
    val denied = intercept[Catalog.AccessDeniedException] {
      new SqlScriptRunner(spark, asUser = Some("writer")).run(
        """MERGE INTO ops.tgt t USING sec.src s ON t.id = s.id
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(denied.getMessage.contains("writer"))
    Catalog.grant("GRANT SELECT ON TABLE sec.src TO USER writer")
    new SqlScriptRunner(spark, asUser = Some("writer")).run(
      """MERGE INTO ops.tgt t USING sec.src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(new SnapshotTable(spark, tgtRoot).read()
      .select("v").as[String].head() === "classified")
  }

  test("snapshot INSERT rejects lossy store-assignment (ANSI semantics)") {
    import graft.sources.SnapshotTable
    import spark.implicits._
    val root = Files.createTempDirectory("ins_ansi").toString
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((1L, "a", 10)).toDF("id", "v", "n")) // n: INT
    spark.conf.set("graft.snapshot.ops.ansi", root)
    val r = new SqlScriptRunner(spark)
    // a BIGINT literal beyond Int range into the INT column: the pre-fix
    // behavior wrapped it silently (Column.cast is non-ANSI); SQL
    // store-assignment errors instead
    val e = intercept[IllegalArgumentException](
      r.run("INSERT INTO ops.ansi VALUES (2, 'big', 3000000000)"))
    assert(e.getMessage.contains("does not fit"))
    assert(st.read().count() === 1, "the lossy insert must not land")
    // an un-castable string into a numeric column errors too
    val e2 = intercept[IllegalArgumentException](
      r.run("INSERT INTO ops.ansi (id, v, n) VALUES (2, 'b', 'not-a-number')"))
    assert(e2.getMessage.contains("does not fit"))
    // in-range values (and legal widenings) still insert fine
    r.run("INSERT INTO ops.ansi VALUES (2, 'b', 20)")
    assert(st.read().orderBy("id").as[(Long, String, Int)].collect().toSeq ===
      Seq((1L, "a", 10), (2L, "b", 20)))
    // after widening the column the same big value is accepted
    r.run("ALTER TABLE ops.ansi ALTER COLUMN n TYPE BIGINT")
    r.run("INSERT INTO ops.ansi VALUES (3, 'big', 3000000000)")
    assert(st.read().filter(org.apache.spark.sql.functions.col("id") === 3L)
      .select("n").as[Long].head() === 3000000000L)
  }

  test("time-travel rewrite ignores AT/TIMESTAMP inside string literals") {
    import graft.sources.SnapshotTable
    import spark.implicits._
    val root = Files.createTempDirectory("script_tt_lit").toString
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((1L, "a")).toDF("id", "tag"))
    st.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "tag"))
    spark.conf.set("graft.snapshot.ops.log", root)
    val r = new SqlScriptRunner(spark)
    // the literal mentions an unbound name + AT TIMESTAMP — must pass through
    val rows = r.run(
      "SELECT 'logged at timestamp ''5'' by nowhere.t' AS note, count(*) AS n " +
        "FROM ops.log AT SNAPSHOT '0'")
    val row = rows.head._2.collect().head
    assert(row.getString(0) === "logged at timestamp '5' by nowhere.t")
    assert(row.getLong(1) === 1L)
  }

  test("scripted WRITE ORDERED BY persists the clustering order; OPTIMIZE " +
      "re-clusters; WRITE UNORDERED clears it") {
    import graft.sources.SnapshotTable
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val root = Files.createTempDirectory("script_order").toString
    val st = new SnapshotTable(spark, root)
    st.commit(Seq.tabulate(400)(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(2))
    (1 to 5).foreach { w =>
      st.commit(Seq.tabulate(400)(i => (i.toLong, s"v$i")).toDF("id", "v")
        .filter(col("id") % 7 === w.toLong).coalesce(1), op = "append")
    }
    spark.conf.set("graft.snapshot.ops.orders", root)
    val r = new SqlScriptRunner(spark)
    // Iceberg's public extension DDL, with the pinned-count extension
    r.run("ALTER TABLE ops.orders WRITE ORDERED BY id INTO 4 FILES")
    assert(st.sortOrder === Seq("id") && st.sortOrderFiles === 4)
    // the scripted OPTIMIZE now re-CLUSTERS (sort-order-aware compaction)
    r.run("OPTIMIZE TABLE ops.orders")
    val t2 = new SnapshotTable(spark, root)
    t2.readWhere(col("id") < 50L).count()
    val (kept, total) = t2.lastPruneStats
    assert(total === 4L && kept === 1L,
      s"scripted sorted rewrite should prune 1 of 4: $kept/$total")
    // a zorder order round-trips through the DDL as ONE entry
    r.run("ALTER TABLE ops.orders WRITE ORDERED BY zorder(id, v) INTO 8 FILES")
    assert(t2.sortOrder === Seq("zorder(id, v)") && t2.sortOrderFiles === 8)
    // parenthesized Iceberg spelling works; explicit ASC strips
    r.run("ALTER TABLE ops.orders WRITE ORDERED BY (id ASC, v)")
    assert(t2.sortOrder === Seq("id", "v"))
    // unsupported orderings and typo'd columns are REJECTED, never
    // persisted as a silently-never-matching order
    intercept[IllegalArgumentException](
      r.run("ALTER TABLE ops.orders WRITE ORDERED BY id DESC"))
    intercept[IllegalArgumentException](
      r.run("ALTER TABLE ops.orders WRITE ORDERED BY no_such_col"))
    intercept[IllegalArgumentException](
      r.run("ALTER TABLE ops.orders WRITE ORDERED BY id INTO 2000000000 FILES"))
    assert(t2.sortOrder === Seq("id", "v"), "rejected DDL must not mutate")
    r.run("ALTER TABLE ops.orders WRITE UNORDERED")
    assert(t2.sortOrder === Nil)
    // an UNBOUND table falls through to Spark's own SQL surface (where a
    // real Iceberg catalog would handle the extension DDL) — this runner
    // must not intercept and error
    intercept[Exception] { // Spark parse error, not our snapshotStore error
      val e = intercept[Exception](
        r.run("ALTER TABLE nowhere.tbl WRITE ORDERED BY id"))
      assert(!e.getMessage.contains("no snapshot store bound"), e.getMessage)
      throw e
    }
  }

  /** A 3-row bound store `(id, note, n)` in the default cow modes. */
  private def targetsStore(name: String): graft.sources.SnapshotTable = {
    import spark.implicits._
    val root = Files.createTempDirectory(name).toString
    val st = new graft.sources.SnapshotTable(spark, root)
    st.commit(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L)).toDF("id", "note", "n"))
    spark.conf.set(s"graft.snapshot.ops.$name", root)
    st
  }

  private def rowsOf(st: graft.sources.SnapshotTable): Seq[(Long, String, Long)] = {
    import spark.implicits._
    st.read().orderBy("id").as[(Long, String, Long)].collect().toSeq
  }

  test("UPDATE with a backquoted target assigns the column itself") {
    val st = targetsStore("upd_quoted")
    val r = new SqlScriptRunner(spark)
    r.run("UPDATE ops.upd_quoted SET `note` = 'x' WHERE id = 1")
    assert(st.read().columns.toSeq === Seq("id", "note", "n"))
    assert(rowsOf(st) === Seq((1L, "x", 10L), (2L, "b", 20L), (3L, "c", 30L)))
    // the table stays writable: a later DELETE resolves its columns
    r.run("DELETE FROM ops.upd_quoted WHERE id = 3")
    assert(rowsOf(st).map(_._1) === Seq(1L, 2L))
  }

  test("MERGE UPDATE SET resolves its target column case-insensitively") {
    val st = targetsStore("merge_case")
    new SqlScriptRunner(spark).run(
      """MERGE INTO ops.merge_case t USING (SELECT 2 AS id, 'B' AS note) s
        |ON t.id = s.id WHEN MATCHED THEN UPDATE SET NOTE = s.note""".stripMargin)
    assert(rowsOf(st) === Seq((1L, "a", 10L), (2L, "B", 20L), (3L, "c", 30L)))
  }

  test("MERGE INSERT naming an unknown column is refused, never dropped") {
    val st = targetsStore("merge_unknown")
    val e = intercept[IllegalArgumentException](new SqlScriptRunner(spark).run(
      """MERGE INTO ops.merge_unknown t USING (SELECT 7 AS id, 'n' AS note) s
        |ON t.id = s.id
        |WHEN NOT MATCHED THEN INSERT (id, nope) VALUES (s.id, s.note)""".stripMargin))
    assert(e.getMessage.contains("nope"), e.getMessage)
    assert(rowsOf(st).map(_._1) === Seq(1L, 2L, 3L))
  }

  test("MERGE front end: NOT MATCHED BY SOURCE and non-key ON clauses are " +
      "refused; a parenthesized key equality runs") {
    val st = targetsStore("merge_edges")
    val r = new SqlScriptRunner(spark)
    val eBySource = intercept[IllegalArgumentException](r.run(
      """MERGE INTO ops.merge_edges t USING (SELECT 1 AS id) s ON t.id = s.id
        |WHEN MATCHED THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin))
    assert(eBySource.getMessage.contains("NOT MATCHED BY SOURCE"), eBySource.getMessage)
    val eSame = intercept[IllegalArgumentException](r.run(
      "MERGE INTO ops.merge_edges t USING (SELECT 1 AS id) s ON t.id = t.id " +
        "WHEN MATCHED THEN DELETE"))
    assert(eSame.getMessage.contains("qualifiers"), eSame.getMessage)
    val eNames = intercept[IllegalArgumentException](r.run(
      "MERGE INTO ops.merge_edges t USING (SELECT 1 AS id, 1 AS b) s ON t.id = s.b " +
        "WHEN MATCHED THEN DELETE"))
    assert(eNames.getMessage.contains("t.<key> = s.<key>"), eNames.getMessage)
    assert(rowsOf(st).map(_._1) === Seq(1L, 2L, 3L))
    r.run("MERGE INTO ops.merge_edges t USING (SELECT 1 AS id) s ON (t.id = s.id) " +
      "WHEN MATCHED THEN DELETE")
    assert(rowsOf(st).map(_._1) === Seq(2L, 3L))
  }

  test("ALTER COLUMN … SET DATA TYPE widens like ALTER COLUMN … TYPE") {
    import spark.implicits._
    val root = Files.createTempDirectory("widen_spelling").toString
    val st = new graft.sources.SnapshotTable(spark, root)
    st.commit(Seq((1L, 7)).toDF("id", "c"))
    spark.conf.set("graft.snapshot.ops.widen_spelling", root)
    new SqlScriptRunner(spark)
      .run("ALTER TABLE ops.widen_spelling ALTER COLUMN c SET DATA TYPE bigint")
    assert(st.read().schema("c").dataType === org.apache.spark.sql.types.LongType)
    assert(st.read().as[(Long, Long)].collect().toSeq === Seq((1L, 7L)))
  }

  test("DELETE, UPDATE and INSERT … AT BRANCH write the branch; main never moves") {
    val st = targetsStore("branch_dml")
    st.createBranch("b", None)
    val r = new SqlScriptRunner(spark)
    val main = rowsOf(st)
    r.run("DELETE FROM ops.branch_dml AT BRANCH b WHERE id = 1")
    assert(rowsOf(st) === main)
    r.run("UPDATE ops.branch_dml AT BRANCH b SET note = upper(note) WHERE n >= 20")
    assert(rowsOf(st) === main)
    r.run("INSERT INTO ops.branch_dml AT BRANCH b (id, note, n) VALUES (4, 'd', 40)")
    assert(rowsOf(st) === main)
    import spark.implicits._
    assert(st.readBranch("b").orderBy("id").as[(Long, String, Long)].collect().toSeq ===
      Seq((2L, "B", 20L), (3L, "C", 30L), (4L, "d", 40L)))
  }

  test("a sql_merge-shaped MERGE on a merge_mode=mor store is one mor-merge commit") {
    import spark.implicits._
    val root = Files.createTempDirectory("sql_merge_shape").toString
    val st = new graft.sources.SnapshotTable(spark, root)
    st.commit(Seq.tabulate(20)(i => (i.toLong, i % 3, i * 1.5)).toDF("event_id", "user_id", "value"))
    spark.conf.set("graft.snapshot.ops.etl_shape", root)
    spark.conf.set("graft.snapshot.ops.etl_shape.key", "event_id")
    spark.conf.set("graft.snapshot.ops.etl_shape.delete_mode", "mor")
    spark.conf.set("graft.snapshot.ops.etl_shape.merge_mode", "mor")
    // 3 updates of existing keys and 2 new keys, from a temp view by name
    Seq((1L, 0, -1.0), (5L, 2, -5.0), (9L, 0, -9.0), (100L, 1, 1.0), (101L, 2, 2.0))
      .toDF("event_id", "user_id", "value").createOrReplaceTempView("etl_shape_src")
    val r = new SqlScriptRunner(spark)
    r.run("""MERGE INTO ops.etl_shape t USING etl_shape_src s ON t.event_id = s.event_id
        WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    val last = st.history().orderBy($"version".desc).limit(1).collect().head
    assert(last.getString(2) === "mor-merge")
    assert(last.getLong(3) === 22L)
    assert(spark.read.parquet(s"$root/v=1").count() === 5) // the delta only
    assert(st.read().filter($"value" < 0).count() === 3)
    r.run("DELETE FROM ops.etl_shape WHERE user_id = 2")
    val del = st.history().orderBy($"version".desc).limit(1).collect().head
    assert(del.getString(2) === "mor-delete")
    assert(del.getLong(3) === 15L) // every commit logs the table's row total
    assert(st.read().count() === 15L)
  }
}
