package graft.pipeline

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The reference's OWN industry .sql files (all 16, ~3,100 lines of Dremio
  * SQL) execute VERBATIM through SqlScriptRunner — no hand-translation —
  * and every view they declare evaluates. This is the switch-over contract:
  * a user of the reference can point their existing scripts at this engine.
  * Dialect gaps covered: CREATE FOLDER, PARTITION BY/DISTRIBUTE BY on
  * CREATE TABLE, bare VARCHAR, double-quoted identifiers, ARRAY[...]
  * literals, ARRAY_TO_STRING, 2/3-arg TO_DATE/TO_TIMESTAMP with Dremio
  * format tokens, AI_CLASSIFY/AI_GENERATE (incl. WITH SCHEMA ROW and the
  * multimodal tuple prompt), TABLE(LIST_FILES('@src/…')), GRANT, block
  * comments. */
class ReferenceScriptsSpec extends SparkSpec {

  private val dir = new java.io.File("/root/reference/industry-examples")

  /** The scripts directory; a test without it fails naming it. */
  private def scripts: java.io.File = {
    assert(dir.isDirectory, s"the reference scripts directory $dir is absent")
    dir
  }

  private def scriptText(name: String): String =
    new String(java.nio.file.Files.readAllBytes(
      new java.io.File(scripts, name).toPath), "UTF-8")

  private def dropTempViews(): Unit =
    spark.catalog.listTables().collect()
      .filter(_.tableType == "TEMPORARY").map(_.name)
      .foreach(spark.catalog.dropTempView(_))

  test("all 16 reference scripts run statement-for-statement; every view evaluates") {
    val files = scripts.listFiles().filter(_.getName.endsWith(".sql")).sortBy(_.getName)
    assert(files.length === 16)
    var totalStmts = 0
    var totalViews = 0
    files.foreach { f =>
      dropTempViews()
      val runner = new SqlScriptRunner(spark)
      val stmts = runner.statements(scriptText(f.getName))
      stmts.foreach { s =>
        try runner.run(s)
        catch { case e: Throwable =>
          fail(s"${f.getName}: statement failed: ${s.take(90)} :: ${e.getMessage}")
        }
      }
      totalStmts += stmts.length
      val views = spark.catalog.listTables().collect()
        .filter(_.tableType == "TEMPORARY").map(_.name)
      views.foreach { v =>
        try spark.table(v).limit(5).collect()
        catch { case e: Throwable =>
          fail(s"${f.getName}: view $v failed to evaluate: ${e.getMessage}")
        }
      }
      totalViews += views.length
    }
    dropTempViews()
    assert(totalStmts >= 200, s"expected the full 16-script surface, got $totalStmts")
    assert(totalViews >= 55, s"expected the declared view layer, got $totalViews")
  }

  test("clinicdata medallion semantics hold on the reference's own seed data") {
    dropTempViews()
    new SqlScriptRunner(spark).run(scriptText("clinicdata.sql"))
    // silver dedup: one row per encounter_id (raw has seeded duplicates)
    val cleaned = spark.table("dremio_clinicdata_silver_encounters_cleaned")
    assert(cleaned.count() === cleaned.select("encounter_id").distinct().count())
    val raw = spark.sql("SELECT count(*) FROM dremio.clinicdata.raw.encounters").head.getLong(0)
    assert(cleaned.count() < raw, "dedup must drop the seeded duplicate rows")
    // silver filter: only valid encounter types survive
    val types = spark.table("dremio_clinicdata_silver_encounters_filtered")
      .select("encounter_type").distinct().collect().map(_.getString(0)).toSet
    assert(types.subsetOf(Set("INPATIENT", "OUTPATIENT")))
    // gold rollups produce rows from the seed data
    assert(spark.table("dremio_clinicdata_gold_alos_by_department").count() > 0)
    assert(spark.table("dremio_clinicdata_gold_payer_mix_summary").count() > 0)
    dropTempViews()
    spark.sql("DROP TABLE IF EXISTS dremio.clinicdata.raw.encounters")
    spark.sql("DROP TABLE IF EXISTS dremio.clinicdata.raw.lab_results")
  }

  test("retail CTAS layers materialize as tables with clustering intent recorded") {
    dropTempViews()
    new SqlScriptRunner(spark).run(scriptText("retail.sql"))
    assert(spark.sql("SELECT count(*) FROM dremio.retail.silver.order_facts").head.getLong(0) > 0)
    assert(graft.sources.Catalog.recordedPartitionIntents.exists { case (t, c) =>
      t.contains("order_facts") && c.contains("DISTRIBUTE BY") })
    // gold rollup reads through the materialized silver tables
    assert(spark.sql("SELECT count(*) FROM dremio.retail.gold.daily_sales").head.getLong(0) > 0)
    dropTempViews()
  }
}
