package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.plans.{MaterializationSubstitution, Materializations}
import graft.sources.{Catalog, Ingest}

/** Pins the failure scenarios found in code review so they cannot regress. */
class ReviewRegressionSpec extends SparkSpec {

  test("refresh() twice with the substitution rule installed picks up new data") {
    import spark.implicits._
    val src = Files.createTempDirectory("refl_src").toFile.getAbsolutePath
    val wh = Files.createTempDirectory("refl_wh").toFile.getAbsolutePath
    Seq((1, 10.0), (2, 20.0)).toDF("k", "v").write.mode("overwrite").parquet(src)
    val m = new Materializations(spark, Some(wh))
    m.register("agg", () =>
      spark.read.parquet(src).agg(round(sum(col("v")), 2).as("total")))
    m.refresh("agg")
    MaterializationSubstitution.install(spark, m)
    try {
      assert(m.table("agg").head.getDouble(0) === 30.0)
      // source changes; the second refresh must NOT read its own stale
      // materialization through the substitution rule
      Seq((1, 10.0), (2, 20.0), (3, 70.0)).toDF("k", "v")
        .write.mode("overwrite").parquet(src)
      m.refresh("agg")
      assert(m.table("agg").head.getDouble(0) === 100.0)
    } finally {
      spark.experimental.extraOptimizations = Seq.empty
    }
  }

  test("copyInto maps columns by header name even when file order differs") {
    import spark.implicits._
    val dir = Files.createTempDirectory("copy_reorder").toFile
    // header order REVERSED relative to the table schema
    Files.write(new java.io.File(dir, "data.csv").toPath,
      "amount,name,id\n12.5,alpha,1\n20.0,beta,2\n".getBytes("UTF-8"))
    val wh = Files.createTempDirectory("wh2").toFile.getAbsolutePath
    spark.sql("DROP TABLE IF EXISTS reorder_t")
    spark.sql(s"CREATE TABLE reorder_t (id INT, name STRING, amount DOUBLE) USING parquet LOCATION '$wh/t'")
    Ingest.copyInto(spark, "reorder_t", dir.getAbsolutePath)
    val rows = spark.table("reorder_t").orderBy("id").collect()
    assert(rows(0).getInt(0) === 1 && rows(0).getString(1) === "alpha" && rows(0).getDouble(2) === 12.5)
    assert(rows(1).getInt(0) === 2 && rows(1).getString(1) === "beta" && rows(1).getDouble(2) === 20.0)
    // missing header column fails fast instead of silently null-filling
    val badDir = Files.createTempDirectory("copy_bad").toFile
    Files.write(new java.io.File(badDir, "data.csv").toPath,
      "id,name\n1,x\n".getBytes("UTF-8"))
    intercept[IllegalArgumentException](
      Ingest.copyInto(spark, "reorder_t", badDir.getAbsolutePath))
    spark.sql("DROP TABLE IF EXISTS reorder_t")
  }

  test("copyInto maps EACH file by its own header when orders differ across files") {
    val dir = Files.createTempDirectory("copy_mixed").toFile
    // two files, HEADERS IN DIFFERENT ORDER — a single multi-file csv read
    // would bind the second file positionally against the first's header
    Files.write(new java.io.File(dir, "a.csv").toPath,
      "id,name,amount\n1,alpha,12.5\n".getBytes("UTF-8"))
    Files.write(new java.io.File(dir, "b.csv").toPath,
      "amount,name,id\n20.0,beta,2\n".getBytes("UTF-8"))
    val wh = Files.createTempDirectory("wh_mixed").toFile.getAbsolutePath
    spark.sql("DROP TABLE IF EXISTS mixed_t")
    spark.sql(s"CREATE TABLE mixed_t (id INT, name STRING, amount DOUBLE) USING parquet LOCATION '$wh/t'")
    Ingest.copyInto(spark, "mixed_t", dir.getAbsolutePath)
    val rows = spark.table("mixed_t").orderBy("id").collect()
    assert(rows.length === 2)
    assert(rows(0).getInt(0) === 1 && rows(0).getString(1) === "alpha" && rows(0).getDouble(2) === 12.5)
    assert(rows(1).getInt(0) === 2 && rows(1).getString(1) === "beta" && rows(1).getDouble(2) === 20.0)
    spark.sql("DROP TABLE IF EXISTS mixed_t")
  }

  test("self-join over a materialized definition gets unique ids per leg") {
    import spark.implicits._
    val src = Files.createTempDirectory("selfjoin_src").toFile.getAbsolutePath
    val wh = Files.createTempDirectory("selfjoin_wh").toFile.getAbsolutePath
    Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("k", "v")
      .write.mode("overwrite").parquet(src)
    def definition() = spark.read.parquet(src)
      .groupBy(col("k")).agg(sum(col("v")).as("total"))
    val m = new Materializations(spark, Some(wh))
    m.register("per_k", definition _)
    m.refresh("per_k")
    MaterializationSubstitution.install(spark, m)
    try {
      val a = definition().as("a")
      val b = definition().as("b")
      // both legs substitute to the SAME materialization — each must carry
      // fresh ExprIds or the join condition is ambiguous / the plan invalid.
      // (Join on the AGG OUTPUT: a key-equi condition would infer isnotnull
      // filters below the aggregates and defeat whole-subtree matching.)
      def q = a.join(b, col("a.total") * 2 === col("b.total"))
        .select(col("a.k").as("k"), col("a.total").as("t1"), col("b.total").as("t2"))
      val joined = q.orderBy("k").collect()
      assert(joined.map(r => (r.getInt(0), r.getDouble(1), r.getDouble(2))).toSeq
        === Seq((1, 10.0, 20.0)))
      // and the materialized scan really is served on both legs: the raw
      // aggregate must be gone from the physical plan
      val phys = q.queryExecution.executedPlan.toString
      assert(!phys.contains("HashAggregate"), s"aggregate not substituted:\n$phys")
    } finally {
      spark.experimental.extraOptimizations = Seq.empty
    }
  }

  test("saltedEquiJoin rejects right/full joins that would duplicate rows") {
    import spark.implicits._
    val l = Seq((1, "a")).toDF("k", "lv")
    val r = Seq((1, "x"), (2, "y")).toDF("k", "rv")
    intercept[IllegalArgumentException](
      graft.ops.ScaleOps.saltedEquiJoin(l, r, "k", 4, "right"))
    intercept[IllegalArgumentException](
      graft.ops.ScaleOps.saltedEquiJoin(l, r, "k", 4, "full_outer"))
    // left_semi stays correct under salting: replicas exist for every salt
    val semi = graft.ops.ScaleOps.saltedEquiJoin(l, r, "k", 4, "left_semi")
    assert(semi.collect().map(_.getInt(0)).toSeq === Seq(1))
  }

  test("truncate empties a PARTITIONED table even under dynamic overwrite mode") {
    import spark.implicits._
    val wh = Files.createTempDirectory("wh3").toFile.getAbsolutePath
    val prev = spark.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      spark.sql("DROP TABLE IF EXISTS part_t")
      spark.sql(s"CREATE TABLE part_t (id INT, p STRING) USING parquet PARTITIONED BY (p) LOCATION '$wh/t'")
      Seq((1, "a"), (2, "b")).toDF("id", "p")
        .write.mode("append").insertInto("part_t")
      assert(spark.table("part_t").count() === 2)
      Catalog.truncate(spark, "part_t")
      assert(spark.table("part_t").count() === 0)
      // the pinned mode is restored afterwards
      assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode") === "dynamic")
      spark.sql("DROP TABLE IF EXISTS part_t")
    } finally {
      prev match {
        case Some(v) => spark.conf.set("spark.sql.sources.partitionOverwriteMode", v)
        case None => spark.conf.unset("spark.sql.sources.partitionOverwriteMode")
      }
    }
  }

  test("r19 review: renaming a column that STANDING equality-delete files " +
      "key on keeps the chain readable (keys resolve by field id against " +
      "the delete file's write-time name)") {
    import spark.implicits._
    import graft.sources.{IcebergExport, SnapshotTable}
    val root = Files.createTempDirectory("rr_eqren_s").toFile.getAbsolutePath
    val dest = Files.createTempDirectory("rr_eqren_t").toFile.getAbsolutePath
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))
    IcebergExport.syncStore(spark, root, dest)
    st.deleteWhereMor(col("k") === 2L, "k") // standing eq-delete file on k
    IcebergExport.syncStore(spark, root, dest)
    st.renameColumn("k", "key")
    st.commit(Seq((4L, "d")).toDF("key", "v"), op = "append")
    IcebergExport.syncStore(spark, root, dest)
    val back = IcebergExport.readTable(spark, dest)
    assert(back.columns.toSeq === Seq("key", "v"))
    assert(back.select("key").as[Long].collect().sorted === Array(1L, 3L, 4L),
      "the pre-rename delete file must still apply")
    // the inverse mirror stays consistent too
    val mirror = Files.createTempDirectory("rr_eqren_m").toFile.getAbsolutePath
    IcebergExport.syncFromTable(spark, dest, mirror)
    assert(new SnapshotTable(spark, mirror).read().except(back).isEmpty)
  }

  test("r19 review: a REPEATED identical swap mirrors every time (temp " +
      "names scope to the snapshot, not the whole history)") {
    import spark.implicits._
    import graft.sources.{IcebergExport, SnapshotTable}
    val dest = Files.createTempDirectory("rr_swap_t").toFile.getAbsolutePath
    val store = Files.createTempDirectory("rr_swap_s").toFile.getAbsolutePath
    IcebergExport.export(Seq((1L, 10L, 100L)).toDF("id", "a", "b"), dest)
    IcebergExport.syncFromTable(spark, dest, store)
    def swap(row: (Long, Long, Long)): Unit =
      IcebergExport.exportInternal(
        Seq(row).toDF("id", "b", "a").select(col("id"), col("b"), col("a")),
        dest, Nil, overwrite = false, Map.empty,
        renames = Map("a" -> "b", "b" -> "a"))
    swap((2L, 11L, 101L)) // a<->b
    IcebergExport.syncFromTable(spark, dest, store)
    swap((3L, 12L, 102L)) // back
    IcebergExport.syncFromTable(spark, dest, store)
    swap((4L, 13L, 103L)) // the IDENTICAL swap again
    IcebergExport.syncFromTable(spark, dest, store)
    val st = new SnapshotTable(spark, store)
    val back = IcebergExport.readTable(spark, dest)
    assert(st.read().except(back).isEmpty && back.except(st.read()).isEmpty,
      "third swap must apply — history ops from the first must not mask it")
  }

  test("r19 review: a DEEP nested add (subfield inside a nested struct) " +
      "mirrors through syncFromTable as a dotted-path evolve commit") {
    import spark.implicits._
    import graft.sources.{IcebergExport, SnapshotTable}
    val dest = Files.createTempDirectory("rr_deep_t").toFile.getAbsolutePath
    val store = Files.createTempDirectory("rr_deep_s").toFile.getAbsolutePath
    IcebergExport.export(Seq((1L, 10L, 7L)).toDF("id", "a", "x")
      .select(col("id"), struct(col("a"),
        struct(col("x")).as("inner")).as("nest")), dest)
    IcebergExport.syncFromTable(spark, dest, store)
    // inner gains y mid-chain
    IcebergExport.export(Seq((2L, 20L, 8L, "y2")).toDF("id", "a", "x", "y")
      .select(col("id"), struct(col("a"),
        struct(col("x"), col("y")).as("inner")).as("nest")), dest)
    IcebergExport.syncFromTable(spark, dest, store)
    val st = new SnapshotTable(spark, store)
    val mops = st.history().select("operation").collect().map(_.getString(0))
    assert(!mops.contains("overwrite"), s"deep add must not fold: ${mops.toSeq}")
    val back = IcebergExport.readTable(spark, dest)
    assert(st.read().except(back).isEmpty && back.except(st.read()).isEmpty)
    assert(st.read().filter(col("id") === 1L)
      .select(col("nest.inner.y")).as[Option[String]].collect() === Array(None))
  }

  test("r19 review: rename + same-export re-add of the OLD name mints a " +
      "FRESH id for the re-add (never two fields on one id)") {
    import spark.implicits._
    import graft.sources.IcebergExport
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    val dest = Files.createTempDirectory("rr_renadd_t").toFile.getAbsolutePath
    IcebergExport.export(Seq((1L, 10L)).toDF("id", "a"), dest)
    IcebergExport.exportInternal(
      Seq((2L, 20L, 30L)).toDF("id", "b", "a")
        .select(col("id"), col("b"), col("a")),
      dest, Nil, overwrite = false, Map.empty, renames = Map("a" -> "b"))
    val meta = org.json4s.jackson.JsonMethods.parse(java.nio.file.Files
      .readString(java.nio.file.Paths.get(s"$dest/metadata/v2.metadata.json")))
    val cur = (meta \ "schemas").children.maxBy(s =>
      (s \ "schema-id").extract[Int])
    val ids = (cur \ "fields").children.map(f => (f \ "id").extract[Int])
    assert(ids.distinct.size === ids.size, s"duplicate field ids: $ids")
    // old a's history reads under b; the re-added a is null for old rows
    val back = IcebergExport.readTable(spark, dest)
    assert(back.select("id", "b", "a").as[(Long, Long, Option[Long])]
      .collect().sortBy(_._1)
      === Array((1L, 10L, None), (2L, 20L, Some(30L))))
  }

  test("r19 review: on a PARTITIONED chain, delete manifests reference an " +
      "UNPARTITIONED spec (their entries carry empty partition records)") {
    import spark.implicits._
    import graft.sources.IcebergExport
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    val dest = Files.createTempDirectory("rr_delspec_t").toFile.getAbsolutePath
    IcebergExport.export(Seq((1L, "us"), (2L, "de")).toDF("id", "region"),
      dest, partitionBy = Seq("region"))
    IcebergExport.appendEqualityDeletes(spark, dest,
      Seq(Tuple1(2L)).toDF("id"), Seq("id"))
    val hint = java.nio.file.Files.readString(java.nio.file.Paths.get(
      s"$dest/metadata/version-hint.text")).trim
    val meta = org.json4s.jackson.JsonMethods.parse(java.nio.file.Files
      .readString(java.nio.file.Paths.get(
        s"$dest/metadata/v$hint.metadata.json")))
    assert((meta \ "partition-specs").children.exists(s =>
      (s \ "fields").children.isEmpty),
      "an unpartitioned spec must exist for the delete manifest")
    assert((meta \ "default-spec-id").extract[Int] === 0,
      "the data spec stays the default")
    assert(IcebergExport.readTable(spark, dest)
      .select("id").as[Long].collect() === Array(1L))
  }

  test("r19 review (r20 upgrade): a DataFrame view inside ViewSql's " +
      "verified grammar EXPORTS its derived SQL; one outside it still " +
      "invalidates the recording (case-insensitively) and export refuses " +
      "with the remedy — never a stale definition") {
    import spark.implicits._
    import graft.sources.{Catalog => C, IcebergViews}
    Seq((1L, "a"), (2L, "b")).toDF("id", "v")
      .createOrReplaceTempView("rr_view_src")
    C.createOrReplaceView(spark, "rr_stale_v",
      "SELECT count(*) AS n FROM rr_view_src")
    assert(C.recordedViewSql(spark).contains("rr_stale_v"))
    // a DataFrame REPLACE whose plan is derivable (project+filter over a
    // named view) records the DERIVED canonical SQL — arriving under a
    // DIFFERENT case (temp-view names are case-insensitive)
    C.createOrReplaceView(spark, "RR_STALE_V",
      spark.table("rr_view_src").filter(col("id") > 1L).select("id"))
    val derived = C.recordedViewSql(spark).get("rr_stale_v")
    assert(derived.isDefined, "the derivable DataFrame view must record SQL")
    val root = Files.createTempDirectory("rr_stale_r").toFile.getAbsolutePath
    assert(IcebergViews.exportCatalogViews(spark, root, Seq("rr_stale_v"))
      === Seq("rr_stale_v"))
    assert(IcebergViews.readView(spark, s"$root/rr_stale_v")
      .as[Long].collect().toSeq === Seq(2L),
      "the exported derived definition must evaluate like the DataFrame")
    // an UNDERIVABLE replace (a local relation has no SQL spelling) drops
    // the recording, and export refuses with the re-create remedy
    C.createOrReplaceView(spark, "rr_stale_v", Seq(42L).toDF("n"))
    assert(!C.recordedViewSql(spark).contains("rr_stale_v"),
      "an underivable DataFrame replace must invalidate the recorded SQL")
    val e = intercept[IllegalArgumentException](
      IcebergViews.exportCatalogViews(spark,
        Files.createTempDirectory("rr_stale_r2").toFile.getAbsolutePath,
        Seq("rr_stale_v")))
    assert(e.getMessage.contains("re-create it"))
  }

  test("r19 review: an evolution the store cannot express fine-grained " +
      "(struct subfield REORDER) folds that snapshot to one overwrite — " +
      "content exact, sync never wedges — and later snapshots mirror fine") {
    import spark.implicits._
    import graft.sources.{IcebergExport, SnapshotTable}
    val dest = Files.createTempDirectory("rr_reord_t").toFile.getAbsolutePath
    val store = Files.createTempDirectory("rr_reord_s").toFile.getAbsolutePath
    IcebergExport.export(Seq((1L, 10L, "p")).toDF("id", "a", "b")
      .select(col("id"), struct(col("a"), col("b")).as("nest")), dest)
    IcebergExport.syncFromTable(spark, dest, store)
    // the chain REORDERS the struct's subfields (legal Iceberg — ids
    // resolve it); the store's nested adds are append-only, so this
    // snapshot must fold, not wedge
    IcebergExport.export(Seq((2L, 20L, "q")).toDF("id", "a", "b")
      .select(col("id"), struct(col("b"), col("a")).as("nest")), dest)
    IcebergExport.syncFromTable(spark, dest, store)
    val st = new SnapshotTable(spark, store)
    val ops1 = st.history().select("operation").collect().map(_.getString(0))
    assert(ops1.contains("overwrite"), s"reorder must fold: ${ops1.toSeq}")
    val back = IcebergExport.readTable(spark, dest)
    assert(st.read().except(back).isEmpty && back.except(st.read()).isEmpty)
    // the sync is NOT wedged: a later plain append mirrors O(delta)
    IcebergExport.export(Seq((3L, 30L, "r")).toDF("id", "a", "b")
      .select(col("id"), struct(col("b"), col("a")).as("nest")), dest)
    assert(IcebergExport.syncFromTable(spark, dest, store).size === 1)
    val back2 = IcebergExport.readTable(spark, dest)
    assert(st.read().except(back2).isEmpty && back2.except(st.read()).isEmpty)
    assert(st.read().count() === 3)
  }

  test("r19 review: a declared rename whose TARGET the frame does not " +
      "carry is inert — the source column keeps its field id and history") {
    import spark.implicits._
    import graft.sources.IcebergExport
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    val dest = Files.createTempDirectory("rr_inert_t").toFile.getAbsolutePath
    IcebergExport.export(Seq((1L, 10L)).toDF("id", "a"), dest)
    // stale renames map: target 'b' absent from the exported schema
    IcebergExport.exportInternal(Seq((2L, 20L)).toDF("id", "a"),
      dest, Nil, overwrite = false, Map.empty, renames = Map("a" -> "b"))
    val meta = org.json4s.jackson.JsonMethods.parse(java.nio.file.Files
      .readString(java.nio.file.Paths.get(s"$dest/metadata/v2.metadata.json")))
    assert((meta \ "schemas").children.size === 1,
      "an inert rename must not evolve the schema at all")
    assert(IcebergExport.readTable(spark, dest)
      .select("id", "a").as[(Long, Long)].collect().sorted
      === Array((1L, 10L), (2L, 20L)), "a's history must keep its values")
  }

  test("r20 review: a DEEP nested rename written with different " +
      "INTERMEDIATE case still mirrors as a chain rename (id carried), " +
      "not drop+add — the recorded evolve op canonicalizes every segment") {
    import spark.implicits._
    import graft.sources.{IcebergExport, SnapshotTable}
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    val root = Files.createTempDirectory("rr_deepcase_s").toFile.getAbsolutePath
    val dest = Files.createTempDirectory("rr_deepcase_t").toFile.getAbsolutePath
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((1L, 10L)).toDF("id", "a")
      .select(col("id"),
        struct(struct(col("a")).as("inner")).as("nest")), op = "append")
    IcebergExport.syncStore(spark, root, dest)
    // the user spells the intermediate segment in UPPER case — the store
    // surface is documented case-insensitive
    st.renameNestedColumn("nest", "INNER.a", "b")
    st.commit(Seq((2L, 20L)).toDF("id", "b")
      .select(col("id"),
        struct(struct(col("b")).as("inner")).as("nest")), op = "append")
    IcebergExport.syncStore(spark, root, dest)
    // the chain's CURRENT schema must carry b under a's ORIGINAL field id
    // (a rename), not a fresh id (drop+add would null pre-rename history)
    val hint = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dest/metadata/version-hint.text")).trim
    val meta = org.json4s.jackson.JsonMethods.parse(java.nio.file.Files
      .readString(java.nio.file.Paths.get(
        s"$dest/metadata/v$hint.metadata.json")))
    val schemas = (meta \ "schemas").children
    def innerFields(s: JValue) =
      ((s \ "fields").children.find(f =>
        (f \ "name").extract[String] == "nest").get \ "type" \ "fields")
        .children.find(f => (f \ "name").extract[String] == "inner").get \
        "type" \ "fields"
    val first = innerFields(schemas.head).children
      .map(f => (f \ "name").extract[String] -> (f \ "id").extract[Int]).toMap
    val cur = innerFields(schemas.last).children
      .map(f => (f \ "name").extract[String] -> (f \ "id").extract[Int]).toMap
    assert(cur.keySet === Set("b"))
    assert(cur("b") === first("a"),
      s"deep rename must carry a's id: first=$first cur=$cur")
    // and pre-rename history reads under the renamed subfield by id
    assert(IcebergExport.readTable(spark, dest)
      .select(col("id"), col("nest.inner.b")).as[(Long, Long)]
      .collect().sorted === Array((1L, 10L), (2L, 20L)))
  }

  test("r20 review: a nested PROMOTE from a nullable frame widens the " +
      "subfield to optional — the chain schema must never declare " +
      "required over files that hold nulls") {
    import spark.implicits._
    import graft.sources.IcebergExport
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    val dest = Files.createTempDirectory("rr_nreq_t").toFile.getAbsolutePath
    // v1: non-nullable int subfield (required in the schema json)
    IcebergExport.export(Seq((1L, 7)).toDF("id", "c")
      .select(col("id"), struct(col("c")).as("nest")).coalesce(1), dest)
    // v2: promote c int→long from a frame whose c is NULLABLE (holds null)
    IcebergExport.export(Seq((2L, Some(8L)), (3L, None)).toDF("id", "c")
      .select(col("id"), struct(col("c")).as("nest")).coalesce(1), dest)
    val meta = org.json4s.jackson.JsonMethods.parse(java.nio.file.Files
      .readString(java.nio.file.Paths.get(s"$dest/metadata/v2.metadata.json")))
    val curId = (meta \ "current-schema-id").extract[Int]
    val cur = (meta \ "schemas").children.find(s =>
      (s \ "schema-id").extract[Int] == curId).get
    val c = ((cur \ "fields").children.find(f =>
      (f \ "name").extract[String] == "nest").get \ "type" \ "fields")
      .children.find(f => (f \ "name").extract[String] == "c").get
    assert((c \ "type") === JString("long"))
    assert((c \ "required") === JBool(false),
      "the promoted subfield must become optional with the nullable frame")
    assert(IcebergExport.readTable(spark, dest)
      .select(col("id"), col("nest.c")).as[(Long, Option[Long])]
      .collect().sortBy(_._1)
      === Array((1L, Some(7L)), (2L, Some(8L)), (3L, None)))
  }
}
