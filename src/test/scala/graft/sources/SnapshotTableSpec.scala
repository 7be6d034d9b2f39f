package graft.sources

import java.nio.file.Files

import org.apache.spark.GraftTestBus
import org.apache.spark.sql.functions._

import graft.SparkSpec

class SnapshotTableSpec extends SparkSpec {

  test("commit / read latest / VERSION AS OF / history / append") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    val v0 = t.commit(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    val v1 = t.commit(Seq((1, "a2"), (2, "b"), (3, "c")).toDF("id", "v"))
    assert(v0 === 0L && v1 === 1L)
    assert(t.read().count() === 3)                       // latest
    assert(t.read(Some(0L)).count() === 2)               // VERSION AS OF 0
    val v2 = t.commit(Seq((4, "d")).toDF("id", "v"), op = "append")
    assert(t.read(Some(v2)).count() === 4)
    val h = t.history().collect()
    assert(h.length === 3)
    assert(h.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
    assert(h.map(_.getString(2)).toSeq === Seq("overwrite", "overwrite", "append"))
    // TIMESTAMP AS OF: at the first commit's timestamp → v0 content
    val t0 = h(0).getLong(1)
    assert(t.readAsOfTimestamp(t0).count() === 2)
  }

  test("expireSnapshots drops old versions; compact rewrites files") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap2").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    (1 to 4).foreach(i => t.commit(Seq.tabulate(i * 10)(j => (j, s"r$j")).toDF("id", "v")))
    val expired = t.expireSnapshots(keep = 2)
    assert(expired === Seq(0L, 1L))
    assert(t.history().count() === 2)
    assert(t.read().count() === 40)
    intercept[Exception](t.read(Some(0L)).count()) // expired version is gone
    val cv = t.compact(targetFiles = 1)
    assert(t.read(Some(cv)).count() === 40)
    assert(t.history().filter(col("operation") === "compact").count() === 1)
  }

  test("row-level DML: cow-delete ≡ mor-delete; update; merge upsert; rollback") {
    import spark.implicits._
    def seed = Seq((1L, "a", 10), (2L, "b", 20), (3L, "c", 30), (4L, "d", 40))
      .toDF("id", "v", "score")
    // COW and MOR deletes of the same predicate must read back identically.
    val cowRoot = Files.createTempDirectory("dml_cow").toFile.getAbsolutePath
    val morRoot = Files.createTempDirectory("dml_mor").toFile.getAbsolutePath
    val cow = new SnapshotTable(spark, cowRoot)
    val mor = new SnapshotTable(spark, morRoot)
    cow.commit(seed); mor.commit(seed)
    cow.deleteWhere(col("score") >= 30)
    mor.deleteWhereMor(col("score") >= 30, "id")
    val expectSurvivors = Set((1L, "a", 10), (2L, "b", 20))
    def rows(t: SnapshotTable) =
      t.read().as[(Long, String, Int)].collect().toSet
    assert(rows(cow) === expectSurvivors)
    assert(rows(mor) === expectSurvivors)
    // MOR wrote a delete FILE, not a rewritten table; the log records the
    // table's row total (the 2 survivors).
    val morMeta = mor.history().orderBy("version").collect()
    assert(morMeta.last.getString(2) === "mor-delete" && morMeta.last.getLong(3) === 2L)
    // the MOR read plan applies deletes as a broadcast anti-join (no shuffle
    // of the base data side).
    val plan = mor.read().queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"))
    // stacked MOR deletes resolve cumulatively; compact folds them into a base.
    mor.deleteWhereMor(col("id") === 2L, "id")
    assert(rows(mor) === Set((1L, "a", 10)))
    val cv = mor.compact(targetFiles = 1)
    assert(mor.read(Some(cv)).count() === 1)
    // time travel still reconstructs the pre-delete snapshot.
    assert(mor.read(Some(0L)).count() === 4)

    // UPDATE … SET … WHERE
    val up = new SnapshotTable(spark, Files.createTempDirectory("dml_up").toFile.getAbsolutePath)
    up.commit(seed)
    up.update(col("id") % 2 === 0, Map("v" -> concat(lit("u:"), col("v")), "score" -> (col("score") + 1)))
    assert(up.read().as[(Long, String, Int)].collect().toSet ===
      Set((1L, "a", 10), (2L, "u:b", 21), (3L, "c", 30), (4L, "u:d", 41)))

    // MERGE INTO: matched rows replaced, unmatched inserted.
    val mg = new SnapshotTable(spark, Files.createTempDirectory("dml_mg").toFile.getAbsolutePath)
    mg.commit(seed)
    mg.merge(Seq((2L, "B2", 200), (9L, "new", 90)).toDF("id", "v", "score"), "id")
    assert(mg.read().as[(Long, String, Int)].collect().toSet ===
      Set((1L, "a", 10), (2L, "B2", 200), (3L, "c", 30), (4L, "d", 40), (9L, "new", 90)))

    // ROLLBACK: head moves to old content as a NEW version; history preserved.
    val rb = mg.rollback(0L)
    assert(rb === 2L)
    assert(mg.read().as[(Long, String, Int)].collect().toSet === seed.as[(Long, String, Int)].collect().toSet)
    assert(mg.history().count() === 3)
  }

  test("changes() emits keyed insert/delete/update pre+post images") {
    import spark.implicits._
    val root = Files.createTempDirectory("dml_cdc").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    // v1: delete 3, update 2, insert 4; 1 untouched.
    t.commit(Seq((1L, "a"), (2L, "b2"), (4L, "d")).toDF("id", "v"))
    val ch = t.changes(0L, 1L, "id").as[(Long, String, String)].collect().toSet
    assert(ch === Set(
      (3L, "c", "delete"),
      (2L, "b", "update_preimage"),
      (2L, "b2", "update_postimage"),
      (4L, "d", "insert")))
    // unchanged snapshot pair → empty changelog.
    assert(t.changes(1L, 1L, "id").count() === 0)
  }

  test("expireSnapshots keeps the base a surviving mor-delete needs") {
    import spark.implicits._
    val root = Files.createTempDirectory("dml_exp").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")) // v0 base
    t.deleteWhereMor(col("id") === 1L, "id")                       // v1 mor
    t.deleteWhereMor(col("id") === 2L, "id")                       // v2 mor
    // keep=2 would cut at v1 (a mor-delete) — retention must extend to v0.
    val expired = t.expireSnapshots(keep = 2)
    assert(expired.isEmpty)
    assert(t.read().as[(Long, String)].collect().toSet === Set((3L, "c")))
    // after compaction the old base can go.
    t.compact(targetFiles = 1)                                     // v3 base
    val expired2 = t.expireSnapshots(keep = 1)
    assert(expired2 === Seq(0L, 1L, 2L))
    assert(t.read().as[(Long, String)].collect().toSet === Set((3L, "c")))
  }

  test("type widening: metadata-only, legal promotions only, time travel keeps narrow") {
    import spark.implicits._
    import org.apache.spark.sql.types.{IntegerType, LongType}
    val root = Files.createTempDirectory("widen").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((1, "a"), (2, "b")).toDF("id", "v")) // v0: id INT
    val filesBefore = java.nio.file.Files.list(
      java.nio.file.Paths.get(t.versionDir(0L))).count()
    t.alterColumnType("id", "bigint")                 // v1: metadata-only
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(t.versionDir(0L))).count() === filesBefore)
    assert(dataDirs(root).size === 1, "the metadata-only commit wrote a data dir")
    assert(t.read().schema("id").dataType === LongType)
    // values unchanged; a delta may now carry values beyond Int range
    t.commit(Seq((5000000000L, "c")).toDF("id", "v"), op = "append")
    assert(t.read().as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (5000000000L, "c")))
    // time travel BEFORE the widen keeps the original narrow schema
    assert(t.read(Some(0L)).schema("id").dataType === IntegerType)
    // illegal narrowing / unrelated conversions error at DDL time
    intercept[IllegalArgumentException](t.alterColumnType("id", "int"))
    intercept[IllegalArgumentException](t.alterColumnType("v", "bigint"))
    intercept[IllegalArgumentException](t.alterColumnType("nope", "bigint"))
    // CDC across the widening boundary: untouched rows emit NOTHING (the
    // widen must not make every row look rewritten)
    val diff = t.changes(0L, 2L, "id")
    assert(diff.filter(col("_change_type") =!= "insert").count() === 0)
    assert(diff.filter(col("_change_type") === "insert").count() === 1)
  }

  test("fastForward to a branch at a mor-delete version records the TABLE total") {
    import spark.implicits._
    val root = Files.createTempDirectory("ff_mor").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq.tabulate(10)(i => (i.toLong, s"v$i")).toDF("id", "v")) // v0: 10 rows
    t.deleteWhereMor(col("id") < 3L, "id")                              // v1: 3 KEYS
    t.createBranch("hold", at = Some(1L))
    val pub = t.fastForward("hold")
    // the publish entry must record the table total (7), not the
    // mor-delete's delete-KEY count (3)
    val pubRow = t.history().filter(col("version") === pub).collect().head
    assert(pubRow.getLong(3) === 7L)
    // and a later delta append inherits the right cumulative count
    t.commit(Seq((100L, "x")).toDF("id", "v"), op = "append")
    assert(t.history().orderBy("version").collect().last.getLong(3) === 8L)
    assert(t.read().count() === 8)
  }

  test("branches + tags: write-audit-publish keeps main clean until publish") {
    import spark.implicits._
    val root = Files.createTempDirectory("wap").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))          // main v0
    t.createTag("release-1")                                     // pin v0
    // stage candidate data on a branch: two commits (second appends)
    t.createBranch("wap")
    t.commitToBranch("wap", Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    t.commitToBranch("wap", Seq((4L, "d")).toDF("id", "v"), op = "append")
    // audit on the branch; main readers still see v0's content
    assert(t.readBranch("wap").count() === 4)
    assert(t.read().count() === 2)
    assert(t.currentVersion === Some(0L))
    // TIMESTAMP AS OF skips branch commits: latest main ≤ now is still v0
    assert(t.readAsOfTimestamp(System.currentTimeMillis()).count() === 2)
    // publish: metadata-only fast-forward — main's new head reads the
    // branch's data dir without copying it
    val dirsBefore = dataDirs(root)
    val pub = t.fastForward("wap")
    assert(t.read().count() === 4)
    assert(t.currentVersion === Some(pub))
    val pubOp = t.history().orderBy("version").collect().last.getString(2)
    // the branch head is a DELTA chain (its second commit appended), so the
    // publish is an `asof:` pointer; a full-data branch head publishes as an
    // `alias:` — both are metadata-only
    assert((pubOp.startsWith("alias:") || pubOp.startsWith("asof:")) &&
      pubOp.contains("publish-wap"))
    // the published pointer did not write its own data files
    assert(dataDirs(root) === dirsBefore)
    // tag still pins the pre-publish state; refs lists all three
    assert(t.readTag("release-1").count() === 2)
    assert(t.refs().count() === 2)
    intercept[IllegalArgumentException](t.createTag("release-1")) // immutable
    // a mor-delete on main AFTER branch commits resolves against the right
    // base (branch commits are not main lineage, not delete files)
    t.deleteWhereMor(col("id") === 4L, "id")
    assert(t.read().as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // expiry keeps what refs and aliases still reach
    val expired = t.expireSnapshots(keep = 2)
    assert(t.readTag("release-1").count() === 2)   // tag survives expiry
    assert(t.read().count() === 3)                  // alias target survives
    assert(!expired.contains(0L))
  }

  test("cow-delete keeps NULL-predicate rows (SQL DELETE semantics, ≡ mor)") {
    import spark.implicits._
    def fixture(): (String, SnapshotTable) = {
      val root = Files.createTempDirectory("dml_null").toFile.getAbsolutePath
      val t = new SnapshotTable(spark, root)
      t.commit(Seq((1L, Some(10)), (2L, None), (3L, Some(40)))
        .toDF("id", "score"))
      (root, t)
    }
    // score >= 30 is NULL for id=2 — SQL DELETE removes only TRUE matches
    val (_, cow) = fixture()
    cow.deleteWhere(col("score") >= 30)
    assert(cow.read().select("id").as[Long].collect().toSet === Set(1L, 2L))
    val (_, mor) = fixture()
    mor.deleteWhereMor(col("score") >= 30, "id")
    assert(mor.read().select("id").as[Long].collect().toSet === Set(1L, 2L))
  }

  test("expireSnapshots never treats a branch commit as a mor-delete base") {
    import spark.implicits._
    val root = Files.createTempDirectory("dml_branch_exp").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v")) // v0 base
    t.createBranch("staging")
    t.commitToBranch("staging", Seq((9L, "z")).toDF("id", "v"))    // v1 branch
    t.deleteWhereMor(col("id") === 1L, "id")                       // v2 mor
    // keep=2 cuts at v1 (a branch commit): the earliest kept MAIN entry is
    // the v2 mor-delete, whose real base v0 must be retained — a branch
    // commit is not a legal base.
    val expired = t.expireSnapshots(keep = 2)
    assert(!expired.contains(0L))
    assert(t.read().as[(Long, String)].collect().toSet ===
      Set((2L, "b"), (3L, "c")))
  }

  test("expiry never removes main's head, even behind trailing branch commits") {
    import spark.implicits._
    val root = Files.createTempDirectory("exp_head").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((1L, "a")).toDF("id", "v"))                       // v0 main
    t.createBranch("stage")
    t.commitToBranch("stage", Seq((2L, "b")).toDF("id", "v"))      // v1 branch
    t.commitToBranch("stage", Seq((3L, "c")).toDF("id", "v"))      // v2 branch
    // keep-window of 1 trailing entry is a branch commit; v0 is main's only
    // readable state and must survive both expiry forms
    t.expireSnapshots(keep = 1)
    assert(t.read().as[(Long, String)].collect().toSeq === Seq((1L, "a")))
    t.expireSnapshotsOlderThan(System.currentTimeMillis() + 1000000L)
    assert(t.read().as[(Long, String)].collect().toSeq === Seq((1L, "a")))
  }

  test("expiry keeps the last logged record, so no version number is reused") {
    import spark.implicits._
    val root = Files.createTempDirectory("exp_top").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((1L, "a")).toDF("id", "v"))                       // v0 main
    t.createBranch("stage")
    t.commitToBranch("stage", Seq((2L, "b")).toDF("id", "v"))      // v1 branch
    t.dropRef("stage")
    // v1 is reachable from nothing, but it is the last record
    assert(t.expireSnapshotsOlderThan(System.currentTimeMillis() + 1000000L) === Nil)
    assert(t.commit(Seq((3L, "c")).toDF("id", "v"), op = "append") === 2L)
    // once it is not the last, it expires
    assert(t.expireSnapshots(keep = 1) === Seq(1L))
    assert(t.read().as[(Long, String)].collect().toSet === Set((1L, "a"), (3L, "c")))
  }

  test("refs are validated: no tag→branch conversion, no corrupting names") {
    import spark.implicits._
    val root = Files.createTempDirectory("refs_val").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((1L, "a")).toDF("id", "v"))
    t.createTag("prod")
    // a tag may never become a movable branch
    intercept[IllegalArgumentException](t.createBranch("prod"))
    assert(t.readTag("prod").count() === 1)
    // a name with the log's delimiter would corrupt every later read
    intercept[IllegalArgumentException](t.createBranch("release,2026"))
    intercept[IllegalArgumentException](t.createTag("bad\nname"))
    t.createBranch("ok-branch") // sane names still fine
    assert(t.refs().count() === 2)
  }

  test("changes() spans a schema-evolution boundary (union schema, null-filled)") {
    import spark.implicits._
    val root = Files.createTempDirectory("cdc_evolve").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "text"))            // v0
    t.commit(Seq((3L, "c", "en")).toDF("id", "text", "lang"), "append") // v1
    val ch = t.changes(0L, 1L, "id").collect()
    assert(ch.map(_.getAs[String]("_change_type")).toSeq === Seq("insert"))
    val ins = ch.head
    assert(ins.getAs[Long]("id") === 3L && ins.getAs[String]("lang") === "en")
  }

  /** The store's data dirs (`data/<id>`), as sorted paths. */
  private def dataDirs(root: String): Seq[String] =
    Option(new java.io.File(root, "data").listFiles()).toSeq.flatten
      .filter(_.isDirectory).map(_.getPath).sorted

  private def filesOf(t: SnapshotTable, v: Long): Seq[String] =
    new java.io.File(t.versionDir(v)).listFiles().toSeq
      .map(_.getName).filterNot(n => n.startsWith("_") || n.startsWith("."))
      .sorted

  test("append commits are O(delta): only the delta's files are written, no re-scan") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap_delta").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq.tabulate(100)(i => (i.toLong, s"row$i")).toDF("id", "v"))
    val baseFiles = filesOf(t, 0L)
    t.commit(Seq((1000L, "new")).toDF("id", "v"), op = "append")
    // the base dir is byte-for-byte untouched; the new dir holds ONLY the delta
    assert(filesOf(t, 0L) === baseFiles)
    assert(dataDirs(root) === Seq(t.versionDir(0L), t.versionDir(1L)).sorted)
    assert(spark.read.parquet(t.versionDir(1L)).count() === 1)
    // the resolved head unions base + delta; time travel still serves v0 alone
    assert(t.read().count() === 101)
    assert(t.read(Some(0L)).count() === 100)
    // the commit log records the TOTAL from the write-time footer manifest —
    // commit() never ran a count() over the resolved table
    val h = t.history().orderBy("version").collect()
    assert(h.last.getString(2) === "append" && h.last.getLong(3) === 101L)
    // a second delta stacks; compact() folds the chain into one base
    t.commit(Seq((1001L, "new2")).toDF("id", "v"), op = "append")
    assert(t.read().count() === 102)
    val cv = t.compact(targetFiles = 1)
    assert(t.read(Some(cv)).count() === 102)
  }

  test("a same-schema delta chain plans as ONE scan node, not an N-way union") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap_batch").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    (1 to 4).foreach(i =>
      t.commit(Seq((100L + i, s"d$i")).toDF("id", "v"), op = "append"))
    val head = t.read()
    assert(head.count() === 6)
    // base scan + ONE batched multi-dir scan for the 4-delta run
    val scans = "Scan parquet".r.findAllIn(head.queryExecution.executedPlan.toString).length
    assert(scans === 2,
      s"expected 2 scan nodes (base + batched deltas), got $scans")
    // a schema-evolved delta breaks the run but still resolves correctly
    t.commit(Seq((200L, "e", 0.5)).toDF("id", "v", "q"), op = "append")
    assert(t.read().count() === 7)
    assert(t.read().columns.toSeq === Seq("id", "v", "q"))
  }

  test("schema evolution DDL is metadata-only; old versions keep their schemas") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap_evo").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((1L, "a", 10)).toDF("id", "txt", "n"))               // v0
    val dirsBefore = dataDirs(root)
    t.addColumn("score", "double")                                    // v1
    t.renameColumn("n", "n2")                                         // v2
    t.dropColumn("txt")                                               // v3
    // three evolution commits, ZERO new data dirs — nothing was rewritten
    assert(dataDirs(root) === dirsBefore)
    assert(t.read().columns.toSeq === Seq("id", "n2", "score"))
    assert(t.read(Some(0L)).columns.toSeq === Seq("id", "txt", "n"))
    // an O(delta) append after evolution carries the evolved schema; old
    // rows null-fill the added column
    t.commit(Seq((2L, 20, 0.5)).toDF("id", "n2", "score"), op = "append")
    val rows = t.read().orderBy("id").collect()
    assert(rows(0).getLong(0) === 1L && rows(0).getInt(1) === 10 && rows(0).isNullAt(2))
    assert(rows(1).getInt(1) === 20 && rows(1).getDouble(2) === 0.5)
    // CDC across the evolution reports only the genuinely new row
    val ch = t.changes(0L, 4L, "id").collect()
    assert(ch.map(_.getAs[String]("_change_type")).toSeq === Seq("insert"))
    // DDL validation fails fast
    intercept[IllegalArgumentException](t.addColumn("score", "double"))
    intercept[IllegalArgumentException](t.dropColumn("nope"))
    intercept[IllegalArgumentException](t.renameColumn("id", "score"))
  }

  test("rollback/publish over a delta chain is a metadata-only asof pointer") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap_asof").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq.tabulate(50)(i => (i.toLong, s"r$i")).toDF("id", "v")) // v0
    t.commit(Seq((900L, "d1")).toDF("id", "v"), op = "append")          // v1
    t.commit(Seq((1L, "tiny")).toDF("id", "v"))                         // v2 overwrite
    val dirsBefore = dataDirs(root)
    val rb = t.rollback(1L) // target is a delta CHAIN — no single dir to alias
    assert(dataDirs(root) === dirsBefore)                  // nothing copied
    assert(t.read().count() === 51)                        // v1's content restored
    val op = t.history().orderBy("version").collect().last.getString(2)
    assert(op.startsWith("asof:") && op.contains("rollback-to-1"))
    assert(rb === 3L)
    // a later mor-delete folds onto the asof-resolved base
    t.deleteWhereMor(col("id") === 900L, "id")
    assert(t.read().count() === 50)
  }

  test("expiry keeps every dir a delta chain reaches; compaction releases them") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap_dexp").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((1L, "a")).toDF("id", "v"))                       // v0 base
    t.commit(Seq((2L, "b")).toDF("id", "v"), op = "append")        // v1 delta
    t.commit(Seq((3L, "c")).toDF("id", "v"), op = "append")        // v2 delta
    // keep=1 cuts at v2, but v2's chain reaches v1 and v0 — nothing expires
    assert(t.expireSnapshots(keep = 1).isEmpty)
    assert(t.read().count() === 3)
    // after compaction the chain is folded and the old dirs can go
    t.compact(targetFiles = 1)                                     // v3 base
    assert(t.expireSnapshots(keep = 1) === Seq(0L, 1L, 2L))
    assert(t.read().count() === 3)
  }

  test("truncate-to-empty snapshots read back with schema (manifest-backed)") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap_empty").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((1L, "a")).toDF("id", "v"))
    t.deleteWhere(lit(true)) // scripted unqualified DELETE routes here
    assert(t.read().count() === 0)
    assert(t.read().columns.toSeq === Seq("id", "v"))
    // and the table is usable again: an append over the empty head works
    t.commit(Seq((2L, "b")).toDF("id", "v"), op = "append")
    assert(t.read().as[(Long, String)].collect().toSeq === Seq((2L, "b")))
  }

  test("OLDER_THAN expiry selects by timestamp, surviving a wall-clock step back") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths, StandardOpenOption}
    val root = Files.createTempDirectory("snap_clock").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((1L, "a")).toDF("id", "v"))                       // v0
    t.commit(Seq((2L, "b")).toDF("id", "v"))                       // v1
    t.commit(Seq((3L, "c")).toDF("id", "v"))                       // v2 head
    // simulate a clock step back between commits: v1 is NEWER than v2
    Seq(1000L, 5000L, 2000L).zipWithIndex.foreach { case (ts, v) =>
      val rec = Paths.get(root, "_graft_log", s"v=$v.rec")
      val p = JFiles.readString(rec).split(",", 3)
      JFiles.delete(rec)
      JFiles.writeString(rec, s"${p(0)},$ts,${p(2)}",
        StandardOpenOption.CREATE_NEW)
    }
    // cutoff 3000: v1 (ts 5000) was committed AFTER the cutoff and must
    // survive even though it sits positionally before the head — a
    // positional keep-count mapping would have expired it
    val expired = t.expireSnapshotsOlderThan(3000L)
    assert(expired === Seq(0L))
    assert(t.read(Some(1L)).count() === 1)   // v1 still readable
    assert(t.read().count() === 1)           // head intact
  }

  test("composite-key equality deletes anti-join on every key column") {
    import spark.implicits._
    val root = Files.createTempDirectory("mor_comp").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((1L, "en", "a"), (1L, "de", "b"), (2L, "en", "c"))
      .toDF("id", "lang", "v"))
    // (id, lang) is the identifier: deleting (1, de) must keep (1, en)
    t.deleteWhereMor(col("id") === 1L && col("lang") === "de", Seq("id", "lang"))
    assert(t.read().as[(Long, String, String)].collect().toSet ===
      Set((1L, "en", "a"), (2L, "en", "c")))
    // the delete file carries BOTH key columns
    assert(spark.read.parquet(t.versionDir(1L)).columns.toSeq === Seq("id", "lang"))
  }

  test("composite-key mor-update keeps base rows sharing only the FIRST key part") {
    import spark.implicits._
    val root = Files.createTempDirectory("up_comp").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((1L, "en", "a"), (1L, "de", "b"), (2L, "en", "c"))
      .toDF("id", "lang", "v"))
    // (id, lang) identifies rows; updating (1, de) must NOT drop (1, en) —
    // an anti-join on id alone would silently lose it (review finding)
    t.updateMor(col("id") === 1L && col("lang") === "de",
      Map("v" -> lit("B2")), Seq("id", "lang"))
    assert(t.read().as[(Long, String, String)].collect().toSet ===
      Set((1L, "en", "a"), (1L, "de", "B2"), (2L, "en", "c")))
    // and compact() persists the SAME content into the new full base
    t.compact(targetFiles = 1)
    assert(t.read().as[(Long, String, String)].collect().toSet ===
      Set((1L, "en", "a"), (1L, "de", "B2"), (2L, "en", "c")))
  }

  test("mor-update refuses to reassign the key column (review finding)") {
    import spark.implicits._
    val root = Files.createTempDirectory("up_key").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    // reassigning the identifier would capture the NEW key as the delete key
    // and leave the old row live — must fail loudly, never corrupt
    intercept[IllegalArgumentException](
      t.updateMor(col("id") === 1L, Map("id" -> lit(100L)), "id"))
    assert(t.read().count() === 2) // nothing committed
  }

  test("a store whose _graft_format is missing or another value is refused, " +
      "naming the root") {
    import spark.implicits._
    import java.nio.file.{Files => JFiles, Paths}
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    def dir() = Files.createTempDirectory("snap_format").toFile.getAbsolutePath
    val (local, remote) = (dir(), dir())
    Seq(local -> local, s"graftfs://$remote" -> remote).foreach { case (root, path) =>
      val stamp = Paths.get(path, "_graft_format")
      new SnapshotTable(spark, root).commit(Seq((1L, "a")).toDF("id", "v"))
      assert(JFiles.readString(stamp).trim === SnapshotTable.FormatVersion)
      def refusal(): String = intercept[IllegalStateException](
        new SnapshotTable(spark, root).read().collect()).getMessage
      JFiles.delete(stamp)
      val missing = refusal()
      assert(missing.contains(root) && missing.contains("no _graft_format"), missing)
      // "1" is the layout before the partition tuples became the spec's,
      // "2" the one with `v=N` dirs and a shared log file
      Seq("0", "1", "2").foreach { old =>
        JFiles.writeString(stamp, old + "\n")
        val other = refusal()
        assert(other.contains(root) && other.contains(s"'$old'") &&
          other.contains(s"'${SnapshotTable.FormatVersion}'"), other)
      }
      JFiles.writeString(stamp, SnapshotTable.FormatVersion + "\n")
      assert(new SnapshotTable(spark, root).read().count() === 1)
    }
  }

  test("mor-update writes only the changed rows + keys; reads resolve ≡ cow") {
    import spark.implicits._
    def seed = Seq.tabulate(100)(i => (i.toLong, s"text$i", i % 7)).toDF("id", "txt", "k")
    val morRoot = Files.createTempDirectory("up_mor").toFile.getAbsolutePath
    val cowRoot = Files.createTempDirectory("up_cow").toFile.getAbsolutePath
    val mor = new SnapshotTable(spark, morRoot)
    val cow = new SnapshotTable(spark, cowRoot)
    mor.commit(seed); cow.commit(seed)
    val setExpr = Map("txt" -> concat(lit("RED:"), col("id").cast("string")))
    mor.updateMor(col("id") % 10 === 0, setExpr, "id")
    cow.update(col("id") % 10 === 0, setExpr)
    // identical read-back
    def rows(t: SnapshotTable) = t.read().as[(Long, String, Int)].collect().toSet
    assert(rows(mor) === rows(cow))
    assert(rows(mor).count(_._2.startsWith("RED:")) === 10)
    // O(changed): the mor commit's version dir holds 10 replacement rows
    // (plus their keys in the hidden _graft_deletes file), not a 100-row copy
    assert(spark.read.parquet(mor.versionDir(1L)).count() === 10)
    assert(spark.read.parquet(s"${mor.versionDir(1L)}/_graft_deletes")
      .as[Long].collect().toSet === (0L until 100L by 10).toSet)
    // the commit log records the UNCHANGED table total for the update
    assert(mor.history().orderBy("version").collect().last.getLong(3) === 100L)
    // plan: base scan ▷ broadcast anti ▷ union — no table-side shuffle
    val plan = mor.read().queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti") &&
      !plan.contains("SortMergeJoin"), s"mor-update read shuffled:\n$plan")
    // stacked mutations fold correctly; a no-match update is a no-op commit
    mor.deleteWhereMor(col("k") === 3, "id")
    cow.deleteWhere(col("k") === 3)
    assert(rows(mor) === rows(cow))
    mor.updateMor(col("id") === 99999L, setExpr, "id")
    assert(rows(mor) === rows(cow))
    // compaction folds replacements + deletes into one base
    mor.compact(targetFiles = 1)
    assert(rows(mor) === rows(cow))
    // time travel still reconstructs the pre-update snapshot
    assert(mor.read(Some(0L)).as[(Long, String, Int)].collect().toSet ===
      seed.as[(Long, String, Int)].collect().toSet)
  }

  test("mor-merge: one delta-sized commit, read-back ≡ cow mergeInto") {
    import spark.implicits._
    def seed = Seq.tabulate(100)(i =>
      (i.toLong, if (i % 2 == 0) "en" else "de", s"text$i")).toDF("id", "lang", "txt")
    val morRoot = Files.createTempDirectory("mm_mor").toFile.getAbsolutePath
    val cowRoot = Files.createTempDirectory("mm_cow").toFile.getAbsolutePath
    val mor = new SnapshotTable(spark, morRoot)
    val cow = new SnapshotTable(spark, cowRoot)
    mor.commit(seed); cow.commit(seed)
    // source: 10 matched keys (5 even→en→update, 5 odd→de→delete) + 3 inserts
    def src = Seq.tabulate(10)(i => ((i * 5).toLong, s"S$i"))
      .toDF("id", "stxt")
      .unionByName(Seq((900L, "N1"), (901L, "N2"), (902L, "N3")).toDF("id", "stxt"))
    val matched = Seq(
      (Some(col("lang") === "en"),
        Some(Map("txt" -> concat(lit("UP:"), col("__src_stxt"))))),
      (None, None)) // WHEN MATCHED THEN DELETE
    val notMatched = Seq((None: Option[org.apache.spark.sql.Column],
      Some(Map("id" -> col("__src_id"), "lang" -> lit("xx"),
        "txt" -> col("__src_stxt")))))
    mor.mergeIntoMor(src, "id", matched, notMatched)
    cow.mergeInto(src, "id", matched, notMatched)
    def rows(t: SnapshotTable) = t.read().as[(Long, String, String)].collect().toSet
    assert(rows(mor) === rows(cow))
    assert(rows(mor).count(_._3.startsWith("UP:")) === 5)
    assert(rows(mor).count(_._2 == "xx") === 3)
    assert(rows(mor).size === 98) // 100 - 5 deleted + 3 inserted
    // O(source) file footprint: the mor version dir holds 5 updated copies
    // + 3 inserts; the cow dir holds the whole 98-row table
    assert(spark.read.parquet(mor.versionDir(1L)).count() === 8)
    assert(spark.read.parquet(s"${mor.versionDir(1L)}/_graft_deletes")
      .as[Long].collect().toSet === (0L until 50L by 5).toSet) // 10 claimed keys
    assert(spark.read.parquet(cow.versionDir(1L)).count() === 98)
    // the commit log records the RESULTING total
    assert(mor.history().orderBy("version").collect().last.getLong(3) === 98L)
    // read plan: base scan ▷ broadcast anti ▷ union — no table-side shuffle
    val plan = mor.read().queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && !plan.contains("SortMergeJoin"),
      s"mor-merge read shuffled:\n$plan")
    // unclaimed matched rows stayed in the base untouched; time travel holds
    assert(mor.read(Some(0L)).count() === 100)
    // compaction folds the merge into a new full base, content preserved
    mor.compact(targetFiles = 1)
    assert(rows(mor) === rows(cow))
  }

  test("insert-only mor-merge (nothing matched) still appends its rows") {
    import spark.implicits._
    val root = Files.createTempDirectory("mm_ins").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((1L, "a")).toDF("id", "v"))
    t.mergeIntoMor(Seq((50L, "n")).toDF("id", "v"), "id",
      matched = Seq((None, Some(Map("v" -> col("__src_v"))))),
      notMatched = Seq((None, None))) // INSERT *
    assert(t.read().as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (50L, "n")))
    assert(t.history().orderBy("version").collect().last.getLong(3) === 2L)
  }

  test("mor-merge over duplicate-keyed base rows logs what readers see") {
    import spark.implicits._
    val root = Files.createTempDirectory("mm_dup").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))               // v0
    t.commit(Seq((2L, "b2"), (3L, "c")).toDF("id", "v"), op = "append") // v1:
    assert(t.read().count() === 4) // id=2 now has TWO base copies
    // source updates id=2 (BOTH copies are claimed, each emits an updated
    // replacement; the equality-delete key removes both) and inserts id=9
    t.mergeIntoMor(Seq((2L, "B"), (9L, "i")).toDF("id", "v"), "id",
      matched = Seq((None, Some(Map("v" -> col("__src_v"))))),
      notMatched = Seq((None, None)))
    // 4 base rows - 2 removed (one key, two rows) + 3 written (2 updated
    // copies + 1 insert) = 5; the LOGGED total must match the read-back
    // (the r12 bug subtracted distinct keys, logging 6)
    assert(t.read().count() === 5)
    assert(t.history().orderBy("version").collect().last.getLong(3) === 5L)
    // later appends derive their cumulative counts from that entry
    t.commit(Seq((10L, "z")).toDF("id", "v"), op = "append")
    assert(t.read().count() === 6)
    assert(t.history().orderBy("version").collect().last.getLong(3) === 6L)
  }

  test("mor-merge reads its target once: rows read stay within the table " +
      "plus the source, and the job count is bounded") {
    import spark.implicits._
    val root = Files.createTempDirectory("mm_once").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    val tableRows = 4000
    t.commit(Seq.tabulate(tableRows)(i => (i.toLong, s"v$i")).toDF("id", "v")
      .repartition(8))
    assert(t.readManifest(0L)._2.size === 8)
    // 30 updates of existing keys + 20 inserts
    val src = (Seq.tabulate(30)(i => ((i * 100).toLong, s"u$i")) ++
      Seq.tabulate(20)(i => ((tableRows + i).toLong, s"n$i"))).toDF("id", "v")
    val sc = spark.sparkContext
    val (jobs, (rowsRead, _)) = GraftTestBus.jobsDuring(sc)(
      GraftTestBus.rowsReadDuring(sc)(
        t.mergeIntoMor(src, "id",
          matched = Seq((None, Some(Map("v" -> col("__src_v"))))),
          notMatched = Seq((None, None)))))
    assert(rowsRead <= tableRows + 50,
      s"the merge read $rowsRead rows of a $tableRows-row table and a 50-row source")
    assert(jobs <= 12, s"the merge launched $jobs jobs")
    assert(t.read().count() === tableRows + 20)
    assert(t.read().filter(col("id") === 100L).select("v").as[String].collect()
      === Array("u1"))
    assert(t.history().orderBy("version").collect().last.getLong(3) ===
      tableRows + 20L)
  }

  test("mor-merge releases its matched slice after a commit and after a " +
      "failed one") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfault.impl", classOf[GraftFaultFs].getName)
    val dir = Files.createTempDirectory("mm_release")
    val t = new SnapshotTable(spark, s"graftfault://$dir")
    t.commit(Seq.tabulate(100)(i => (i.toLong, s"v$i")).toDF("id", "v"))
    def merge(tag: String) = t.mergeIntoMor(
      Seq((1L, tag), (2L, tag), (500L, tag)).toDF("id", "v"), "id",
      matched = Seq((None, Some(Map("v" -> col("__src_v"))))),
      notMatched = Seq((None, None)))
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val before = persisted
    merge("a")
    assert(persisted -- before === Set.empty[Int], "the committed merge left a cached slice")
    // the first create (the data write's first task file) and every later
    // write fails, the stage's clean-up included
    GraftFaultFs.arm(1)
    try intercept[Exception](merge("b")) finally GraftFaultFs.disarm()
    assert(persisted -- before === Set.empty[Int], "the failed merge left a cached slice")
    assert(t.history().count() === 2)
    assert(t.read().filter(col("id") === 1L).select("v").as[String].collect()
      === Array("a"))
  }

  test("commit-time footer stats equal an independent footer read, in the " +
      "store's manifest and in its Iceberg export") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val conf = spark.sparkContext.hadoopConfiguration
    // the options-free open: slow (a fresh Hadoop configuration per call),
    // but independent of the store's footer reader
    def footer(p: String) = {
      val r = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(p), conf))
      try r.getFooter finally r.close()
    }
    def rowsOf(f: org.apache.parquet.hadoop.metadata.ParquetMetadata) =
      f.getBlocks.asScala.map(_.getRowCount).sum
    val root = Files.createTempDirectory("footer_stats").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    val t0 = java.sql.Timestamp.valueOf("2025-03-01 00:00:00").getTime
    t.commitPartitioned(Seq.tabulate(200)(i =>
        (i.toLong, new java.sql.Timestamp(t0 + i * 3600L * 1000), s"s${i % 37}"))
      .toDF("id", "ts", "s").coalesce(1), Seq("days(ts)", "bucket(4, id)"))
    val files = t.readManifest(0L)._2
    assert(files.size > 8, s"expected day x bucket files, got ${files.size}")
    // each file's id range and row count once more, from its rows (one scan)
    val scanned = spark.read.parquet(t.versionDir(0L)).groupBy(input_file_name())
      .agg(min("id"), max("id"), count(lit(1))).collect().toSeq
      .map(r => r.getString(0) -> ((r.getLong(1).toString, r.getLong(2).toString), r.getLong(3)))
    assert(scanned.size === files.size)
    files.foreach { f =>
      val path = s"${t.versionDir(0L)}/${f.name}"
      val ft = footer(path)
      assert(f.records === rowsOf(ft), f.name)
      val own = SnapshotTable.footerColumnStats(ft)
      // Spark writes ts as INT96, which carries no usable footer stats; its
      // manifest range comes from the day partition path
      assert(own.keySet === Set("id", "s") && f.stats.contains("ts"), f.name)
      own.foreach { case (c, range) => assert(f.stats.get(c) === Some(range), s"${f.name} $c") }
      val (range, n) = scanned.collectFirst { case (p, v) if p.endsWith(f.name) => v }.get
      assert(f.stats("id") === range && f.records === n, f.name)
    }
    assert(files.map(_.records).sum === 200L)

    val dest = Files.createTempDirectory("footer_stats_ice").toFile.getAbsolutePath
    IcebergExport.syncStore(spark, root, dest)
    def le(b: java.nio.ByteBuffer) =
      b.duplicate().order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
    val manifests = new java.io.File(s"$dest/metadata").listFiles().toSeq
      .filter(m => m.getName.endsWith(".avro") && !m.getName.startsWith("snap-"))
    val entries = manifests.flatMap { m =>
      val rd = new org.apache.avro.file.DataFileReader(m,
        new org.apache.avro.generic.GenericDatumReader[
          org.apache.avro.generic.GenericData.Record]())
      try rd.iterator().asScala.map(_.get("data_file")
        .asInstanceOf[org.apache.avro.generic.GenericData.Record]).toList
      finally rd.close()
    }
    entries.foreach { d =>
      val path = d.get("file_path").toString
      val ft = footer(path)
      assert(d.get("record_count") === rowsOf(ft), path)
      def bound(field: String) = d.get(field).asInstanceOf[java.util.List[_]]
        .asScala.map(_.asInstanceOf[org.apache.avro.generic.GenericRecord])
        .find(_.get("key") == 1) // the id column's field id
        .map(kv => le(kv.get("value").asInstanceOf[java.nio.ByteBuffer]).toString)
      val (lo, hi) = SnapshotTable.footerColumnStats(ft)("id")
      assert(bound("lower_bounds") === Some(lo) && bound("upper_bounds") === Some(hi), path)
    }
    assert(entries.map(_.get("record_count").asInstanceOf[Long]).sum === 200L)
  }

  test("column-level mergeInto: first-match-wins clauses, no target shuffle") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap_mrg").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "tag", "score"))
    val src = Seq((1L, 5L), (2L, 7L), (9L, 1L)).toDF("id", "bump")
    val matched = Seq(
      (Some(col("score") < 15), Some(Map("score" -> (col("score") + col("__src_bump"))))),
      (None, None)) // second clause: DELETE
    val notMatched = Seq((None: Option[org.apache.spark.sql.Column],
      Some(Map("id" -> col("__src_id"), "tag" -> lit("new"),
        "score" -> (col("__src_bump") * 10)))))
    val merged = t.mergedFrame(src, "id", matched, notMatched)
    assert(merged.as[(Long, String, Long)].collect().toSet ===
      Set((1L, "a", 15L), (3L, "c", 30L), (9L, "new", 10L)))
    // plan shape: the target side joins via broadcast — no sort-merge
    // shuffle of the table side anywhere in the executed plan
    val plan = merged.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), s"target side shuffled:\n$plan")
    // committing it lands as a merge snapshot
    t.mergeInto(src, "id", matched, notMatched)
    assert(t.read().count() === 3)
    // duplicate source keys are rejected before anything commits
    intercept[IllegalArgumentException](
      t.mergeInto(Seq((5L, 1L), (5L, 2L)).toDF("id", "bump"), "id",
        matched, notMatched))
  }

  test("append with evolved schema widens columns and null-fills history") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("snap3").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((1, "a")).toDF("id", "v"))
    // evolved: new column `score`, and `v` missing entirely
    t.commit(Seq((2, 0.9)).toDF("id", "score"), op = "append")
    val latest = t.read()
    assert(latest.columns.toSet === Set("id", "v", "score"))
    val rows = latest.orderBy("id").collect()
    assert(rows(0).getString(1) === "a" && rows(0).isNullAt(2))
    assert(rows(1).isNullAt(1) && rows(1).getDouble(2) === 0.9)
    // time travel still returns the ORIGINAL schema for the old version
    assert(t.read(Some(0L)).columns.toSet === Set("id", "v"))
  }

  test("position deletes: keyless merge-on-read DML over tables with duplicates") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap_posdel").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    // NO unique key anywhere — including fully duplicated rows
    val base = (Seq.tabulate(20)(i => (i.toLong % 5, s"grp${i % 5}", i * 1.0)) ++
      Seq((99L, "dup", 1.0), (99L, "dup", 1.0))).toDF("k", "tag", "x")
    t.commit(base.coalesce(2))                          // v0: 22 rows
    t.commit(Seq((50L, "late", 5.0)).toDF("k", "tag", "x"), op = "append") // v1
    assert(t.read().count() === 23)
    // delete by PREDICATE with no key column: the commit holds only
    // (file, pos) pairs — O(matching rows), never O(table)
    val v2 = t.deleteWherePos(col("tag") === "dup")
    assert(t.read().count() === 21)
    assert(t.read().filter(col("tag") === "dup").count() === 0)
    // provenance columns never leak to the reader
    assert(t.read().columns.toSeq.sorted === Seq("k", "tag", "x"))
    // the commit logs the table's row total after the delete
    assert(t.history().filter(col("version") === v2)
      .select("row_count").as[Long].head() === 21L)
    // time travel before the delete still sees the duplicates
    assert(t.read(Some(1L)).filter(col("tag") === "dup").count() === 2)
    // a LATER append of identical values survives: the delete names old
    // positions, never content — the semantics equality deletes can't give
    t.commit(Seq((99L, "dup", 1.0)).toDF("k", "tag", "x"), op = "append")
    assert(t.read().filter(col("tag") === "dup").count() === 1)
    // deletes spanning base AND delta files in one commit
    t.deleteWherePos(col("k") === 0L || col("tag") === "late")
    assert(t.read().filter(col("k") === 0L).count() === 0)
    assert(t.read().filter(col("tag") === "late").count() === 0)
    assert(t.read().count() === 17)
    // mixing delete-file kinds in one chain folds in commit order
    t.deleteWhereMor(col("k") === 1L, "k")
    assert(t.read().count() === 13)
    // pruned reads stay identical to plain reads across pos-deletes
    assert(t.readWhere(col("k") >= 3L).count() ===
      t.read().filter(col("k") >= 3L).count())
    // compaction folds every outstanding delete file into a fresh base
    t.compact(targetFiles = 1)
    assert(t.read().count() === 13)
    assert(t.read().columns.toSeq.sorted === Seq("k", "tag", "x"))
    // row-count bookkeeping stayed exact through mixed delete kinds
    assert(t.history().orderBy(col("version").desc)
      .select("row_count").as[Long].head() === 13L)
  }

  test("equality deletes apply NULL-SAFELY: a delete file carrying a NULL " +
      "key deletes null-keyed rows, the logged count matches, and CDC " +
      "pre-images name the same rows the resolution removes") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap_nulldel").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((Option(1L), "a"), (Option.empty[Long], "b"),
      (Option(3L), "c"), (Option.empty[Long], "b2")).toDF("k", "v"))
    // a foreign-style delete file: one NULL key + one present key
    val ver = t.deleteKeysMor(
      Seq(Option.empty[Long], Option(3L)).toDF("k"), Seq("k"))
    // both null-keyed rows AND k=3 are gone (IcebergExport.readTable's
    // <=> semantics — plain equality would leave the null-keyed rows)
    assert(t.read().select("v").as[String].collect().toSeq === Seq("a"))
    // the logged total drops by the MATCHED row count — 3 (two null-keyed
    // rows plus k=3), not the 2-key count: 4 - 3 = 1
    assert(t.history().orderBy(col("version").desc)
      .select("row_count").as[Long].head() === 1L)
    // CDC derives the same three deletions from the commit file alone
    val ch = t.changesForCommit(ver)
    assert(ch.filter(col("_change_type") === "delete").count() === 3L)
    assert(ch.count() === 3L)
  }

  test("deleteRowsMultiset removes exactly as many copies as the frame " +
      "carries (position semantics), tags the op, and refuses on drift") {
    import spark.implicits._
    val root = Files.createTempDirectory("snap_multidel").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((1L, "a"), (1L, "a"), (1L, "a"), (2L, "b"))
      .toDF("id", "v").coalesce(1))
    // delete TWO of the three copies + the unique row
    t.deleteRowsMultiset(
      Seq((1L, "a"), (1L, "a"), (2L, "b")).toDF("id", "v"),
      tag = Some("t1"))
    assert(t.read().collect().map(_.toSeq).toSeq === Seq(Seq(1L, "a")))
    assert(t.history().orderBy(col("version").desc)
      .select("operation").as[String].head() === "pos-delete@t1")
    // asking for more copies than live is mirror DRIFT, not a no-op
    val e = intercept[IllegalStateException](
      t.deleteRowsMultiset(Seq((1L, "a"), (1L, "a")).toDF("id", "v")))
    assert(e.getMessage.contains("drift"))
    // the failed attempt released its claim: a later delete commits fine
    t.deleteRowsMultiset(Seq((1L, "a")).toDF("id", "v"))
    assert(t.read().count() === 0)
  }
}
