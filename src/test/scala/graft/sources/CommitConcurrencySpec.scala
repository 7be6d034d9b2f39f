package graft.sources

import java.nio.file.{Files => JFiles, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Optimistic-concurrency commit protocol (Iceberg's atomic-swap contract,
  * SURVEY §3.1 step 5): a commit lands by publishing its log record only
  * if no record of that version exists, so concurrent writers always land
  * DISTINCT versions; operations that derived their data from a snapshot
  * read raise [[SnapshotTable.CommitConflictException]] when the head moved
  * under them. */
class CommitConcurrencySpec extends SparkSpec {

  /** Data dirs and manifests under `root` that no log record names: what an
    * unlogged commit left behind. */
  private def unlogged(root: String): Seq[String] = {
    val t = new SnapshotTable(spark, root)
    val named = t.history().select("version").collect().map(_.getLong(0))
      .flatMap(v => scala.util.Try(Paths.get(t.versionDir(v)).getFileName.toString).toOption)
      .toSet
    def names(dir: String) = Option(Paths.get(root, dir).toFile.list())
      .map(_.toSeq).getOrElse(Nil)
    names("data").filterNot(named) ++
      names("_graft_manifest").map(_.stripSuffix(".tsv")).filterNot(named)
  }

  /** Lands `foreign` once inside `t`'s next write window: after its stage
    * wrote the data and before it publishes its record, where another
    * process's whole commit can fall. */
  private def inWriteWindow(t: SnapshotTable)(foreign: => Unit): Unit = {
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    t.beforeFinalHeadCheck = () => if (fired.compareAndSet(false, true)) foreign
  }

  test("a version claimed by a foreign writer is never reused (no lost update)") {
    import spark.implicits._
    val root = JFiles.createTempDirectory("occ_claim").toFile.getAbsolutePath
    val a = new SnapshotTable(spark, root)
    a.commit(Seq((1L, "a")).toDF("id", "v")) // v0
    // a second process lands v1 after our log read: our append must take
    // v2, never v1's record or dir
    inWriteWindow(a)(new SnapshotTable(spark, root)
      .commit(Seq((99L, "z")).toDF("id", "v"), op = "append"))
    val va = a.commit(Seq((2L, "b")).toDF("id", "v"), op = "append")
    assert(va === 2L)
    val fresh = new SnapshotTable(spark, root)
    assert(fresh.history().orderBy("version").collect().map(_.getLong(0)).toSeq
      === Seq(0L, 1L, 2L))
    assert(fresh.read().select("id").as[Long].collect().sorted === Array(1L, 2L, 99L))
    assert(fresh.versionDir(1L) !== fresh.versionDir(2L))
    assert(fresh.read(Some(1L)).count() === 2)
  }

  test("a read-dependent commit raises CommitConflictException on a moved head") {
    import spark.implicits._
    val root = JFiles.createTempDirectory("occ_conflict").toFile.getAbsolutePath
    val a = new SnapshotTable(spark, root)
    val b = new SnapshotTable(spark, root)
    a.commit(Seq.tabulate(10)(i => (i.toLong, s"v$i")).toDF("id", "v")) // v0
    // writer A plans a cow mutation against head v0 …
    val planned = a.currentVersion
    val survivors = a.read().filter(col("id") >= 5L)
    // … but writer B commits first
    b.commit(Seq((100L, "x")).toDF("id", "v"), op = "append")
    val ex = intercept[SnapshotTable.CommitConflictException](
      a.commit(survivors, "cow-delete", Some(planned)))
    assert(ex.getMessage.contains("re-read and retry"))
    // nothing landed: the table still has B's state, and a retry that
    // re-reads succeeds (the Iceberg retry loop)
    assert(a.history().count() === 2)
    assert(a.read().count() === 11)
    a.deleteWhere(col("id") < 5L) // fresh read → fresh expected head → ok
    assert(a.read().count() === 6)
    // a plain append commutes with whatever was logged before it, even
    // with a stale view
    val vA = a.commit(Seq((200L, "y")).toDF("id", "v"), op = "append")
    assert(vA === a.currentVersion.get)
    assert(a.read().count() === 7)
  }

  test("a writer landing during the write window conflicts AND the lost " +
      "claim is fully released (no orphaned marker/dir/manifest)") {
    import spark.implicits._
    val root = JFiles.createTempDirectory("occ_window").toFile.getAbsolutePath
    val a = new SnapshotTable(spark, root)
    a.commit(Seq.tabulate(10)(i => (i.toLong, s"v$i")).toDF("id", "v")) // v0
    // a cross-process writer commits DURING a's write window — between a's
    // data write and its record publish. The test seam injects it on the
    // same thread (withRootLock is reentrant there), exactly where a
    // foreign process would slip past the in-JVM lock.
    inWriteWindow(a)(new SnapshotTable(spark, root)
      .commit(Seq((100L, "x")).toDF("id", "v"), op = "append"))
    intercept[SnapshotTable.CommitConflictException](
      a.deleteWhereMor(col("id") < 3L, "id"))
    // the conflicted commit left nothing: its data dir and manifest are
    // gone (nothing for maintenance to ever orphan-collect)
    assert(unlogged(root) === Nil, "conflicted data dir or manifest leaked")
    val fresh = new SnapshotTable(spark, root)
    assert(fresh.read().count() === 11)
    // the standard Iceberg retry: re-read, re-derive, commit clean
    fresh.deleteWhereMor(col("id") < 3L, "id")
    assert(fresh.read().count() === 8)
    assert(fresh.history().orderBy("version").collect().map(_.getLong(0)).toSeq
      === Seq(0L, 1L, 2L))
  }

  test("concurrent threaded appends all land with distinct versions") {
    import spark.implicits._
    val root = JFiles.createTempDirectory("occ_threads").toFile.getAbsolutePath
    new SnapshotTable(spark, root).commit(Seq((0L, "seed")).toDF("id", "v"))
    val versions = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    val threads = (1 to 6).map { k =>
      new Thread(() => {
        val t = new SnapshotTable(spark, root) // each writer its own instance
        versions.add(t.commit(
          Seq((k.toLong, s"w$k")).toDF("id", "v"), op = "append"))
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    assert(versions.asScala.size === 6, "every append landed a distinct version")
    val t = new SnapshotTable(spark, root)
    assert(t.read().count() === 7)
    assert(t.history().count() === 7)
    // the commit log's cumulative row counts are consistent at the head
    assert(t.history().orderBy("version").collect().last.getLong(3) === 7L)
  }

  test("a claim on a SPENT version number (marker self-GC'd after logging) " +
      "re-validates against the log and moves past it") {
    import spark.implicits._
    val root = JFiles.createTempDirectory("occ_respent").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((0L, "seed")).toDF("id", "v"))                 // v0
    t.commit(Seq((1L, "a")).toDF("id", "v"), op = "append")     // v1
    // our writer read the log (head v1); a FOREIGN process publishes v2
    // right before our publish of v2, which therefore loses and must move
    // past the spent number after re-reading the log
    val own = new SnapshotTable.RecordDir(
      spark.sparkContext.hadoopConfiguration, _ => s"$root/_graft_log")
    val attempts = new java.util.concurrent.atomic.AtomicInteger(0)
    SnapshotTable.registerClaimArbiter(root, new SnapshotTable.ClaimArbiter {
      def publish(r: String, name: String, content: String): Boolean = {
        if (attempts.getAndIncrement() == 0) {
          assert(name === "v=2.rec", s"expected the first publish on v2, got $name")
          // the foreign commit: a metadata-only pointer record
          assert(own.publish(r, name,
            s"2,${System.currentTimeMillis()},1,-,asof:0:foreign\n"))
        }
        own.publish(r, name, content)
      }
      def list(r: String) = own.list(r)
      def read(r: String, name: String) = own.read(r, name)
      def delete(r: String, name: String) = own.delete(r, name)
    })
    val mine =
      try t.commit(Seq((2L, "b")).toDF("id", "v"), op = "append")
      finally SnapshotTable.unregisterClaimArbiter(root)
    assert(attempts.get() === 2, "the publish loop must have gone round once")
    assert(mine === 3L, s"spent v2 must not be kept; landed $mine")
    // nothing was lost: the foreign pointer (a rollback to v0's 1-row
    // content) resolves as the base under our append — 2 rows at head
    val fresh = new SnapshotTable(spark, root)
    assert(fresh.read().as[(Long, String)].collect().toSet ===
      Set((0L, "seed"), (2L, "b")))
    assert(fresh.currentVersion === Some(3L))
    assert(fresh.read(Some(2L)).count() === 1) // the foreign asof:0 pointer
    assert(Paths.get(root, "_graft_log").toFile.list().sorted.toSeq ===
      Seq("v=0.rec", "v=1.rec", "v=2.rec", "v=3.rec"), "a temp record was left")
  }

  private def headRows(t: SnapshotTable): Long = {
    import spark.implicits._
    t.history().filter(col("version") === t.currentVersion.get)
      .select("row_count").as[Long].head()
  }

  private def seeded(prefix: String): (String, SnapshotTable) = {
    import spark.implicits._
    val root = JFiles.createTempDirectory(prefix).toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((0L, "a"), (1L, "b")).toDF("id", "w")) // v0: 2 rows
    (root, t)
  }

  test("an append with a foreign append in its claim window logs the " +
      "head's true row count") {
    import spark.implicits._
    val (root, t) = seeded("occ_rows_append")
    inWriteWindow(t)(new SnapshotTable(spark, root)
      .commit(Seq((2L, "c")).toDF("id", "w"), op = "append"))
    t.commit(Seq((3L, "d")).toDF("id", "w"), op = "append")
    assert(t.read().count() === 4)
    assert(headRows(t) === 4L, "the append counted from the log it read " +
      "before its data write, missing the foreign append")
  }

  test("addColumn with a foreign append in its claim window conflicts, and " +
      "the re-run logs the true row count") {
    import spark.implicits._
    val (root, t) = seeded("occ_add_append")
    inWriteWindow(t)(new SnapshotTable(spark, root)
      .commit(Seq((2L, "c")).toDF("id", "w"), op = "append"))
    intercept[SnapshotTable.CommitConflictException](t.addColumn("x", "STRING"))
    assert(!t.read().columns.contains("x"))
    val v = t.addColumn("x", "STRING")
    assert(t.currentVersion === Some(v))
    assert(t.read().count() === 3)
    assert(headRows(t) === 3L)
  }

  test("two same-name addColumns racing: the second conflicts and exactly " +
      "one add of the column is logged") {
    val (root, t) = seeded("occ_add_add")
    inWriteWindow(t)(new SnapshotTable(spark, root).addColumn("x", "INT"))
    intercept[SnapshotTable.CommitConflictException](t.addColumn("x", "STRING"))
    assert(t.commitOps().count { case (_, op) =>
      t.evolveNewColumns(op) == Seq("x") } === 1)
    assert(t.read().schema("x").dataType ===
      org.apache.spark.sql.types.IntegerType)
  }

  test("dropColumn against a foreign rename of the same column conflicts") {
    val (root, t) = seeded("occ_drop_rename")
    inWriteWindow(t)(new SnapshotTable(spark, root).renameColumn("w", "w2"))
    intercept[SnapshotTable.CommitConflictException](t.dropColumn("w"))
    assert(t.read().columns.toSeq === Seq("id", "w2"))
  }

  test("commitToBranch with a foreign branch append in its claim window " +
      "conflicts and the foreign row stays on the branch") {
    import spark.implicits._
    val (root, t) = seeded("occ_branch")
    t.createBranch("dev")
    inWriteWindow(t)(new SnapshotTable(spark, root)
      .commitToBranch("dev", Seq((5L, "f")).toDF("id", "w"), "append"))
    intercept[SnapshotTable.CommitConflictException](
      t.commitToBranch("dev", Seq((2L, "c")).toDF("id", "w"), "append"))
    def devIds = t.readBranch("dev").select("id").as[Long].collect().toSet
    assert(devIds === Set(0L, 1L, 5L))
    t.commitToBranch("dev", Seq((2L, "c")).toDF("id", "w"), "append")
    assert(devIds === Set(0L, 1L, 2L, 5L))
    assert(t.read().count() === 2, "main is untouched by branch commits")
  }

  test("an append with a foreign delete landing first lands above it " +
      "with no retry, and keeps its row") {
    import spark.implicits._
    val (root, t) = seeded("occ_below_delete")
    inWriteWindow(t)(new SnapshotTable(spark, root).deleteWhere(col("id") === 0L))
    assert(t.commit(Seq((2L, "c")).toDF("id", "w"), op = "append") === 2L)
    assert(t.read().select("id").as[Long].collect().toSet === Set(1L, 2L),
      "the append landed below the foreign restart point and its row left main")
    assert(headRows(t) === 2L)
  }

  test("an append with a foreign append landing first lands above it " +
      "with no retry, and logs the head's true row count") {
    import spark.implicits._
    val (root, t) = seeded("occ_below_append")
    inWriteWindow(t)(new SnapshotTable(spark, root)
      .commit(Seq((2L, "c")).toDF("id", "w"), op = "append"))
    assert(t.commit(Seq((3L, "d")).toDF("id", "w"), op = "append") === 2L)
    assert(t.read().count() === 4)
    assert(headRows(t) === 4L)
  }

  test("a stage that fails at write time releases its claim: no marker, no " +
      "data dir, no manifest, and the next commit takes the same version") {
    import spark.implicits._
    val (root, t) = seeded("occ_stage_fail")
    val boom = raise_error(lit("boom")).cast("string")
    intercept[Exception](
      t.updateMor(col("id") === 0L, Map("w" -> boom), "id"))
    assert(unlogged(root) === Nil)
    intercept[Exception](t.commit(
      Seq((2L, "c")).toDF("id", "w").withColumn("w", boom), op = "append"))
    assert(unlogged(root) === Nil)
    assert(t.commit(Seq((2L, "c")).toDF("id", "w"), op = "append") === 1L)
    assert(t.read().count() === 3 && headRows(t) === 3L)
  }
}
