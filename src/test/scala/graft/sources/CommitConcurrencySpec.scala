package graft.sources

import java.nio.file.{Files => JFiles, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Optimistic-concurrency commit protocol (Iceberg's atomic-swap contract,
  * SURVEY §3.1 step 5): versions are claimed by create-exclusive marker
  * files, so concurrent writers always land DISTINCT versions; operations
  * that derived their data from a snapshot read raise
  * [[SnapshotTable.CommitConflictException]] when the head moved under them. */
class CommitConcurrencySpec extends SparkSpec {

  test("a version claimed by a foreign writer is never reused (no lost update)") {
    import spark.implicits._
    val root = JFiles.createTempDirectory("occ_claim").toFile.getAbsolutePath
    val a = new SnapshotTable(spark, root)
    a.commit(Seq((1L, "a")).toDF("id", "v")) // v0
    // a second process has CLAIMED v1 (its marker exists, its log line is
    // still in flight) — our commit must skip to v2, never steal v1's dir
    JFiles.createFile(Paths.get(root, "_graft_commits", "v=1"))
    val va = a.commit(Seq((2L, "b")).toDF("id", "v"), op = "append")
    assert(va === 2L)
    assert(a.read().count() === 2)
    // the foreign writer's line lands late: out-of-order log lines are
    // sorted by version at read, and its version is exactly the claimed one
    Seq((99L, "z")).toDF("id", "v").write.parquet(s"$root/v=1")
    JFiles.writeString(Paths.get(root, "_graft_meta.jsonl"),
      s"1,${System.currentTimeMillis()},append,1\n",
      java.nio.file.StandardOpenOption.APPEND)
    val fresh = new SnapshotTable(spark, root)
    assert(fresh.history().orderBy("version").collect().map(_.getLong(0)).toSeq
      === Seq(0L, 1L, 2L))
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
    // a plain append commutes with what was logged before its claim, even
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
    // data write and its final head validation. The test seam injects it on
    // the same thread (withRootLock is reentrant there), exactly where a
    // foreign process would slip past the in-JVM lock.
    a.beforeFinalHeadCheck = () => {
      a.beforeFinalHeadCheck = () => () // fire once
      new SnapshotTable(spark, root)
        .commit(Seq((100L, "x")).toDF("id", "v"), op = "append")
    }
    intercept[SnapshotTable.CommitConflictException](
      a.deleteWhereMor(col("id") < 3L, "id"))
    // a claimed v1; the foreign writer claimed v2. The lost claim must be
    // fully released: marker, data dir and manifest all gone (nothing for
    // maintenance to ever orphan-collect), and the claim number is free.
    assert(!JFiles.exists(Paths.get(root, "v=1")), "conflicted data dir leaked")
    assert(!JFiles.exists(Paths.get(root, "_graft_commits", "v=1")),
      "conflicted claim marker leaked")
    assert(!JFiles.exists(Paths.get(root, "_graft_manifest", "v=1.tsv")),
      "conflicted manifest leaked")
    val fresh = new SnapshotTable(spark, root)
    assert(fresh.read().count() === 11)
    // the standard Iceberg retry: re-read, re-derive, commit clean
    fresh.deleteWhereMor(col("id") < 3L, "id")
    assert(fresh.read().count() === 8)
    assert(fresh.history().orderBy("version").collect().map(_.getLong(0)).toSeq
      === Seq(0L, 2L, 3L))
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
    // simulate the race the marker self-GC opens: our writer read the log
    // (head v1), a FOREIGN process then logs v2 and GC's its own marker —
    // so our create-exclusive on marker v=2 SUCCEEDS even though v2 is
    // spent. The post-create re-validation must release it and move on.
    val fired = new java.util.concurrent.atomic.AtomicInteger(0)
    t.afterMarkerClaim = { claimed =>
      if (fired.getAndIncrement() == 0) {
        assert(claimed === 2L, s"expected first claim on spent v2, got $claimed")
        // the foreign commit: a metadata-only pointer line (resolvable) with
        // its marker already self-GC'd — appended directly, as another
        // process would
        JFiles.writeString(Paths.get(root, "_graft_meta.jsonl"),
          s"2,${System.currentTimeMillis()},asof:0:foreign,1\n",
          java.nio.file.StandardOpenOption.APPEND)
      }
    }
    val mine = t.commit(Seq((2L, "b")).toDF("id", "v"), op = "append")
    t.afterMarkerClaim = _ => ()
    assert(fired.get() >= 2, "the claim loop must have retried after the release")
    assert(mine === 3L, s"spent v2 must not be kept; landed $mine")
    // the spent number's marker was released, ours self-GC'd after logging
    assert(Option(Paths.get(root, "_graft_commits").toFile.list())
      .map(_.toSeq).getOrElse(Nil) === Nil)
    // nothing was lost: the foreign pointer (a rollback to v0's 1-row
    // content) resolves as the base under our append — 2 rows at head
    val fresh = new SnapshotTable(spark, root)
    assert(fresh.read().as[(Long, String)].collect().toSet ===
      Set((0L, "seed"), (2L, "b")))
    assert(fresh.currentVersion === Some(3L))
    assert(fresh.read(Some(2L)).count() === 1) // the foreign asof:0 pointer
  }

  /** Lands `foreign` once inside `t`'s next claim window: right after its
    * marker create and before the claim's log re-validation, which is
    * where another process's whole commit can fall. */
  private def inClaimWindow(t: SnapshotTable)(foreign: => Unit): Unit = {
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    t.afterMarkerClaim = _ => if (fired.compareAndSet(false, true)) foreign
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
    inClaimWindow(t)(new SnapshotTable(spark, root)
      .commit(Seq((2L, "c")).toDF("id", "w"), op = "append"))
    t.commit(Seq((3L, "d")).toDF("id", "w"), op = "append")
    assert(t.read().count() === 4)
    assert(headRows(t) === 4L, "the append counted from the log it read " +
      "before claiming, missing the foreign append")
  }

  test("addColumn with a foreign append in its claim window conflicts, and " +
      "the re-run logs the true row count") {
    import spark.implicits._
    val (root, t) = seeded("occ_add_append")
    inClaimWindow(t)(new SnapshotTable(spark, root)
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
    inClaimWindow(t)(new SnapshotTable(spark, root).addColumn("x", "INT"))
    intercept[SnapshotTable.CommitConflictException](t.addColumn("x", "STRING"))
    assert(t.commitOps().count { case (_, op) =>
      t.evolveNewColumns(op) == Seq("x") } === 1)
    assert(t.read().schema("x").dataType ===
      org.apache.spark.sql.types.IntegerType)
  }

  test("dropColumn against a foreign rename of the same column conflicts") {
    val (root, t) = seeded("occ_drop_rename")
    inClaimWindow(t)(new SnapshotTable(spark, root).renameColumn("w", "w2"))
    intercept[SnapshotTable.CommitConflictException](t.dropColumn("w"))
    assert(t.read().columns.toSeq === Seq("id", "w2"))
  }

  test("commitToBranch with a foreign branch append in its claim window " +
      "conflicts and the foreign row stays on the branch") {
    import spark.implicits._
    val (root, t) = seeded("occ_branch")
    t.createBranch("dev")
    inClaimWindow(t)(new SnapshotTable(spark, root)
      .commitToBranch("dev", Seq((5L, "f")).toDF("id", "w"), "append"))
    intercept[SnapshotTable.CommitConflictException](
      t.commitToBranch("dev", Seq((2L, "c")).toDF("id", "w"), "append"))
    def devIds = t.readBranch("dev").select("id").as[Long].collect().toSet
    assert(devIds === Set(0L, 1L, 5L))
    t.commitToBranch("dev", Seq((2L, "c")).toDF("id", "w"), "append")
    assert(devIds === Set(0L, 1L, 2L, 5L))
    assert(t.read().count() === 2, "main is untouched by branch commits")
  }

  /** Lands `foreign` once inside `t`'s next write window: after its stage
    * wrote the data and before the commit section, where another process
    * can log a version above the claim. */
  private def inWriteWindow(t: SnapshotTable)(foreign: => Unit): Unit = {
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    t.beforeFinalHeadCheck = () => if (fired.compareAndSet(false, true)) foreign
  }

  /** Runs `commit`, and once more if it raised (the caller's retry);
    * returns the first attempt's failure. */
  private def withOneRetry(commit: => Long): Option[Throwable] =
    scala.util.Try(commit).failed.toOption.map { e => commit; e }

  test("an append with a foreign delete logged above its claim conflicts; " +
      "the re-run keeps the appended row") {
    import spark.implicits._
    val (root, t) = seeded("occ_below_delete")
    inWriteWindow(t)(new SnapshotTable(spark, root).deleteWhere(col("id") === 0L))
    val first = withOneRetry(t.commit(Seq((2L, "c")).toDF("id", "w"), op = "append"))
    assert(t.read().select("id").as[Long].collect().toSet === Set(1L, 2L),
      "the append landed below the foreign restart point and its row left main")
    assert(headRows(t) === 2L)
    assert(first.exists(_.isInstanceOf[SnapshotTable.CommitConflictException]))
  }

  test("an append with a foreign append logged above its claim conflicts; " +
      "the re-run logs the head's true row count") {
    import spark.implicits._
    val (root, t) = seeded("occ_below_append")
    inWriteWindow(t)(new SnapshotTable(spark, root)
      .commit(Seq((2L, "c")).toDF("id", "w"), op = "append"))
    val first = withOneRetry(t.commit(Seq((3L, "d")).toDF("id", "w"), op = "append"))
    assert(headRows(t) === t.read().count())
    assert(first.exists(_.isInstanceOf[SnapshotTable.CommitConflictException]))
  }

  test("a stage that fails at write time releases its claim: no marker, no " +
      "data dir, no manifest, and the next commit takes the same version") {
    import spark.implicits._
    val (root, t) = seeded("occ_stage_fail")
    def leftovers = Seq(Paths.get(root, "_graft_commits", "v=1"),
      Paths.get(root, "v=1"), Paths.get(root, "_graft_manifest", "v=1.tsv"))
      .filter(JFiles.exists(_))
    val boom = raise_error(lit("boom")).cast("string")
    intercept[Exception](
      t.updateMor(col("id") === 0L, Map("w" -> boom), "id"))
    assert(leftovers === Nil)
    intercept[Exception](t.commit(
      Seq((2L, "c")).toDF("id", "w").withColumn("w", boom), op = "append"))
    assert(leftovers === Nil)
    assert(t.commit(Seq((2L, "c")).toDF("id", "w"), op = "append") === 1L)
    assert(t.read().count() === 3 && headRows(t) === 3L)
  }
}
