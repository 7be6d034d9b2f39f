package graft.sources

import java.nio.file.{Files => JFiles, Paths => JPaths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The snapshot store on a NON-`file:` FileSystem scheme ([[GraftTestFs]]):
  * every metadata surface — commit log, refs, manifests, partition spec,
  * sort order, mor key files — must round-trip through Hadoop's
  * FileSystem, because the 100 TB deployment story puts tables on
  * `s3a:`/`hdfs:` roots (reference spark.py:52-59, readme.md:393-401). A
  * java.nio escape would resolve the scheme'd root as a RELATIVE local path
  * and write a literal `graftfs:` directory under the CWD — the suite
  * asserts that never appears. */
class SnapshotRemoteFsSpec extends SparkSpec {

  private def remoteRoot(prefix: String): String = {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val local = JFiles.createTempDirectory(prefix).toFile.getAbsolutePath
    s"graftfs://$local"
  }

  private def assertNoNioEscape(): Unit =
    assert(!JFiles.exists(JPaths.get("graftfs:")),
      "a java.nio code path resolved the scheme'd root as a relative local " +
        "path and created ./graftfs: — metadata IO escaped the Hadoop FS seam")

  test("commit / append / time travel / history / refs / evolve / compact / " +
      "expire all operate on a scheme'd root") {
    import spark.implicits._
    val root = remoteRoot("remfs_core")
    val t = new SnapshotTable(spark, root)
    t.commit(Seq.tabulate(5)(i => (i.toLong, s"v$i", i)).toDF("id", "v", "n")) // v0
    t.commit(Seq.tabulate(5)(i => (5L + i, s"v${5 + i}", 5 + i))
      .toDF("id", "v", "n"), op = "append")                                    // v1
    assert(t.read().count() === 10)
    assert(t.read(Some(0L)).count() === 5)
    assert(t.history().count() === 2)

    // row-level DML: equality delete, position delete, mor update
    t.deleteWhereMor(col("id") < 2L, "id")                                     // v2
    assert(t.read().count() === 8)
    t.deleteWherePos(col("id") === 9L)                                         // v3
    assert(t.read().count() === 7)
    t.updateMor(col("id") === 5L, Map("v" -> lit("UPDATED")), "id")            // v4
    assert(t.read().filter(col("id") === 5L).select("v").head.getString(0)
      === "UPDATED")

    // keyed CDC across the mutation window
    val ch = t.changes(1L, 4L, "id").groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(ch("delete") === 3L)
    assert(ch("update_preimage") === 1L && ch("update_postimage") === 1L)

    // refs: branch commit + publish, immutable tag
    t.createTag("audit")
    t.createBranch("stage")
    t.commitToBranch("stage", Seq((100L, "staged", 100)).toDF("id", "v", "n"),
      op = "append")
    assert(t.readBranch("stage").count() === 8)
    assert(t.read().count() === 7, "branch commit invisible to main until publish")
    t.fastForward("stage")
    assert(t.read().count() === 8)
    assert(t.readTag("audit").count() === 7)

    // schema evolution is metadata-only and survives the scheme'd log
    t.addColumn("flag", "INT")
    t.alterColumnType("n", "BIGINT")
    assert(t.read().schema("n").dataType.simpleString === "bigint")
    assert(t.read().filter(col("flag").isNotNull).count() === 0)

    // maintenance: compact folds the chain, expiry drops dead versions
    t.compact(targetFiles = 1)
    val expected = t.read().select("id").as[Long].collect().sorted
    t.expireSnapshots(keep = 1)
    assert(new SnapshotTable(spark, root).read()
      .select("id").as[Long].collect().sorted === expected)
    assertNoNioEscape()
  }

  test("partitioned store prunes files on a scheme'd root; removeOrphans " +
      "cleans crashed-writer dirs through the Hadoop FS") {
    import spark.implicits._
    val root = remoteRoot("remfs_part")
    val t = new SnapshotTable(spark, root)
    t.commitPartitioned(
      Seq.tabulate(12)(i => (i.toLong, s"r${i % 4}")).toDF("id", "region"),
      Seq("region"))
    val got = t.readWhere(col("region") === "r1")
    assert(got.select("id").as[Long].collect().sorted === Array(1L, 5L, 9L))
    val (kept, total) = t.lastPruneStats
    assert(kept < total, s"partition pruning should fire remotely: $kept/$total")

    // a crashed writer's dir: unlogged, aged — removed via rootFs
    val local = root.stripPrefix("graftfs://")
    Seq((99L, "junk")).toDF("id", "region").write.parquet(s"$root/data/crashed")
    assert(new java.io.File(s"$local/data/crashed").setLastModified(
      System.currentTimeMillis() - 10L * 60 * 1000))
    assert(t.removeOrphans(olderThanMillis = 60000L, force = true) === Seq("crashed"))
    assert(!JFiles.exists(JPaths.get(local, "data", "crashed")))
    assert(t.read().count() === 12)
    assertNoNioEscape()
  }

  test("a file:-SCHEME'd root is local but must NOT resolve as a relative " +
      "path — metadata lands under the real root, never under ./file:") {
    import spark.implicits._
    val local = JFiles.createTempDirectory("remfs_file").toFile.getAbsolutePath
    val root = s"file://$local"
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    t.commit(Seq((3L, "c")).toDF("id", "v"), op = "append")
    t.deleteWhereMor(col("id") === 2L, "id")
    assert(t.read().select("id").as[Long].collect().sorted === Array(1L, 3L))
    assert(JFiles.exists(JPaths.get(local, "_graft_log", "v=2.rec")),
      "commit log not at the real root")
    assert(!JFiles.exists(JPaths.get("file:")),
      "a java.nio path resolved the file: scheme as a relative name")
  }

  test("the streaming loop closes on a scheme'd root: exactly-once WRITE " +
      "into the store and exactly-once CDC READ out of it") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    val root = remoteRoot("remfs_stream")
    val ck = JFiles.createTempDirectory("remfs_stream_ck").toFile.getAbsolutePath
    val out = JFiles.createTempDirectory("remfs_stream_out").toFile.getAbsolutePath
    val st = new SnapshotTable(spark, root)
    implicit val sql = spark.sqlContext

    // streaming WRITE: two micro-batched waves into the remote-scheme store
    val in = MemoryStream[(Long, String)]
    in.addData((1L, "a"), (2L, "b"))
    graft.streaming.SnapshotStream.appendStream(
      st, root, in.toDF.toDF("id", "v"), ck).awaitTermination()
    in.addData((3L, "c"))
    graft.streaming.SnapshotStream.appendStream(
      st, root, in.toDF.toDF("id", "v"), ck).awaitTermination()
    assert(st.read().count() === 3)
    assert(st.history().count() === 2, "one append commit per micro-batch")

    // a mutation, then streaming CDC READ: commit-derived O(delta) change
    // rows planned entirely over the remote scheme's metadata
    st.deleteWhereMor(col("id") === 2L, "id")
    graft.streaming.SnapshotStream.readChanges(spark, root, "id").writeStream
      .format("parquet").option("path", out)
      .option("checkpointLocation",
        JFiles.createTempDirectory("remfs_cdc_ck").toFile.getAbsolutePath)
      .trigger(Trigger.AvailableNow()).start().awaitTermination()
    val got = spark.read.parquet(out)
      .select("id", "_change_type").as[(Long, String)].collect().sorted
    assert(got === Array((1L, "insert"), (2L, "delete"), (2L, "insert"),
      (3L, "insert")))
    assertNoNioEscape()
  }

  test("r15 features compose with the remote seam: sorted compaction " +
      "re-clusters and O(delta) CDC prunes on a scheme'd root") {
    import spark.implicits._
    val root = remoteRoot("remfs_compose")
    val t = new SnapshotTable(spark, root)
    t.commit(Seq.tabulate(400)(i => (i.toLong, s"v$i", (i % 7).toLong))
      .toDF("id", "v", "n").repartition(2))
    (1 to 4).foreach { w =>
      t.commit(Seq.tabulate(400)(i => (i.toLong, s"w$w-$i", (i % 7).toLong))
        .toDF("id", "v", "n").filter(col("id") % 5 === w.toLong).coalesce(1),
        op = "append")
    }
    // sorted compaction: the order file + rewrite go through the seam
    t.compactSorted(targetFiles = 8, order = Seq("id"))
    assert(t.sortOrder === Seq("id"))
    t.readWhere(col("id") < 10L).count()
    val (kept, total) = t.lastPruneStats
    assert(total === 8L && kept === 1L,
      s"remote sorted rewrite should prune 1 of 8: $kept/$total")

    // O(delta) CDC: the mor-update commit's derivation prunes the remote
    // clustered base and equals the full diff
    t.updateMor(col("id") < 3L, Map("n" -> lit(555L)), "id")
    val v = t.currentVersion.get
    val fast = t.changesForCommit(v, Seq("id"))
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))
    val (cKept, cTotal) = t.lastPruneStats
    assert(cTotal >= 8L && cKept <= 2L,
      s"remote CDC pre-image scan should prune: $cKept/$cTotal")
    assert(fast === t.changes(v - 1, v, "id")
      .collect().map(_.toSeq).toSeq.sortBy(_.mkString("|")))
    assertNoNioEscape()
  }

  test("commit-record ledger: a lost log-cache line can never lose a " +
      "committed version, and expiry does not resurrect expired records") {
    import spark.implicits._
    val root = remoteRoot("remfs_ledger")
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((0L, "base")).toDF("id", "v"))                          // v0
    t.commit(Seq((1L, "a")).toDF("id", "v"), op = "append")              // v1
    t.commit(Seq((2L, "b")).toDF("id", "v"), op = "append")              // v2

    // the JVM's cache of parsed records lost every line but v0's
    val canon = SnapshotTable.canonicalRoot(root)
    SnapshotTable.logMemo.put(canon,
      SnapshotTable.logMemo.get(canon).filter(_._1 == "v=0.rec"))

    // the records are the commit points — the store reads back intact and
    // the next commit lands PAST the head
    val fresh = new SnapshotTable(spark, root)
    assert(fresh.history().select("version").as[Long].collect().sorted
      === Array(0L, 1L, 2L))
    assert(fresh.read().count() === 3)
    fresh.commit(Seq((3L, "c")).toDF("id", "v"), op = "append")          // v3
    assert(fresh.read().count() === 4)
    assert(fresh.history().count() === 4)

    // expiry drops the expired versions' records — the cache must not
    // resurrect them
    fresh.compact(targetFiles = 1)                                       // v4
    fresh.expireSnapshots(keep = 1)
    val after = new SnapshotTable(spark, root)
    assert(after.history().select("version").as[Long].collect() === Array(4L))
    assert(after.read().count() === 4)
    assertNoNioEscape()
  }

  test("refs on a scheme'd root live in per-name records: no shared " +
      "mutable file, tombstones and retention pins intact") {
    import spark.implicits._
    val root = remoteRoot("remfs_refs")
    val local = root.stripPrefix("graftfs://")
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((0L, "v0")).toDF("id", "v"))                            // v0
    t.createTag("pin")
    t.commit(Seq((1L, "v1")).toDF("id", "v"))                            // v1 (overwrite)
    // every ref write is its own object — the shared appended file is
    // never created on a scheme'd root
    assert(!JFiles.exists(JPaths.get(local, "_graft_refs.jsonl")),
      "a scheme'd root must not route refs through the RMW-prone shared file")
    assert(t.readTag("pin").count() === 1)

    // the tag pins v0 through expiry; dropping it (tombstone record)
    // releases the pin
    t.expireSnapshots(keep = 1)
    assert(t.readTag("pin").select("v").head.getString(0) === "v0")
    t.dropRef("pin")
    assert(t.refs().count() === 0)
    t.expireSnapshots(keep = 1)
    assert(new SnapshotTable(spark, root).history().count() === 1)
    assertNoNioEscape()
  }

  test("readRefs survives a concurrent writeRef's record GC: the " +
      "LIST-then-GET race re-lists once and the ref never vanishes") {
    import spark.implicits._
    val root = remoteRoot("remfs_refrace")
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((0L, "v0")).toDF("id", "v"))                            // v0
    t.createBranch("b")
    val other = new SnapshotTable(spark, root)
    // inject a concurrent ref WRITE (new record + opportunistic GC of the
    // one our LIST just returned) into the exact LIST-then-GET window
    @volatile var fired = false
    t.afterRefsList = () =>
      if (!fired) {
        fired = true
        other.commitToBranch("b", Seq((1L, "staged")).toDF("id", "v"),
          op = "append")
      }
    val refs = t.refs().select("ref_name").as[String].collect()
    t.afterRefsList = () => ()
    assert(fired, "the refs-list seam never fired")
    assert(refs.contains("b"),
      "the branch transiently vanished from readRefs — an expiry in this " +
        "window would have lost its retention pin")
    assertNoNioEscape()
  }

  test("claim re-validation bypasses the meta memo: an aliased " +
      "(mtime, length) cache key can never clobber a committed version") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftnoap.impl", classOf[GraftNoAppendFs].getName)
    val local = JFiles.createTempDirectory("remfs_memo").toFile.getAbsolutePath
    val root = s"graftnoap://$local"
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((0L, "seed")).toDF("id", "v"))                          // v0
    t.commit(Seq((1L, "a")).toDF("id", "v"), op = "append")              // v1
    val canon = SnapshotTable.canonicalRoot(root)
    val before = SnapshotTable.logMemo.get(canon)

    // a foreign writer lands v2 …
    new SnapshotTable(spark, root)
      .commit(Seq((2L, "b")).toDF("id", "v"), op = "append")             // v2
    // … and this JVM's cache reverts to the pre-v2 state
    SnapshotTable.logMemo.put(canon, before)

    // the stale cache must not let this instance take v2: the publish is
    // exclusive, so the commit lands PAST the committed version
    assert(t.commit(Seq((3L, "c")).toDF("id", "v"), op = "append") === 3L)
    val fresh = new SnapshotTable(spark, root)
    assert(fresh.history().select("version").as[Long].collect().sorted
      === Array(0L, 1L, 2L, 3L))
    assert(fresh.read().select("id").as[Long].collect().sorted
      === Array(0L, 1L, 2L, 3L))
  }

  test("an S3-shaped root (PUT overwrites, no append): the claim-arbiter " +
      "seam restores atomic version claims where create-exclusive is fake") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.grafts3.impl", classOf[GraftS3LikeFs].getName)
    val local = JFiles.createTempDirectory("remfs_s3").toFile.getAbsolutePath
    val root = s"grafts3://$local"

    // the hazard is REAL on this filesystem: a record published on the
    // root itself is silently replaced by a second publish of its name
    // (exactly S3's PUT model — the reason Iceberg commits through a
    // catalog-side CAS)
    val onRoot = new SnapshotTable.RecordDir(
      spark.sparkContext.hadoopConfiguration, r => s"$r/_graft_log")
    assert(onRoot.publish(root, "probe.rec", "a\n"))
    assert(onRoot.publish(root, "probe.rec", "b\n"))
    assert(onRoot.read(root, "probe.rec") === Some("b\n"))
    onRoot.delete(root, "probe.rec")

    // the arbiter IS exclusive: a second publish of a name fails, delete
    // frees it — across two INSTANCES sharing a lock dir (the
    // no-shared-memory shape)
    val lockDir = JFiles.createTempDirectory("remfs_s3_lock").toFile.getAbsolutePath
    val dArb = new LockDirClaimArbiter(lockDir)
    val dArb2 = new LockDirClaimArbiter(lockDir) // separate instance, shared dir
    assert(dArb.publish("r", "v=5.rec", "a\n") && !dArb2.publish("r", "v=5.rec", "b\n"))
    assert(dArb2.read("r", "v=5.rec") === Some("a\n"))
    dArb.delete("r", "v=5.rec")
    assert(dArb2.publish("r", "v=5.rec", "b\n"))
    dArb2.delete("r", "v=5.rec")

    // end to end: with the DURABLE arbiter registered, the full commit
    // protocol — log records, refs, DML, maintenance — runs on the
    // S3-shaped root with distinct versions
    SnapshotTable.registerClaimArbiter(root, dArb)
    try {
      val t = new SnapshotTable(spark, root)
      t.commit(Seq((0L, "seed")).toDF("id", "v"))
      val threads = (1 to 4).map { i =>
        new Thread(() => {
          val mine = new SnapshotTable(spark, root)
          mine.commit(Seq((i.toLong, s"w$i")).toDF("id", "v"), op = "append")
        })
      }
      threads.foreach(_.start()); threads.foreach(_.join())
      val fresh = new SnapshotTable(spark, root)
      assert(fresh.read().count() === 5)
      assert(fresh.history().select("version").as[Long].collect().sorted
        === Array(0L, 1L, 2L, 3L, 4L))
      t.deleteWhereMor(col("id") === 3L, "id")
      assert(new SnapshotTable(spark, root).read().count() === 4)
      t.compact(targetFiles = 1)
      t.expireSnapshots(keep = 1)
      assert(new SnapshotTable(spark, root).read().count() === 4)
    } finally SnapshotTable.unregisterClaimArbiter(root)
    assertNoNioEscape()
  }

  test("the full S3 story composes: exactly-once streaming ingest + CDC " +
      "read-out on an S3-shaped root under the claim arbiter") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    spark.sparkContext.hadoopConfiguration
      .set("fs.grafts3.impl", classOf[GraftS3LikeFs].getName)
    val local = JFiles.createTempDirectory("remfs_s3_stream").toFile.getAbsolutePath
    val root = s"grafts3://$local"
    SnapshotTable.registerClaimArbiter(root, new LockDirClaimArbiter(
      JFiles.createTempDirectory("remfs_s3_stream_lock").toFile.getAbsolutePath))
    try {
      val ck = JFiles.createTempDirectory("remfs_s3_ck").toFile.getAbsolutePath
      val out = JFiles.createTempDirectory("remfs_s3_out").toFile.getAbsolutePath
      val st = new SnapshotTable(spark, root)
      implicit val sql = spark.sqlContext

      // streaming WRITE: micro-batch appends publish their records through
      // the arbiter (no append, no publish-if-absent on the root)
      val in = MemoryStream[(Long, String)]
      in.addData((1L, "a"), (2L, "b"))
      graft.streaming.SnapshotStream.appendStream(
        st, root, in.toDF.toDF("id", "v"), ck).awaitTermination()
      in.addData((3L, "c"))
      graft.streaming.SnapshotStream.appendStream(
        st, root, in.toDF.toDF("id", "v"), ck).awaitTermination()
      assert(st.read().count() === 3)
      assert(st.history().count() === 2, "one append commit per micro-batch")

      // a mutation, then streaming CDC READ planned over the same root
      st.deleteWhereMor(col("id") === 2L, "id")
      graft.streaming.SnapshotStream.readChanges(spark, root, "id").writeStream
        .format("parquet").option("path", out)
        .option("checkpointLocation",
          JFiles.createTempDirectory("remfs_s3_cdc_ck").toFile.getAbsolutePath)
        .trigger(Trigger.AvailableNow()).start().awaitTermination()
      val got = spark.read.parquet(out)
        .select("id", "_change_type").as[(Long, String)].collect().sorted
      assert(got === Array((1L, "insert"), (2L, "delete"), (2L, "insert"),
        (3L, "insert")))
    } finally SnapshotTable.unregisterClaimArbiter(root)
    assertNoNioEscape()
  }

  test("concurrent appends on a scheme'd root land distinct versions via the " +
      "Hadoop-FS marker CAS") {
    // the publish-if-absent there is `rename` refusing an existing record
    import spark.implicits._
    val root = remoteRoot("remfs_conc")
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((0L, "seed")).toDF("id", "v"))
    val threads = (1 to 4).map { i =>
      new Thread(() => {
        val mine = new SnapshotTable(spark, root)
        mine.commit(Seq((i.toLong, s"w$i")).toDF("id", "v"), op = "append")
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val fresh = new SnapshotTable(spark, root)
    assert(fresh.read().count() === 5)
    assert(fresh.history().select("version").as[Long].collect().sorted
      === Array(0L, 1L, 2L, 3L, 4L))
    assertNoNioEscape()
  }
}
