package graft.sources

import java.nio.file.{Files => JFiles, Paths => JPaths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** TWO OS PROCESSES — this JVM and a forked child running
  * [[CrossProcessWriterMain]] — interleave commits on one S3-shaped root
  * (PUT overwrites, no append, fake create-exclusive) with NO shared memory,
  * arbitrated only by [[LockDirClaimArbiter]]'s lock files on a shared local
  * directory. This is the proof [[SnapshotTable.InProcessClaimArbiter]]
  * cannot give: its claims are per-JVM state, so only a DURABLE arbiter
  * makes the multi-process story real. Zero lost commits is the bar: every
  * append from both writers and the parent's cow mutation must survive. */
class CrossProcessClaimSpec extends SparkSpec {

  /** The forked JVM mirrors the test JVM's module opens (Spark 4 on JDK 17
    * needs them) and classpath. */
  private def forkChild(args: Seq[String], logFile: java.io.File): Process = {
    import scala.jdk.CollectionConverters._
    val javaBin = JPaths.get(sys.props("java.home"), "bin", "java").toString
    val inherited = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filter(a =>
        a.startsWith("--add-opens") || a.startsWith("--add-exports"))
    val cmd = Seq(javaBin) ++ inherited ++ Seq("-Xmx3g",
      "-cp", sys.props("java.class.path"),
      classOf[CrossProcessWriterMain.type].getName.stripSuffix("$")) ++ args
    val pb = new ProcessBuilder(cmd: _*)
    pb.redirectErrorStream(true)
    pb.redirectOutput(logFile)
    pb.start()
  }

  test("lockCommit is a real mutex across arbiter instances, and a crashed " +
      "holder's stale commit.lock is taken over, not waited on forever") {
    val lockDir = JFiles.createTempDirectory("xproc_mutex").toFile.getAbsolutePath
    val arb = new LockDirClaimArbiter(lockDir)
    val arb2 = new LockDirClaimArbiter(lockDir) // no shared state with arb
    arb.lockCommit("r")
    @volatile var acquired = false
    val waiter = new Thread(() => { arb2.lockCommit("r"); acquired = true })
    waiter.start()
    Thread.sleep(300)
    assert(!acquired, "second holder entered a held commit section")
    arb.unlockCommit("r")
    waiter.join(10000)
    assert(acquired, "waiter never acquired after release")
    arb2.unlockCommit("r")

    // crashed holder: the leaked lock ages past the staleness threshold
    // and the next waiter takes it over instead of hanging
    arb.lockCommit("r")
    arb2.staleCommitLockMillis = 100L
    Thread.sleep(300)
    arb2.lockCommit("r")
    arb2.unlockCommit("r")
  }

  test("fencing: a paused holder whose commit.lock was taken over cannot " +
      "pass verifyFence, and its unlock leaves the taker's lock intact") {
    val lockDir = JFiles.createTempDirectory("xproc_fence").toFile.getAbsolutePath
    val holder = new LockDirClaimArbiter(lockDir)
    val taker = new LockDirClaimArbiter(lockDir)
    holder.staleCommitLockMillis = 60L
    taker.staleCommitLockMillis = 60L
    holder.lockCommit("r")
    holder.verifyFence("r") // owned: passes
    Thread.sleep(150)       // the "GC pause": the lock goes stale
    taker.lockCommit("r")   // breaks the stale lock, bumps the fence epoch
    val e = intercept[IllegalStateException](holder.verifyFence("r"))
    assert(e.getMessage.contains("TAKEN OVER"))
    taker.verifyFence("r")  // the taker owns the current epoch
    // the paused holder's unlock must NOT delete the taker's fresh lock
    holder.unlockCommit("r")
    val slugDir = new java.io.File(lockDir).listFiles()
      .filter(_.isDirectory).head
    assert(new java.io.File(slugDir, "commit.lock").exists(),
      "paused holder deleted the taker's lock")
    taker.unlockCommit("r")
    assert(!new java.io.File(slugDir, "commit.lock").exists())
  }

  test("fencing: a SAME-JVM taker on the SHARED arbiter instance does not " +
      "disarm the paused holder's fence (per-holder epoch slots)") {
    val lockDir = JFiles.createTempDirectory("xproc_fence_jvm").toFile.getAbsolutePath
    val arb = new LockDirClaimArbiter(lockDir)
    arb.staleCommitLockMillis = 60L
    arb.lockCommit("r") // main thread = the holder that will pause
    Thread.sleep(150)   // ... and pauses past the staleness threshold
    val entered = new java.util.concurrent.CountDownLatch(1)
    val exit = new java.util.concurrent.CountDownLatch(1)
    val taker = new Thread(() => {
      arb.lockCommit("r") // takes over via the SAME instance
      entered.countDown()
      exit.await()
      arb.unlockCommit("r")
    })
    taker.start()
    assert(entered.await(10, java.util.concurrent.TimeUnit.SECONDS))
    // the taker's own heldEpoch record must not have clobbered the paused
    // holder's — its fence still fires
    val e = intercept[IllegalStateException](arb.verifyFence("r"))
    assert(e.getMessage.contains("TAKEN OVER"))
    // and the paused holder's unlock leaves the taker's lock intact
    arb.unlockCommit("r")
    val slugDir = new java.io.File(lockDir).listFiles()
      .filter(_.isDirectory).head
    assert(new java.io.File(slugDir, "commit.lock").exists(),
      "paused holder deleted the same-JVM taker's lock")
    exit.countDown(); taker.join(10000)
    assert(!new java.io.File(slugDir, "commit.lock").exists())
  }

  test("fencing end-to-end: a holder paused past takeover INSIDE the " +
      "commit section has its append rejected at the log tail; the store " +
      "stays consistent and later commits proceed") {
    import spark.implicits._
    val lockDir = JFiles.createTempDirectory("xproc_fence2").toFile.getAbsolutePath
    val root = JFiles.createTempDirectory("xproc_fence2_t").toFile.getAbsolutePath
    val arb = new LockDirClaimArbiter(lockDir)
    arb.staleCommitLockMillis = 80L
    SnapshotTable.registerClaimArbiter(root, arb)
    try {
      val t = new SnapshotTable(spark, root)
      t.commit(Seq((1L, "a")).toDF("id", "v"))
      val canon = SnapshotTable.canonicalRoot(root)
      val taker = new LockDirClaimArbiter(lockDir)
      taker.staleCommitLockMillis = 80L
      @volatile var paused = false
      t.beforeLogTail = () => if (!paused) {
        paused = true
        Thread.sleep(200)       // pause INSIDE the section, past staleness
        taker.lockCommit(canon) // "another process" takes the section over
      }
      val e = intercept[IllegalStateException](
        t.commit(Seq((2L, "b")).toDF("id", "v"), op = "append"))
      assert(e.getMessage.contains("TAKEN OVER"))
      t.beforeLogTail = () => ()
      taker.unlockCommit(canon)
      // the rejected append never reached the log
      assert(t.read().count() === 1)
      assert(t.history().count() === 1)
      // a later commit acquires a fresh section and proceeds
      t.commit(Seq((3L, "c")).toDF("id", "v"), op = "append")
      assert(t.read().count() === 2)
    } finally SnapshotTable.unregisterClaimArbiter(root)
  }

  test("token-conditional tail write: a holder paused BETWEEN the fence " +
      "check and the log-tail write (the r18 residual window) still " +
      "cannot land its line after takeover — check + write are atomic " +
      "under the epoch's OS lock") {
    import spark.implicits._
    val lockDir = JFiles.createTempDirectory("xproc_fence3").toFile.getAbsolutePath
    val root = JFiles.createTempDirectory("xproc_fence3_t").toFile.getAbsolutePath
    val arb = new LockDirClaimArbiter(lockDir)
    arb.staleCommitLockMillis = 80L
    SnapshotTable.registerClaimArbiter(root, arb)
    try {
      val t = new SnapshotTable(spark, root)
      t.commit(Seq((1L, "a")).toDF("id", "v"))
      val canon = SnapshotTable.canonicalRoot(root)
      val taker = new LockDirClaimArbiter(lockDir)
      taker.staleCommitLockMillis = 80L
      @volatile var paused = false
      // the pause lands AFTER verifyFence has already PASSED — exactly
      // the window a token check alone cannot close
      t.afterFenceBeforeTail = () => if (!paused) {
        paused = true
        Thread.sleep(200)       // past staleness, fence already checked
        taker.lockCommit(canon) // takeover bumps the epoch
      }
      val e = intercept[IllegalStateException](
        t.commit(Seq((2L, "b")).toDF("id", "v"), op = "append"))
      assert(e.getMessage.contains("TAKEN OVER"))
      t.afterFenceBeforeTail = () => ()
      taker.unlockCommit(canon)
      // the rejected append never reached the log
      assert(t.read().count() === 1)
      assert(t.history().count() === 1)
      // a later commit acquires a fresh section and proceeds
      t.commit(Seq((3L, "c")).toDF("id", "v"), op = "append")
      assert(t.read().count() === 2)
    } finally SnapshotTable.unregisterClaimArbiter(root)
  }

  test("token-conditional tail write on a NON-LOCAL lock root (r20): the " +
      "create-exclusive fence marker rejects a holder paused between the " +
      "fence check and the tail write after takeover — the OS-lock trick " +
      "is POSIX-only, so Hadoop-FS roots fence through the marker") {
    import spark.implicits._
    val hconf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    hconf.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val lockLocal = JFiles.createTempDirectory("xproc_fence4").toFile.getAbsolutePath
    val lockRoot = s"graftfs://$lockLocal"
    val root = JFiles.createTempDirectory("xproc_fence4_t").toFile.getAbsolutePath
    val arb = new LockDirClaimArbiter(lockRoot, hconf)
    arb.staleCommitLockMillis = 80L
    SnapshotTable.registerClaimArbiter(root, arb)
    try {
      val t = new SnapshotTable(spark, root)
      t.commit(Seq((1L, "a")).toDF("id", "v"))
      val canon = SnapshotTable.canonicalRoot(root)
      val taker = new LockDirClaimArbiter(lockRoot, hconf)
      taker.staleCommitLockMillis = 80L
      @volatile var paused = false
      // the pause lands AFTER verifyFence has already PASSED — on a
      // non-local root there is no OS lock to make check+write atomic;
      // only the marker create can reject this holder
      t.afterFenceBeforeTail = () => if (!paused) {
        paused = true
        Thread.sleep(200)       // past staleness, fence already checked
        taker.lockCommit(canon) // takeover claims the epoch's fence marker
      }
      val e = intercept[IllegalStateException](
        t.commit(Seq((2L, "b")).toDF("id", "v"), op = "append"))
      assert(e.getMessage.contains("TAKEN OVER"))
      t.afterFenceBeforeTail = () => ()
      taker.unlockCommit(canon)
      // the rejected append never reached the log
      assert(t.read().count() === 1)
      assert(t.history().count() === 1)
      // a later commit claims the NEW epoch's marker and proceeds; its
      // clean unlock releases that marker for the next section
      t.commit(Seq((3L, "c")).toDF("id", "v"), op = "append")
      assert(t.read().count() === 2)
      t.commit(Seq((4L, "d")).toDF("id", "v"), op = "append")
      assert(t.read().count() === 3)
    } finally SnapshotTable.unregisterClaimArbiter(root)
  }

  test("a live mid-write holder on a NON-LOCAL lock root is NOT broken: " +
      "the breaker loses the fence-marker race and aborts its takeover " +
      "instead of deleting the writer's lock") {
    val hconf = new org.apache.hadoop.conf.Configuration(
      spark.sparkContext.hadoopConfiguration)
    hconf.set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val lockLocal = JFiles.createTempDirectory("xproc_fence5").toFile.getAbsolutePath
    val lockRoot = s"graftfs://$lockLocal"
    val root = JFiles.createTempDirectory("xproc_fence5_t").toFile.getAbsolutePath
    val canon = SnapshotTable.canonicalRoot(root)
    val holder = new LockDirClaimArbiter(lockRoot, hconf)
    holder.staleCommitLockMillis = 200L
    // the holder acquires, then its LOCK ages past staleness…
    holder.lockCommit(canon)
    Thread.sleep(250)
    // …but the holder is ALIVE and mid-write: its fence marker is fresh
    var wrote = false
    holder.conditionalTailWrite(canon, () => { wrote = true })
    assert(wrote)
    val taker = new LockDirClaimArbiter(lockRoot, hconf)
    taker.staleCommitLockMillis = 200L
    taker.commitLockTimeoutMillis = 100L // < marker staleness budget
    val e = intercept[IllegalStateException](taker.lockCommit(canon))
    assert(e.getMessage.contains("not acquired"),
      s"the breaker must lose the marker race and time out, not take " +
        s"over a live writer: ${e.getMessage}")
    holder.unlockCommit(canon)
    // after the clean unlock (marker released) the taker acquires normally
    taker.lockCommit(canon)
    taker.unlockCommit(canon)
  }

  test("two OS processes with no shared memory interleave appends + a cow " +
      "mutation on an S3-shaped root under the durable lock-dir arbiter: " +
      "zero lost commits") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.grafts3.impl", classOf[GraftS3LikeFs].getName)
    val local = JFiles.createTempDirectory("xproc_s3").toFile.getAbsolutePath
    val root = s"grafts3://$local"
    val lockDir = JFiles.createTempDirectory("xproc_lock").toFile.getAbsolutePath
    val syncDir = JFiles.createTempDirectory("xproc_sync").toFile.getAbsolutePath
    val childLog = JFiles.createTempFile("xproc_child", ".log").toFile
    val nChild = 6
    val nParent = 6

    // the hazard is real on this fs: create-exclusive silently overwrites
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val probe = new org.apache.hadoop.fs.Path(root, "probe")
    fs.create(probe, false).close()
    fs.create(probe, false).close()

    SnapshotTable.registerClaimArbiter(root, new LockDirClaimArbiter(lockDir))
    try {
      val t = new SnapshotTable(spark, root)
      t.commit(Seq((0L, "seed")).toDF("id", "w")) // v0

      val child = forkChild(
        Seq(root, lockDir, syncDir, nChild.toString), childLog)
      try {
        // barrier: wait for the child's session + arbiter, then release both
        val readyDeadline = System.currentTimeMillis() + 180000L
        while (!JFiles.exists(JPaths.get(syncDir, "ready")) &&
          child.isAlive && System.currentTimeMillis() < readyDeadline)
          Thread.sleep(50)
        assert(JFiles.exists(JPaths.get(syncDir, "ready")),
          s"child never became ready; log:\n" +
            JFiles.readString(childLog.toPath))
        JFiles.writeString(JPaths.get(syncDir, "go"), "1\n")

        // parent's interleaved work: appends, then a cow DELETE of the seed
        // row — each retried through CommitConflictException while the
        // child's commits land under it (Iceberg's optimistic contract)
        import CrossProcessWriterMain.retryingConflicts
        (0 until nParent).foreach { i =>
          retryingConflicts(30)(
            t.commit(Seq((i.toLong + 1L, "A")).toDF("id", "w"), op = "append"))
        }
        retryingConflicts(30)(t.deleteWhere(col("id") === 0L))

        assert(child.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
          "child did not exit in time")
        assert(child.exitValue() === 0,
          s"child failed; log:\n" + JFiles.readString(childLog.toPath))
        assert(JFiles.readString(JPaths.get(syncDir, "done")).trim.toInt
          === nChild)
      } finally if (child.isAlive) child.destroyForcibly()

      // zero lost commits: every append from BOTH processes present, the
      // seed row cow-deleted, all versions distinct
      val fresh = new SnapshotTable(spark, root)
      val ids = fresh.read().select("id").as[Long].collect().sorted
      assert(ids === ((1 to nParent).map(_.toLong) ++
        (0 until nChild).map(1000L + _)).sorted.toArray,
        s"lost or phantom commits; ids = ${ids.mkString(",")}")
      val versions = fresh.history().select("version").as[Long].collect()
      assert(versions.distinct.length === versions.length)
      assert(versions.length === 1 + nParent + nChild + 1,
        s"history rows = ${versions.length}")
      // the head's logged row_count is the table's true count: each commit
      // derived it from the log as it stood inside its commit section, not
      // from the log it read before the other process's commits landed
      val headRows = fresh.history()
        .filter(col("version") === fresh.currentVersion.get)
        .select("row_count").as[Long].head()
      assert(headRows === ids.length.toLong,
        s"head row_count $headRows but the table reads ${ids.length} rows")
    } finally SnapshotTable.unregisterClaimArbiter(root)
  }
}
