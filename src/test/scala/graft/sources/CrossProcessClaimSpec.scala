package graft.sources

import java.nio.file.{Files => JFiles, Paths => JPaths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** TWO OS PROCESSES — this JVM and a forked child running
  * [[CrossProcessWriterMain]] — interleave commits on one S3-shaped root
  * (PUT overwrites, no append, no publish-if-absent) with NO shared memory,
  * their log records kept by [[LockDirClaimArbiter]] on a shared local
  * directory. Zero lost commits is the bar: every append from both writers
  * and the parent's cow mutation must survive, and no append conflicts. */
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
        // row — the delete retried through CommitConflictException while the
        // child's commits land under it (Iceberg's optimistic contract);
        // appends commute, so their retries stay at zero
        import CrossProcessWriterMain.retryingConflicts
        val appendRetries = new java.util.concurrent.atomic.AtomicInteger(0)
        (0 until nParent).foreach { i =>
          retryingConflicts(30, appendRetries)(
            t.commit(Seq((i.toLong + 1L, "A")).toDF("id", "w"), op = "append"))
        }
        retryingConflicts(30, new java.util.concurrent.atomic.AtomicInteger(0))(
          t.deleteWhere(col("id") === 0L))

        assert(child.waitFor(180, java.util.concurrent.TimeUnit.SECONDS),
          "child did not exit in time")
        assert(child.exitValue() === 0,
          s"child failed; log:\n" + JFiles.readString(childLog.toPath))
        val Array(childOk, childRetries) =
          JFiles.readString(JPaths.get(syncDir, "done")).trim.split(' ').map(_.toInt)
        assert(childOk === nChild)
        assert((appendRetries.get, childRetries) === (0, 0),
          "a plain append conflicted")
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
