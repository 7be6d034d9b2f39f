package graft.sources

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** The SECOND OS PROCESS of `CrossProcessClaimSpec`: a writer with no shared
  * memory with the spec's JVM, committing appends to the same S3-shaped root
  * under the same durable [[LockDirClaimArbiter]] lock dir. File-based
  * barrier: writes `<sync>/ready` once its session + arbiter are up, waits
  * for `<sync>/go`, appends `n` rows one commit at a time, writes
  * `<sync>/done` with its success count and conflict-retry count, exits
  * 0. */
object CrossProcessWriterMain {

  /** Runs `commit`, re-running it up to `attempts` times in all while it
    * raises [[SnapshotTable.CommitConflictException]], and counts each
    * re-run in `retries`. */
  @annotation.tailrec
  def retryingConflicts[T](attempts: Int, retries: java.util.concurrent.atomic.AtomicInteger)(
      commit: => T): T =
    scala.util.Try(commit) match {
      case scala.util.Failure(_: SnapshotTable.CommitConflictException)
          if attempts > 1 =>
        retries.incrementAndGet()
        retryingConflicts(attempts - 1, retries)(commit)
      case done => done.get
    }

  def main(args: Array[String]): Unit = {
    val Array(root, lockDir, syncDir, nStr) = args
    val n = nStr.toInt
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-xproc-writer")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try {
      spark.sparkContext.hadoopConfiguration
        .set("fs.grafts3.impl", classOf[GraftS3LikeFs].getName)
      SnapshotTable.registerClaimArbiter(root, new LockDirClaimArbiter(lockDir))
      import spark.implicits._
      Files.writeString(Paths.get(syncDir, "ready"), "1\n")
      val deadline = System.currentTimeMillis() + 120000L
      while (!Files.exists(Paths.get(syncDir, "go")) &&
        System.currentTimeMillis() < deadline) Thread.sleep(20)
      require(Files.exists(Paths.get(syncDir, "go")), "no go signal in 120 s")
      val t = new SnapshotTable(spark, root)
      var ok = 0
      val retries = new java.util.concurrent.atomic.AtomicInteger(0)
      (0 until n).foreach { i =>
        retryingConflicts(30, retries)(
          t.commit(Seq((1000L + i, "B")).toDF("id", "w"), op = "append"))
        ok += 1
      }
      Files.writeString(Paths.get(syncDir, "done"), s"$ok ${retries.get}\n")
      println(s"[xproc] child committed $ok appends")
    } finally spark.stop()
    sys.exit(0)
  }
}
