package graft.sources

import java.nio.file.{Files => JFiles, Path => JPath, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The commit protocol under injected crashes: each write op runs on a
  * [[GraftFaultFs]] root that crashes at its Nth `create`/`rename`/`delete`
  * (every later one failing too, the op's own clean-up included), for N
  * across the op's write points — its data write, its manifest, the record
  * publish, the steps after it. After each crash the store must open, hold
  * the pre-op or the post-op content, keep every logged version readable
  * at its logged row total, take a retry, and be left with no
  * unreferenced data dir once orphans are removed. */
class CommitCrashPointSpec extends SparkSpec {
  import spark.implicits._

  spark.sparkContext.hadoopConfiguration
    .set("fs.graftfault.impl", classOf[GraftFaultFs].getName)

  private def rows(ids: Range) =
    ids.map(i => (i.toLong, s"w$i")).toDF("id", "w").coalesce(1)

  /** v0 overwrite, v1 append, v2 equality delete, v3 append, v4 compact;
    * branch `dev` at v1, so an expiry keeping one version drops v2 and v3.
    * Built once, copied per crash. */
  private lazy val template: JPath = {
    val dir = JFiles.createTempDirectory("crash_template")
    val t = new SnapshotTable(spark, s"graftfault://$dir")
    t.commit(rows(0 until 20))
    t.commit(rows(20 until 25), op = "append")
    t.createBranch("dev")
    t.deleteWhereMor(col("id") < 3L, "id")
    t.commit(rows(25 until 28), op = "append")
    t.compact(1)
    dir
  }

  private def copyOf(src: JPath): String = {
    val dst = JFiles.createTempDirectory("crash_store")
    val walk = JFiles.walk(src)
    try walk.forEach { p =>
      val to = dst.resolve(src.relativize(p))
      if (JFiles.isDirectory(p)) JFiles.createDirectories(to)
      else JFiles.copy(p, to, java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    } finally walk.close()
    s"graftfault://$dst"
  }

  /** (main ids, dev ids, logged versions). */
  private def state(root: String): (Seq[Long], Seq[Long], Seq[Long]) = {
    val t = new SnapshotTable(spark, root)
    (t.read().select("id").as[Long].collect().sorted.toSeq,
      t.readBranch("dev").select("id").as[Long].collect().sorted.toSeq,
      t.history().select("version").as[Long].collect().sorted.toSeq)
  }

  /** Data dir ids under `root` that no log record names. */
  private def unnamed(root: String): Set[String] = {
    val t = new SnapshotTable(spark, root)
    val named = t.history().select("version").as[Long].collect().toSeq
      .flatMap(v => scala.util.Try(new org.apache.hadoop.fs.Path(t.versionDir(v)).getName).toOption)
    val local = Paths.get(new org.apache.hadoop.fs.Path(root).toUri.getPath)
    Option(local.resolve("data").toFile.list()).toSeq.flatten.toSet -- named
  }

  private def sweep(name: String, op: SnapshotTable => Any,
      versionsKept: ((Seq[Long], Seq[Long])) => Seq[Long] = _._1): Unit = {
    // an un-crashed run: its write-point count and the post-op state
    val clean = copyOf(template)
    val pre = state(clean)
    GraftFaultFs.arm(0)
    op(new SnapshotTable(spark, clean))
    val points = GraftFaultFs.disarm().toInt
    val post = state(clean)
    assert(points > 0 && post != pre, s"$name: the clean run changed nothing")
    // the first write points are Spark's task files; the last ones are the
    // manifest, the record publish and what follows it
    val crashAt = (Seq(1, points / 2) ++ (points - 4 to points)).filter(_ >= 1).distinct
    crashAt.foreach { n =>
      val root = copyOf(template)
      GraftFaultFs.arm(n)
      val outcome = scala.util.Try(op(new SnapshotTable(spark, root)))
      GraftFaultFs.disarm()
      val at = s"$name crashed at write point $n of $points (${outcome.failed.toOption
        .map(_.getMessage).getOrElse("no error")})"
      val (main, dev, logged) = state(root)
      assert((main, dev) === ((pre._1, pre._2)) || (main, dev) === ((post._1, post._2)),
        s"$at: content is neither the pre-op nor the post-op state")
      assert(versionsKept((pre._3, post._3)).forall(logged.contains),
        s"$at: a logged version was lost: $logged")
      // every version still logged reads back its logged total, the head's
      // included
      val t = new SnapshotTable(spark, root)
      t.history().select("version", "row_count").as[(Long, Long)].collect()
        .foreach { case (v, logged) =>
          assert(scala.util.Try(t.read(Some(v)).count()) === scala.util.Success(logged),
            s"$at: v=$v does not read its logged total")
        }
      assert(scala.util.Try(op(new SnapshotTable(spark, root))).isSuccess,
        s"$at: the retry failed")
      new SnapshotTable(spark, root).removeOrphans(0L, force = true)
      assert(unnamed(root) === Set.empty, s"$at: unreferenced data dirs remain")
      val after = new SnapshotTable(spark, root)
      assert(after.history().filter(col("version") === after.currentVersion.get)
        .select("row_count").as[Long].head() === after.read().count(),
        s"$at: head row_count after the retry")
    }
  }

  test("crash points: append") {
    sweep("append", _.commit(rows(100 until 102), op = "append"))
  }

  test("crash points: deleteWhereMor") {
    sweep("deleteWhereMor", _.deleteWhereMor(col("id") === 10L, "id"))
  }

  test("crash points: updateMor") {
    sweep("updateMor", _.updateMor(col("id") === 11L, Map("w" -> lit("u")), "id"))
  }

  test("crash points: compact") {
    sweep("compact", _.compact(1))
  }

  test("crash points: commitToBranch") {
    sweep("commitToBranch", _.commitToBranch("dev", rows(200 until 201), "append"))
  }

  test("crash points: expireSnapshots") {
    // versions the full expiry keeps must survive any crash in it
    sweep("expireSnapshots", _.expireSnapshots(1), versionsKept = _._2)
  }
}
