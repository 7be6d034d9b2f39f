package graft.sources

import java.nio.file.{Files => JFiles, Paths => JPaths}

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.GraftTestBus
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.SparkSpec

/** Store, Iceberg and key-file reads plan from the metadata the engine
  * wrote: building a read frame launches no Spark job (no parquet schema
  * inference) and lists no directory. Also pins the manifest records every
  * data-writing commit kind leaves (the format readers assume), the
  * claimed-key record's lifecycle, and the `listStatus` walk that replaced
  * `FileSystem.listFiles` on the commit and export listings. */
class MetadataPlanningSpec extends SparkSpec {

  import spark.implicits._

  private type Model = Map[Long, (String, Long)]

  private def rows(ids: Range): DataFrame =
    ids.map(i => (i.toLong, s"t$i", (i % 7).toLong)).toDF("id", "text", "n")

  private def asModel(df: DataFrame): Model =
    df.select("id", "text", "n").as[(Long, String, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.mkString("|")).toSeq.sorted

  private def shape(s: StructType) =
    s.fields.toSeq.map(f => (f.name, f.dataType, f.nullable))

  /** A chain holding every read-path shape: a range-clustered base, a
    * same-schema delta run, a mor delete, a mor update, a mor merge that
    * claims keys, an insert-only merge and a position delete. Returns the
    * model of the table at each version. */
  private def buildChain(root: String): Map[Long, Model] = {
    val t = new SnapshotTable(spark, root)
    var model: Model = Map.empty
    val at = scala.collection.mutable.Map.empty[Long, Model]
    def step(v: Long, m: Model): Unit = { model = m; at(v) = m }
    t.setSortOrder(Seq("id"), files = 4)
    t.commit(rows(0 until 200))                                         // v0
    step(0, asModel(rows(0 until 200)))
    t.commit(rows(200 until 300), op = "append")                        // v1
    step(1, model ++ asModel(rows(200 until 300)))
    t.commit(rows(300 until 400), op = "append")                        // v2
    step(2, model ++ asModel(rows(300 until 400)))
    t.deleteWhereMor(col("id") < 10L, "id")                             // v3
    step(3, model.filter(_._1 >= 10L))
    t.updateMor(col("id") >= 100L && col("id") < 110L,
      Map("n" -> (col("n") + 1000L)), "id")                             // v4
    step(4, model.map { case (id, (s, n)) =>
      id -> (if (id >= 100L && id < 110L) (s, n + 1000L) else (s, n)) })
    val src = (120L to 124L).map(i => (i, s"src$i", 7L)) ++
      (500L to 502L).map(i => (i, s"src$i", 8L))
    t.mergeIntoMor(src.toDF("id", "text", "n"), "id",
      matched = Seq((None, Some(Map("text" -> lit("merged"))))),
      notMatched = Seq((None, None)))                                   // v5
    step(5, model.map { case (id, (s, n)) =>
      id -> (if (id >= 120L && id <= 124L) ("merged", n) else (s, n)) } ++
      (500L to 502L).map(i => i -> (s"src$i", 8L)))
    t.mergeIntoMor(Seq((600L, "new", 9L), (601L, "new", 9L))
      .toDF("id", "text", "n"), "id",
      matched = Seq((None, Some(Map("text" -> lit("never"))))),
      notMatched = Seq((None, None)))                                   // v6
    step(6, model ++ Seq(600L -> ("new", 9L), 601L -> ("new", 9L)))
    t.deleteWherePos(col("id") === 150L)                                // v7
    step(7, model - 150L)
    at.toMap
  }

  private val pred: Column = col("id") >= 100L && col("id") < 250L

  test("building store and Iceberg read frames launches no Spark job; " +
      "schemas are the inferred ones and rows match the model") {
    val root = JFiles.createTempDirectory("planmeta").toFile.getAbsolutePath
    val models = buildChain(root)
    val ice = JFiles.createTempDirectory("planmeta_ice").toFile.getAbsolutePath
    IcebergExport.export(rows(0 until 40).coalesce(2), ice)
    IcebergExport.appendEqualityDeletes(spark, ice,
      Seq(3L, 4L).toDF("id"), Seq("id"))
    IcebergExport.appendPositionDeletes(spark, ice,
      IcebergExport.readTableWithPos(spark, ice).filter(col("id") === 30L)
        .select(col("__ice_file").as("file_path"), col("__ice_pos").as("pos")))

    val fresh = new SnapshotTable(spark, root) // nothing cached
    val frames: Seq[(String, () => DataFrame)] = Seq(
      "read()" -> (() => fresh.read()),
      "readWhere(p)" -> (() => fresh.readWhere(pred)),
      "read(Some(4))" -> (() => fresh.read(Some(4L))),
      "changes(2, 7)" -> (() => fresh.changes(2L, 7L)),
      "changes(2, 7, id)" -> (() => fresh.changes(2L, 7L, "id")),
      "readTable" -> (() => IcebergExport.readTable(spark, ice)))
    val built = frames.map { case (name, build) =>
      val (jobs, df) = GraftTestBus.jobsDuring(spark.sparkContext)(build())
      assert(jobs === 0, s"building $name launched $jobs Spark job(s)")
      name -> df
    }.toMap
    val (kept, total) = fresh.lastPruneStats
    assert(kept > 0 && kept < total, s"readWhere should prune: $kept/$total")

    val inferred = shape(spark.read.parquet(s"$root/v=0").schema)
    Seq("read()", "readWhere(p)", "read(Some(4))").foreach(n =>
      assert(shape(built(n).schema) === inferred, n))
    Seq("changes(2, 7)", "changes(2, 7, id)").foreach(n =>
      assert(shape(built(n).schema).filter(_._1 != "_change_type") === inferred, n))
    assert(shape(built("readTable").schema) ===
      shape(spark.read.parquet(s"$ice/data").schema))

    val oracle = new SnapshotTable(spark, root)
    assert(asModel(built("read()")) === models(7L))
    assert(asModel(built("read(Some(4))")) === models(4L))
    assert(asModel(built("readWhere(p)")) ===
      models(7L).filter { case (id, _) => id >= 100L && id < 250L })
    assert(sortedRows(built("readWhere(p)")) ===
      sortedRows(oracle.read().filter(pred)))
    assert(sortedRows(built("changes(2, 7)")) ===
      sortedRows(oracle.changes(2L, 7L)))
    assert(sortedRows(built("changes(2, 7, id)")) ===
      sortedRows(oracle.changes(2L, 7L, "id")))
    assert(asModel(built("readTable")) ===
      asModel(rows(0 until 40)) -- Seq(3L, 4L, 30L))
  }

  private def manifestText(root: String, v: Long): Option[String] = {
    val p = JPaths.get(root, "_graft_manifest", s"v=$v.tsv")
    if (JFiles.exists(p)) Some(JFiles.readString(p)) else None
  }

  test("every data-writing commit kind records the manifest readers assume: " +
      "#schema first, four-field file lines, #keyschema for mor update/merge") {
    val root = JFiles.createTempDirectory("planmeta_format").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    val claimText = Seq((None, Some(Map("text" -> lit("m")))))
    val kinds: Seq[(String, () => Long)] = Seq(
      "overwrite" -> (() => t.commit(rows(0 until 50))),
      "append" -> (() => t.commit(rows(50 until 60), op = "append")),
      "cow delete" -> (() => t.deleteWhere(col("id") === 1L)),
      "deleteWhereMor" -> (() => t.deleteWhereMor(col("id") === 2L, "id")),
      "deleteWherePos" -> (() => t.deleteWherePos(col("id") === 3L)),
      "updateMor" -> (() =>
        t.updateMor(col("id") === 4L, Map("n" -> lit(-1L)), "id")),
      "mergeIntoMor" -> (() =>
        t.mergeIntoMor(rows(5 until 6), "id", claimText, Seq((None, None)))),
      "insert-only mergeIntoMor" -> (() =>
        t.mergeIntoMor(rows(70 until 71), "id", claimText, Seq((None, None)))),
      "compact" -> (() => t.compact(targetFiles = 1)),
      "commitToBranch" -> { () =>
        t.createBranch("dev"); t.commitToBranch("dev", rows(80 until 81), "append") },
      "rollback to an asof target" -> (() => t.rollback(1L)))
    val landed = kinds.map { case (kind, commit) => commit() -> kind }.toMap
    assert(landed.size === kinds.size)
    // every commit logs the table's row total: what its version reads back
    // (a branch commit: the branch's)
    val logged = t.history().select("version", "row_count").as[(Long, Long)]
      .collect().toMap
    val wrong = landed.toSeq.sortBy(_._1).flatMap { case (v, kind) =>
      val total =
        if (kind == "commitToBranch") t.readBranch("dev").count() else t.read(Some(v)).count()
      if (logged(v) == total) None else Some(s"$kind v=$v logs ${logged(v)}, reads $total")
    }
    assert(wrong.isEmpty, wrong.mkString("; "))
    val log = t.commitOps()
    val owners = log.map(_._1).filter(v => JFiles.isDirectory(JPaths.get(root, s"v=$v")))
    assert(owners.map(landed) === kinds.map(_._1).dropRight(1),
      "every kind but the metadata-only rollback owns a v=N dir")
    owners.foreach { v =>
      val lines = manifestText(root, v).getOrElse(fail(s"${landed(v)} v=$v: no manifest"))
        .split('\n').toSeq.filter(_.nonEmpty)
      assert(lines.head.startsWith("#schema\t"), s"${landed(v)} v=$v")
      assert(lines.filterNot(_.startsWith("#")).forall(_.split("\t", -1).length == 4),
        s"${landed(v)} v=$v: a file line without four fields")
    }
    val morLike = log.collect { case (v, op) if t.isMorUpdateLike(op) => v }
    assert(morLike.map(landed) ===
      Seq("updateMor", "mergeIntoMor", "insert-only mergeIntoMor"))
    morLike.foreach(v => assert(manifestText(root, v).exists(
      _.split('\n').exists(_.startsWith("#keyschema\t"))), s"${landed(v)} v=$v"))
  }

  test("expiry and orphan removal treat a version's manifest and key " +
      "files as one unit; a crash after the key record is reclaimed") {
    val root = JFiles.createTempDirectory("planmeta_life").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(rows(0 until 50))                                          // v0
    t.updateMor(col("id") < 5L, Map("n" -> lit(-1L)), "id")             // v1
    def hasKeys(v: Long) = JFiles.isDirectory(JPaths.get(root, s"v=$v", "_graft_deletes"))
    assert(hasKeys(1L) && manifestText(root, 1L).exists(_.contains("#keyfile\t")))
    // v1 is reachable from the head: expiry keeps its dir and manifest
    t.commit(rows(50 until 60), op = "append")                          // v2
    assert(t.expireSnapshots(keep = 1) === Nil)
    assert(hasKeys(1L) && manifestText(root, 1L).exists(_.contains("#keyschema\t")))
    t.compact(targetFiles = 1)                                          // v3
    assert(t.expireSnapshots(keep = 1) === Seq(0L, 1L, 2L))
    assert(!JFiles.exists(JPaths.get(root, "v=1")) && manifestText(root, 1L).isEmpty)
    val after = asModel(t.read())
    assert(after.size === 60 && after.filter(_._1 < 5L).values.forall(_._2 == -1L))

    // crash after the key files and their record land, before the log
    t.beforeFinalHeadCheck = () => throw new IllegalStateException("injected crash")
    intercept[IllegalStateException] {
      t.updateMor(col("id") === 20L, Map("n" -> lit(77L)), "id")
    }
    t.beforeFinalHeadCheck = () => ()
    assert(hasKeys(4L) && manifestText(root, 4L).exists(_.contains("#keyfile\t")))
    assert(asModel(new SnapshotTable(spark, root).read()) === after,
      "an unlogged version is invisible")
    // the writer is dead: its marker is swept and its debris has aged
    JFiles.delete(JPaths.get(root, "_graft_commits", "v=4"))
    JFiles.setLastModifiedTime(JPaths.get(root, "v=4"),
      java.nio.file.attribute.FileTime.fromMillis(System.currentTimeMillis() - 600000L))
    assert(t.removeOrphans(olderThanMillis = 60000L, force = true) === Seq(4L))
    assert(!JFiles.exists(JPaths.get(root, "v=4")) && manifestText(root, 4L).isEmpty)
    // the retry commits
    val v = t.updateMor(col("id") === 20L, Map("n" -> lit(77L)), "id")
    assert(t.currentVersion === Some(v))
    assert(asModel(new SnapshotTable(spark, root).read()) ===
      after.updated(20L, (after(20L)._1, 77L)))
  }

  test("hive partition-dir values decode as Spark escapes them, on plain " +
      "and pruned reads") {
    val root = JFiles.createTempDirectory("planmeta_esc").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    val vals = Seq("a+b", "x y", "50%", "c=d/e")
    t.commitPartitioned(vals.zipWithIndex.map { case (k, i) => (i.toLong, k) }
      .toDF("id", "k"), Seq("k"))
    val fresh = new SnapshotTable(spark, root)
    assert(fresh.read().select("k").as[String].collect().sorted === vals.sorted)
    val pruned = fresh.readWhere(col("k") === "a+b" || col("k") === "50%")
    assert(pruned.select("k").as[String].collect().sorted === Seq("50%", "a+b"))
    assert(fresh.lastPruneStats === ((2L, 4L)))
  }

  /** The listing the commit and export paths ran before the walk:
    * `FileSystem.listFiles`, hidden segments dropped. */
  private def listFilesReference(fs: FileSystem, dir: Path): Seq[(String, Long)] = {
    val it = fs.listFiles(dir, true)
    val base = fs.makeQualified(dir).toUri.getPath.stripSuffix("/") + "/"
    val buf = scala.collection.mutable.ArrayBuffer.empty[(String, Long)]
    while (it.hasNext) {
      val st = it.next()
      val rel = st.getPath.toUri.getPath.stripPrefix(base)
      if (st.isFile &&
          rel.split('/').forall(s => !s.startsWith("_") && !s.startsWith(".")))
        buf += ((rel, st.getLen))
    }
    buf.toSeq.sortBy(_._1)
  }

  test("the listStatus walk lists exactly what listFiles did, on file: and " +
      "a scheme'd root") {
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val local = JFiles.createTempDirectory("planmeta_ls").toFile.getAbsolutePath
    val tree = Seq("a=1/b=x/part-0.parquet", "a=1/b=x/.part-0.parquet.crc",
      "a=2/part-1.parquet", "_SUCCESS", "._SUCCESS.crc",
      "_graft_deletes/part-9.parquet", "deletes-abc/part-2.parquet",
      "a=3/_temporary/0/part-3.parquet", ".hidden/part-4.parquet",
      "part-5.parquet", "a=sp%20ace/part-6.parquet")
    tree.zipWithIndex.foreach { case (rel, i) =>
      val p = JPaths.get(local, "data", rel)
      JFiles.createDirectories(p.getParent)
      JFiles.write(p, Array.fill[Byte](i + 1)(1))
    }
    Seq(local, s"file://$local", s"graftfs://$local").foreach { dest =>
      val dataDir = new Path(s"$dest/data")
      val fs = dataDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val reference = listFilesReference(fs, dataDir)
      assert(reference.map(_._1) === Seq("a=1/b=x/part-0.parquet",
        "a=2/part-1.parquet", "a=sp%20ace/part-6.parquet",
        "deletes-abc/part-2.parquet", "part-5.parquet"), dest)
      assert(SnapshotTable.listVisibleFiles(fs, dataDir)
        .map { case (rel, st) => (rel, st.getLen) } === reference, dest)
      assert(IcebergExport.listDataFiles(spark, dest) === reference
        .filterNot(_._1.startsWith("deletes-"))
        .map { case (rel, len) =>
          (fs.makeQualified(new Path(dataDir, rel)).toString, len) }
        .sortBy(_._1), dest)
    }
  }
}
