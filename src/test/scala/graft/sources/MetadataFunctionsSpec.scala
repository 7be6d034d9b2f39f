package graft.sources

import java.nio.file.Files

import graft.SparkSpec

/** `TABLE(table_snapshot('t'))` / `TABLE(table_history('t'))` metadata scans
  * (reference readme.md:357-369) over both backing shapes. */
class MetadataFunctionsSpec extends SparkSpec {

  test("versioned SnapshotTable root: one snapshot row per commit with file metrics") {
    import spark.implicits._
    val root = Files.createTempDirectory("metasnap").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((1, "a"), (2, "b")).toDF("id", "v"))
    t.commit(Seq((1, "a"), (2, "b"), (3, "c")).toDF("id", "v"))
    t.commit(Seq((4, "d")).toDF("id", "v"), op = "append")
    t.read().createOrReplaceTempView("meta_versioned")

    val snaps = MetadataFunctions.tableSnapshot(spark, "meta_versioned")
      .orderBy("snapshot_id").collect()
    assert(snaps.map(_.getLong(0)).toSeq === Seq(0L, 1L, 2L))
    // lineage: v0 has no parent, each later version points at its predecessor
    assert(snaps(0).isNullAt(1) && snaps(1).getLong(1) === 0L && snaps(2).getLong(1) === 1L)
    assert(snaps.map(_.getString(2)).toSeq === Seq("overwrite", "overwrite", "append"))
    // record counts per committed version; real file counts and sizes
    assert(snaps.map(_.getLong(5)).toSeq === Seq(2L, 3L, 4L))
    assert(snaps.forall(r => r.getLong(4) > 0L && r.getLong(6) > 0L))

    val hist = MetadataFunctions.tableHistory(spark, "meta_versioned")
      .orderBy("snapshot_id").collect()
    assert(hist.map(_.getLong(1)).toSeq === Seq(0L, 1L, 2L))
    assert(hist.forall(_.getBoolean(3))) // linear log: all current ancestors
  }

  test("table_snapshot reports a partitioned version's files and bytes " +
      "from its manifest") {
    import spark.implicits._
    val root = Files.createTempDirectory("metapart").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    val ts = (s: String) => java.sql.Timestamp.from(java.time.Instant.parse(s))
    t.commitPartitioned(Seq((1L, ts("2025-03-01T10:00:00Z")),
      (2L, ts("2025-03-02T10:00:00Z"))).toDF("id", "ts"), Seq("days(ts)"))
    t.commit(Seq((3L, ts("2025-03-03T10:00:00Z"))).toDF("id", "ts"), op = "append")
    t.addColumn("note", "STRING") // metadata-only: no files of its own
    t.read().createOrReplaceTempView("meta_partsnap")
    val snaps = MetadataFunctions.tableSnapshot(spark, "meta_partsnap")
      .orderBy("snapshot_id").collect()
    // (files, bytes) each version's own commit wrote: one file per day
    def manifestBytes(v: Long) = t.readManifest(v)._2.map(_.bytes).sum
    assert(snaps.map(r => (r.getLong(0), r.getLong(4), r.getLong(6))).toSeq ===
      Seq((0L, 2L, manifestBytes(0L)), (1L, 1L, manifestBytes(1L)), (2L, 0L, 0L)))
    assert(snaps.take(2).forall(_.getLong(6) > 0L))
  }

  test("expired snapshot stays in history with zero remaining files") {
    import spark.implicits._
    val root = Files.createTempDirectory("metaexp").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    (1 to 3).foreach(i => t.commit(Seq.tabulate(i)(j => (j, s"r$j")).toDF("id", "v")))
    t.expireSnapshots(keep = 2)
    t.read().createOrReplaceTempView("meta_expired")
    val snaps = MetadataFunctions.tableSnapshot(spark, "meta_expired")
      .orderBy("snapshot_id").collect()
    // history retains the kept versions only (expire rewrites the log)
    assert(snaps.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(snaps.forall(_.getLong(4) > 0L))
  }

  test("plain table: single synthesized snapshot from file statistics") {
    import spark.implicits._
    val dir = Files.createTempDirectory("metaplain").toFile.getAbsolutePath
    Seq((1, "x"), (2, "y"), (3, "z")).toDF("id", "v")
      .repartition(2).write.mode("overwrite").parquet(s"$dir/t")
    spark.read.parquet(s"$dir/t").createOrReplaceTempView("meta_plain")
    val snaps = MetadataFunctions.tableSnapshot(spark, "meta_plain").collect()
    assert(snaps.length === 1)
    val s = snaps(0)
    assert(s.getLong(0) === 0L && s.isNullAt(1) && s.getString(2) === "APPEND")
    assert(s.getLong(4) === 2L)  // two parquet files from repartition(2)
    assert(s.getLong(5) === 3L)  // record count
    assert(s.getLong(6) > 0L)
    val hist = MetadataFunctions.tableHistory(spark, "meta_plain").collect()
    assert(hist.length === 1 && hist(0).getLong(1) === 0L && hist(0).getBoolean(3))
  }

  test("table_partitions: per-partition file/record metrics from footers") {
    import spark.implicits._
    val dir = Files.createTempDirectory("metaparts").toFile.getAbsolutePath
    Seq((1, "en", "a"), (2, "en", "b"), (3, "de", "c"), (4, "fr", "d"), (5, "fr", "e"))
      .toDF("id", "lang", "v")
      .write.partitionBy("lang").mode("overwrite").parquet(s"$dir/t")
    spark.read.parquet(s"$dir/t").createOrReplaceTempView("meta_parts")
    val parts = MetadataFunctions.tablePartitions(spark, "meta_parts")
      .orderBy("partition").collect()
    assert(parts.map(_.getString(0)).toSeq === Seq("lang=de", "lang=en", "lang=fr"))
    assert(parts.map(_.getLong(2)).toSeq === Seq(1L, 2L, 2L)) // record counts
    assert(parts.forall(r => r.getLong(1) >= 1L && r.getLong(3) > 0L))
    // unpartitioned table: one NULL-partition row with the full metrics
    Seq((1, "x"), (2, "y")).toDF("id", "v")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/u")
    spark.read.parquet(s"$dir/u").createOrReplaceTempView("meta_unpart")
    val up = MetadataFunctions.tablePartitions(spark, "meta_unpart").collect()
    assert(up.length === 1 && up(0).isNullAt(0) && up(0).getLong(2) === 2L)
  }

  test("files/partitions on a conf-bound MOR table count base data files only") {
    import spark.implicits._
    val root = Files.createTempDirectory("metamor").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq.tabulate(10)(i => (i.toLong, s"r$i")).toDF("id", "v"))
    t.deleteWhereMor(org.apache.spark.sql.functions.col("id") < 3L, "id")
    spark.conf.set("graft.snapshot.meta.mor", root)
    // Iceberg contract: files/partitions report DATA files; the 3-key
    // equality-delete file is not a data file and must not be counted
    val files = MetadataFunctions.tableFiles(spark, "meta.mor").collect()
    assert(files.map(_.getLong(2)).sum === 10L)
    assert(files.forall(_.getString(0).startsWith(t.versionDir(0L) + "/")))
    val parts = MetadataFunctions.tablePartitions(spark, "meta.mor").collect()
    assert(parts.length === 1 && parts(0).isNullAt(0))
    assert(parts(0).getLong(2) === 10L) // the store's data/<id> dir is not a partition
  }

  test("a genuine partition column named v keeps its segments") {
    import spark.implicits._
    val dir = Files.createTempDirectory("metav").toFile.getAbsolutePath
    Seq((1, 0), (2, 0), (3, 1)).toDF("id", "v")
      .write.partitionBy("v").mode("overwrite").parquet(s"$dir/t")
    spark.read.parquet(s"$dir/t").createOrReplaceTempView("meta_vcol")
    val parts = MetadataFunctions.tablePartitions(spark, "meta_vcol")
      .orderBy("partition").collect()
    assert(parts.map(_.getString(0)).toSeq === Seq("v=0", "v=1"))
    assert(parts.map(_.getLong(2)).toSeq === Seq(2L, 1L))
  }

  test("table_refs: branches/tags of a snapshot-bound table; empty for plain") {
    import spark.implicits._
    val root = Files.createTempDirectory("metarefs").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq((1, "a")).toDF("id", "v"))
    t.createTag("pin")
    t.createBranch("dev")
    spark.conf.set("graft.snapshot.meta.refd", root)
    val refs = MetadataFunctions.tableRefs(spark, "meta.refd")
      .orderBy("ref_name").collect()
    assert(refs.map(r => (r.getString(0), r.getString(1))).toSeq ===
      Seq(("dev", "branch"), ("pin", "tag")))
    // a plain table has no refs
    Seq((1, "x")).toDF("id", "v").write.mode("overwrite")
      .parquet(root + "_plain")
    spark.read.parquet(root + "_plain").createOrReplaceTempView("meta_norefs")
    assert(MetadataFunctions.tableRefs(spark, "meta_norefs").count() === 0)
  }

  test("files/partitions over an engine-written store open ZERO parquet footers") {
    import spark.implicits._
    val root = Files.createTempDirectory("meta_manifest").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq.tabulate(20)(i => (i.toLong, s"r$i")).toDF("id", "v"))
    t.commit(Seq((100L, "d")).toDF("id", "v"), op = "append")
    spark.conf.set("graft.snapshot.meta.cached", root)
    val before = MetadataFunctions.footerReads.get()
    val files = MetadataFunctions.tableFiles(spark, "meta.cached").collect()
    val parts = MetadataFunctions.tablePartitions(spark, "meta.cached").collect()
    // stats come from the commit-time manifests — not one footer re-opened
    assert(MetadataFunctions.footerReads.get() === before,
      "metadata scan re-opened parquet footers despite commit manifests")
    // the listing spans the base AND the append delta, and the manifest
    // counts agree with the live data
    assert(files.exists(_.getString(0).startsWith(t.versionDir(0L) + "/")) &&
      files.exists(_.getString(0).startsWith(t.versionDir(1L) + "/")))
    assert(files.map(_.getLong(2)).sum === 21L)
    assert(parts.map(_.getLong(2)).sum === 21L)
    // a FOREIGN dir (no manifest) still works via the footer fallback
    Seq((1, "x")).toDF("id", "v").write.mode("overwrite")
      .parquet(root + "_foreign")
    spark.read.parquet(root + "_foreign").createOrReplaceTempView("meta_foreign")
    val ff = MetadataFunctions.tableFiles(spark, "meta_foreign").collect()
    assert(ff.map(_.getLong(2)).sum === 1L)
    assert(MetadataFunctions.footerReads.get() > before)
  }
}
