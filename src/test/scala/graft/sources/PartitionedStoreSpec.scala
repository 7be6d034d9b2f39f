package graft.sources

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Partitioned snapshot stores (Iceberg partition specs — the reference
  * partitions every workshop table: clinicdata.sql:51, finance_example.sql:25):
  * identity and hidden `days(ts)` layouts inside each version dir, partition
  * pruning on reads, and manifest-served partition metadata. */
class PartitionedStoreSpec extends SparkSpec {

  test("identity partitioning: hive layout, spec inherited by appends, pruning") {
    import spark.implicits._
    val root = Files.createTempDirectory("pstore_id").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    def batch(tag: String, n: Int) = Seq.tabulate(n)(i =>
      (i.toLong, Seq("eu", "us", "ap")(i % 3), s"$tag$i")).toDF("id", "region", "v")
    t.commitPartitioned(batch("a", 30).coalesce(1), Seq("region"))
    // layout: data/<id>/region=eu/part-*.parquet
    assert(Files.isDirectory(Paths.get(t.versionDir(0L), "region=eu")))
    assert(t.partitionSpec === Seq("region"))
    // a plain append INHERITS the spec — the whole chain stays partitioned
    t.commit(batch("b", 12).coalesce(1), op = "append")
    assert(Files.isDirectory(Paths.get(t.versionDir(1L), "region=us")))
    assert(t.read().count() === 42)
    // partition pruning on a plain read: Spark's own PartitionFilters
    val plan = t.read().filter(col("region") === "eu")
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("region"),
      s"no partition filter in plan:\n$plan")
    // file skipping sees partition values as per-file stats
    val got = t.readWhere(col("region") === "ap")
    assert(got.count() === 14)
    val (kept, total) = t.lastPruneStats
    assert(total === 6L && kept === 2L, s"kept=$kept total=$total")
    // content identical to the unpruned path
    assert(got.as[(Long, String, String)].collect().toSet ===
      t.read().filter(col("region") === "ap")
        .as[(Long, String, String)].collect().toSet)
  }

  test("hidden days(ts) partitioning: readers never see the day column; " +
      "timestamp predicates prune day files") {
    import spark.implicits._
    val root = Files.createTempDirectory("pstore_day").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    def ts(day: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2025-03-$day%02d $h%02d:30:00")
    val rows = for (d <- 1 to 4; h <- Seq(1, 13)) yield (d * 100L + h, ts(d, h))
    t.commitPartitioned(rows.toDF("id", "event_ts").coalesce(1),
      Seq("days(event_ts)"))
    // hive layout on the HIDDEN derived column; user schema untouched
    assert(Files.isDirectory(Paths.get(t.versionDir(0L), "graft__day=2025-03-02")))
    assert(t.read().columns.toSeq === Seq("id", "event_ts"))
    assert(t.read().count() === 8)
    // a timestamp predicate prunes to the matching day partitions via the
    // manifest's day-range stats (hidden partitioning: the user predicate
    // stays on event_ts — nobody queries graft__day)
    val got = t.readWhere(col("event_ts") >= lit("2025-03-03 00:00:00").cast("timestamp") &&
      col("event_ts") < lit("2025-03-04 00:00:00").cast("timestamp"))
    assert(got.as[(Long, java.sql.Timestamp)].collect().map(_._1).toSet ===
      Set(301L, 313L))
    val (kept, total) = t.lastPruneStats
    assert(total === 4L && kept === 1L, s"kept=$kept total=$total")
    // appends + mutations keep the layout; compaction preserves it too
    t.commit(Seq((501L, ts(1, 5))).toDF("id", "event_ts"), op = "append")
    assert(Files.isDirectory(Paths.get(t.versionDir(1L), "graft__day=2025-03-01")))
    t.updateMor(col("id") === 301L,
      Map("event_ts" -> (col("event_ts") + expr("INTERVAL 1 HOUR"))), "id")
    assert(t.read().count() === 9)
    assert(t.read().filter(col("id") === 301L)
      .select(hour(col("event_ts"))).as[Int].head() === 2)
    t.compact(targetFiles = 1)
    assert(Files.isDirectory(Paths.get(t.versionDir(t.currentVersion.get),
      "graft__day=2025-03-04")))
    assert(t.read().count() === 9)
    assert(t.read().columns.toSeq.sorted === Seq("event_ts", "id"))
  }

  test("partition-spec evolution: reads keep working, later writes use the new spec") {
    import spark.implicits._
    val root = Files.createTempDirectory("pstore_evolve").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    def batch(tag: String, off: Int, n: Int) = Seq.tabulate(n)(i =>
      ((off + i).toLong, Seq("eu", "us", "ap")(i % 3), s"$tag$i"))
      .toDF("id", "region", "v")
    t.commit(batch("a", 0, 12).coalesce(1))                 // v0: unpartitioned
    t.addPartitionField("region")                           // v1: metadata-only
    assert(t.partitionSpec === Seq("region"))
    // the r12 regression: the partition evolve op persisted in the commit
    // log made every later resolution throw 'bad evolve op' — the table
    // must stay readable immediately after the spec change
    assert(t.read().count() === 12)
    t.commit(batch("b", 100, 6).coalesce(1), op = "append") // v2: new layout
    assert(Files.isDirectory(Paths.get(t.versionDir(2L), "region=eu")))
    assert(t.read().count() === 18)
    // a FRESH instance replays the full log (no cached state to hide a bad op)
    assert(new SnapshotTable(spark, root).read().count() === 18)
    // time travel BEFORE the evolve sees the original table
    assert(t.read(Some(0L)).count() === 12)
    // mixed-layout pruning stays sound: files carry stats from the layout
    // they were written under
    val got = t.readWhere(col("region") === "eu")
    assert(got.count() === t.read().filter(col("region") === "eu").count())
    t.dropPartitionField("region")                          // v3: back to flat
    assert(t.partitionSpec === Nil)
    t.commit(batch("c", 200, 3).coalesce(1), op = "append") // v4: unpartitioned
    assert(!Files.isDirectory(Paths.get(t.versionDir(4L), "region=eu")))
    assert(t.read().count() === 21)
    // the changelog across the spec boundary reports DATA changes only (the
    // two layout-only evolve commits contribute nothing to the diff)
    val ch = t.changes(0L, 4L, "id")
    assert(ch.filter(col("_change_type") === "insert").count() === 9)
    assert(ch.count() === 9)
    // history surfaces the two evolve commits
    assert(t.history().count() === 5)
  }

  test("bucket(N, key) transform: point lookups prune to one bucket file") {
    import spark.implicits._
    val root = Files.createTempDirectory("pstore_bucket").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    val df = Seq.tabulate(400)(i => (i.toLong, s"v$i")).toDF("id", "v")
    t.commitPartitioned(df.coalesce(1), Seq("bucket(8, id)"))
    // hive layout on the HIDDEN bucket column; user schema untouched
    val dirs = Paths.get(t.versionDir(0L)).toFile.list()
      .count(_.startsWith("graft__bucket="))
    assert(dirs === 8, s"expected 8 bucket dirs, saw $dirs")
    assert(t.read().columns.toSeq === Seq("id", "v"))
    assert(t.read().count() === 400)
    // a key-equality readWhere derives the bucket conjunct: footer min/max
    // of a hashed key spans everything, so ONLY the transform can prune
    val got = t.readWhere(col("id") === 123L)
    assert(got.as[(Long, String)].collect().toSeq === Seq((123L, "v123")))
    assert(t.lastPruneStats === ((1L, 8L)))
    // IN prunes to at most one file per probed key
    assert(t.readWhere(col("id").isin(5L, 300L)).count() === 2)
    assert(t.lastPruneStats._1 <= 2L)
    // the PLAIN read path prunes the same way (ManifestFileIndex)
    SnapshotTable.resetScanStats(root)
    assert(t.read().filter(col("id") === 42L).count() === 1)
    assert(SnapshotTable.scanStats(root) === ((1L, 8L)))
    // appends inherit the bucket layout and the lookup stays pruned
    t.commit(Seq((1000L, "x")).toDF("id", "v"), op = "append")
    SnapshotTable.resetScanStats(root)
    assert(t.read().filter(col("id") === 1000L).count() === 1)
    val (k2, total2) = SnapshotTable.scanStats(root)
    assert(total2 === 9L && k2 <= 2L, s"kept=$k2 total=$total2")
    // results ≡ unpruned, wrong-bucket probes return empty not wrong
    assert(t.read().filter(col("id") === 9999L).count() === 0)
  }

  test("truncate(W, col) transform clusters; ranges prune via tight footers") {
    import spark.implicits._
    val root = Files.createTempDirectory("pstore_trunc").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commitPartitioned(Seq.tabulate(300)(i => (i.toLong, s"n$i"))
      .toDF("id", "v").coalesce(1), Seq("truncate(100, id)"))
    val dirs = Paths.get(t.versionDir(0L)).toFile.list()
      .count(_.startsWith("graft__trunc="))
    assert(dirs === 3, s"expected 3 truncation dirs, saw $dirs")
    assert(t.read().columns.toSeq === Seq("id", "v"))
    assert(t.read().count() === 300)
    // truncation is ORDER-PRESERVING: each file's footer id-range is tight,
    // so a range predicate prunes with no transform-aware logic at all
    SnapshotTable.resetScanStats(root)
    assert(t.read().filter(col("id").between(120L, 130L)).count() === 11)
    assert(SnapshotTable.scanStats(root) === ((1L, 3L)))
    // string truncation: W-char prefixes cluster lexicographic ranges
    val r2 = Files.createTempDirectory("pstore_truncs").toFile.getAbsolutePath
    val t2 = new SnapshotTable(spark, r2)
    t2.commitPartitioned(Seq("alpha", "amber", "beta", "bravo", "gamma")
      .zipWithIndex.map { case (w, i) => (i.toLong, w) }.toDF("id", "w")
      .coalesce(1), Seq("truncate(1, w)"))
    SnapshotTable.resetScanStats(r2)
    assert(t2.read().filter(col("w") >= "b" && col("w") < "c").count() === 2)
    assert(SnapshotTable.scanStats(r2) === ((1L, 3L)))
  }

  test("bucket derivation stays SOUND across partition-spec evolution " +
      "(files keep their write-time spec, like Iceberg's spec id per file)") {
    import spark.implicits._
    val root = Files.createTempDirectory("pstore_bevolve").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    val old = Seq.tabulate(200)(i => (i.toLong, s"old$i")).toDF("id", "v")
    t.commitPartitioned(old.coalesce(1), Seq("bucket(4, id)"))
    // derivation fires while every file matches the current bucket entry
    assert(t.readWhere(col("id") === 77L).count() === 1)
    assert(t.lastPruneStats === ((1L, 4L)))
    // evolve the bucket width: files already on disk keep their mod-4 pins
    t.evolvePartition(Seq("bucket(8, id)"))
    t.commit(Seq((1000L, "new")).toDF("id", "v"), op = "append")
    // a point lookup for a row written under the OLD spec must still find
    // it: deriving `graft__bucket = hash mod 8` against mod-4 pins would
    // wrongly prune the file holding id=77 (hash(77)%8=hash(77)%4 only by
    // luck) — derivation is suppressed instead, and the row survives on
    // BOTH read paths
    assert(t.readWhere(col("id") === 77L)
      .as[(Long, String)].collect().toSeq === Seq((77L, "old77")))
    assert(t.read().filter(col("id") === 77L).count() === 1)
    // every old id is intact (exhaustive, not just one lucky hash)
    assert(t.read().filter(col("id") < 200L).count() === 200)
    val ids = (0L until 200L).filter(k =>
      t.readWhere(col("id") === k).isEmpty)
    assert(ids.isEmpty, s"rows silently pruned away for ids: $ids")
    // a store whose files ALL match the current entry still derives (the
    // fix must not cost the sound case its pruning)
    val r2 = Files.createTempDirectory("pstore_bsound").toFile.getAbsolutePath
    val t2 = new SnapshotTable(spark, r2)
    t2.commitPartitioned(old.coalesce(1), Seq("bucket(4, id)"))
    t2.commit(Seq((1000L, "x")).toDF("id", "v"), op = "append")
    assert(t2.readWhere(col("id") === 77L).count() === 1)
    val (k2, n2) = t2.lastPruneStats // 4 base bucket files + 1 append file
    assert(n2 === 5L && k2 <= 2L, s"kept=$k2 total=$n2")
  }

  test("months()/years()/hours() transforms: coarser hidden time layouts prune") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    // months: archive-table grain
    val r1 = Files.createTempDirectory("pstore_month").toFile.getAbsolutePath
    val t1 = new SnapshotTable(spark, r1)
    val rows = for (m <- 1 to 3; d <- Seq(5, 20)) yield
      (m * 100L + d, ts(f"2025-$m%02d-$d%02d 10:00:00"))
    t1.commitPartitioned(rows.toDF("id", "event_ts").coalesce(1),
      Seq("months(event_ts)"))
    // the spec's tuple: months since 1970-01 (February 2025 = 661)
    assert(Files.isDirectory(Paths.get(t1.versionDir(0L), "graft__month=661")))
    assert(t1.read().columns.toSeq === Seq("id", "event_ts"))
    val got = t1.readWhere(
      col("event_ts") >= lit("2025-02-01 00:00:00").cast("timestamp") &&
      col("event_ts") < lit("2025-03-01 00:00:00").cast("timestamp"))
    assert(got.select("id").as[Long].collect().toSet === Set(205L, 220L))
    assert(t1.lastPruneStats === ((1L, 3L)))
    // the PLAIN read path prunes too (ManifestFileIndex)
    SnapshotTable.resetScanStats(r1)
    assert(t1.read().filter(
      col("event_ts") >= lit("2025-02-01 00:00:00").cast("timestamp") &&
      col("event_ts") < lit("2025-03-01 00:00:00").cast("timestamp"))
      .count() === 2)
    assert(SnapshotTable.scanStats(r1) === ((1L, 3L)))
    // years
    val r2 = Files.createTempDirectory("pstore_year").toFile.getAbsolutePath
    val t2 = new SnapshotTable(spark, r2)
    t2.commitPartitioned(Seq((1L, ts("2023-06-01 00:00:00")),
      (2L, ts("2024-06-01 00:00:00")), (3L, ts("2025-06-01 00:00:00")))
      .toDF("id", "event_ts").coalesce(1), Seq("years(event_ts)"))
    assert(Files.isDirectory(Paths.get(t2.versionDir(0L), "graft__year=54"))) // 2024 - 1970
    assert(t2.readWhere(year(col("event_ts")) === 2024).count() === 1)
    // year() wraps the column, so stats can't see through it — but a RANGE
    // predicate on the timestamp itself prunes
    assert(t2.readWhere(
      col("event_ts") >= lit("2024-01-01 00:00:00").cast("timestamp") &&
      col("event_ts") < lit("2025-01-01 00:00:00").cast("timestamp"))
      .count() === 1)
    assert(t2.lastPruneStats === ((1L, 3L)))
    // hours: high-rate stream grain
    val r3 = Files.createTempDirectory("pstore_hour").toFile.getAbsolutePath
    val t3 = new SnapshotTable(spark, r3)
    val hr = for (h <- Seq(9, 10, 11); m <- Seq(5, 40)) yield
      (h * 100L + m, ts(f"2025-03-01 $h%02d:$m%02d:00"))
    t3.commitPartitioned(hr.toDF("id", "event_ts").coalesce(1),
      Seq("hours(event_ts)"))
    // hours since the epoch: 20148 days to 2025-03-01, then 10 more hours
    assert(Files.isDirectory(Paths.get(t3.versionDir(0L), "graft__hour=483562")))
    val g3 = t3.readWhere(
      col("event_ts") >= lit("2025-03-01 10:00:00").cast("timestamp") &&
      col("event_ts") < lit("2025-03-01 11:00:00").cast("timestamp"))
    assert(g3.select("id").as[Long].collect().toSet === Set(1005L, 1040L))
    assert(t3.lastPruneStats === ((1L, 3L)))
    // hours() rejects date columns (Iceberg's rule)
    val bad = intercept[IllegalArgumentException] {
      new SnapshotTable(spark,
        Files.createTempDirectory("pstore_hbad").toFile.getAbsolutePath)
        .commitPartitioned(Seq((1L, java.sql.Date.valueOf("2025-03-01")))
          .toDF("id", "d"), Seq("hours(d)"))
    }
    assert(bad.getMessage.contains("hours"))
  }

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toFile.getAbsolutePath

  private def utc(s: String): Timestamp = Timestamp.from(Instant.parse(s))

  /** Every parquet file under `dir`, as paths relative to it. */
  private def parquetFiles(dir: String): Seq[String] = {
    val base = Paths.get(dir)
    val walk = Files.walk(base)
    try walk.iterator.asScala.filter(_.toString.endsWith(".parquet"))
      .map(p => base.relativize(p).toString).toSeq.sorted
    finally walk.close()
  }

  test("store buckets are the Iceberg spec's seed-0 murmur3 (Appendix B: " +
      "34 hashes to 2017239379, 'iceberg' to 1210000089)") {
    import spark.implicits._
    def bucketDirs(root: String): Set[String] =
      parquetFiles(new SnapshotTable(spark, root).versionDir(0L))
        .map(_.takeWhile(_ != '/')).toSet
    val long = tmp("pstore_b34")
    new SnapshotTable(spark, long).commitPartitioned(
      Seq((34L, "x")).toDF("id", "v"), Seq("bucket(16, id)"))
    assert(bucketDirs(long) === Set("graft__bucket=3")) // 2017239379 mod 16
    // an int hashes as its long value
    val int = tmp("pstore_b34i")
    new SnapshotTable(spark, int).commitPartitioned(
      Seq((34, "x")).toDF("id", "v"), Seq("bucket(16, id)"))
    assert(bucketDirs(int) === Set("graft__bucket=3"))
    val str = tmp("pstore_bstr")
    new SnapshotTable(spark, str).commitPartitioned(
      Seq((1L, "iceberg")).toDF("id", "s"), Seq("bucket(16, s)"))
    assert(bucketDirs(str) === Set("graft__bucket=9")) // 1210000089 mod 16
  }

  test("days(ts) + hours(ts) tuples are UTC: a commit under a non-UTC session " +
      "writes the dirs and prunes as under UTC") {
    import spark.implicits._
    // instants within an hour of midnight UTC, which Los Angeles puts on
    // the afternoon of 2025-03-01
    val df = Seq("2025-03-01T22:30:00Z", "2025-03-01T23:05:00Z",
      "2025-03-01T23:40:00Z", "2025-03-02T00:10:00Z", "2025-03-02T00:50:00Z")
      .zipWithIndex.map { case (s, i) => (i.toLong, utc(s)) }.toDF("id", "ts")
    val window = col("ts") >= lit(utc("2025-03-02T00:00:00Z")) &&
      col("ts") < lit(utc("2025-03-02T01:00:00Z"))
    def run(zone: String) = {
      val key = "spark.sql.session.timeZone"
      val prev = spark.conf.get(key)
      spark.conf.set(key, zone)
      try {
        val root = tmp("pstore_zone")
        val t = new SnapshotTable(spark, root)
        t.commitPartitioned(df.coalesce(1), Seq("days(ts)", "hours(ts)"))
        val ids = t.readWhere(window).select("id").as[Long].collect().sorted.toSeq
        (parquetFiles(t.versionDir(0L)).map(f => f.substring(0, f.lastIndexOf('/'))),
          t.lastPruneStats, ids)
      } finally spark.conf.set(key, prev)
    }
    val (dirs, stats, ids) = run("UTC")
    assert(run("America/Los_Angeles") === ((dirs, stats, ids)))
    // 2025-03-01 is epoch day 20148, so its 22:00 UTC is hour 483574
    assert(dirs === Seq("graft__day=2025-03-01/graft__hour=483574",
      "graft__day=2025-03-01/graft__hour=483575",
      "graft__day=2025-03-02/graft__hour=483576"))
    assert(stats === ((1L, 3L)) && ids === Seq(3L, 4L))
  }

  test("store dirs hold the partition tuples the Iceberg export writes for " +
      "the same spec") {
    import spark.implicits._
    val df = Seq.tabulate(24)(i =>
      (i.toLong, Timestamp.from(Instant.parse("2025-03-01T00:00:00Z")
        .plusSeconds(i * 7L * 3600)))).toDF("id", "ts").coalesce(1)
    val spec = Seq("days(ts)", "bucket(4, id)")
    val root = tmp("pstore_vs_ice")
    val st = new SnapshotTable(spark, root)
    st.commitPartitioned(df, spec)
    val ice = tmp("pstore_vs_ice_dest")
    IcebergExport.export(df, ice, partitionBy = spec)
    // id → its file's dir values for `keys`
    def tuples(files: Seq[String], keys: Seq[String]): Map[Long, Seq[String]] =
      files.flatMap { p =>
        val dirs = p.split('/').filter(_.contains('=')).map { seg =>
          seg.substring(0, seg.indexOf('=')) -> seg.substring(seg.indexOf('=') + 1)
        }.toMap
        spark.read.parquet(p).select("id").as[Long].collect().map(_ -> keys.map(dirs))
      }.toMap
    val store = tuples(parquetFiles(st.versionDir(0L)).map(f => s"${st.versionDir(0L)}/$f"),
      Seq("graft__day", "graft__bucket"))
    val exported = tuples(IcebergExport.plannedFiles(spark, ice).map(_._1),
      Seq("ts_day", "id_bucket"))
    assert(store.size === 24)
    assert(store === exported)
  }

  test("one admission check: the store and the Iceberg export refuse a " +
      "bucket over a double column with the same message") {
    import spark.implicits._
    val df = Seq((1L, 1.5)).toDF("id", "x")
    val store = intercept[IllegalArgumentException](
      new SnapshotTable(spark, tmp("pstore_admit"))
        .commitPartitioned(df, Seq("bucket(4, x)")))
    val export = intercept[IllegalArgumentException](
      IcebergExport.export(df, tmp("pstore_admit_ice"), partitionBy = Seq("bucket(4, x)")))
    assert(store.getMessage === export.getMessage)
    assert(store.getMessage.contains("bucket(4, x) needs"), store.getMessage)
  }

  test("identity TIMESTAMP partitioning prunes (no silent unpruned fallback)") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val root = Files.createTempDirectory("pstore_idts").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    val slots = Seq(ts("2025-03-01 10:00:00"), ts("2025-03-01 11:00:00"),
      ts("2025-03-01 12:00:00"))
    val df = Seq.tabulate(30)(i => (i.toLong, slots(i % 3))).toDF("id", "slot")
    t.commitPartitioned(df.coalesce(1), Seq("slot"))
    assert(t.read().count() === 30)
    // equality on the identity-partitioned timestamp prunes to one file on
    // BOTH paths — previously the value parser skipped TimestampType and the
    // store silently fell back to the unpruned reader
    val got = t.readWhere(col("slot") === lit("2025-03-01 11:00:00").cast("timestamp"))
    assert(got.count() === 10)
    assert(t.lastPruneStats === ((1L, 3L)))
    SnapshotTable.resetScanStats(root)
    assert(t.read()
      .filter(col("slot") === lit("2025-03-01 11:00:00").cast("timestamp"))
      .count() === 10)
    assert(SnapshotTable.scanStats(root) === ((1L, 3L)))
  }

  test("identity TIMESTAMP partition dirs are zone-free: a commit under a " +
      "non-UTC session reads back the same instants under UTC") {
    import spark.implicits._
    val key = "spark.sql.session.timeZone"
    val prev = spark.conf.get(key)
    val root = tmp("pstore_idts_zone")
    val instant = utc("2025-03-01T10:00:00Z")
    try {
      spark.conf.set(key, "America/Los_Angeles")
      new SnapshotTable(spark, root).commitPartitioned(
        Seq((1L, instant)).toDF("id", "slot"), Seq("slot"))
      spark.conf.set(key, "UTC")
      val t = new SnapshotTable(spark, root)
      assert(t.read().select("slot").as[Timestamp].collect().toSeq === Seq(instant))
      assert(t.readWhere(col("slot") === lit(instant)).count() === 1)
      // the dir value itself is the UTC rendering
      assert(Paths.get(t.versionDir(0L)).toFile.list().filter(_.startsWith("slot="))
        .toSeq === Seq("slot=2025-03-01 10%3A00%3A00"))
    } finally spark.conf.set(key, prev)
  }

  test("position deletes hold through PRUNED reads over partitioned delta runs " +
      "(per-scan provenance, not post-union)") {
    import spark.implicits._
    val root = Files.createTempDirectory("pstore_posprune").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    def batch(off: Int) = Seq.tabulate(12)(i =>
      ((off + i).toLong, if (i % 2 == 0) "eu" else "us", s"v${off + i}"))
      .toDF("id", "region", "v")
    t.commitPartitioned(batch(0).coalesce(1), Seq("region"))   // v0 base
    t.commit(batch(100).coalesce(1), op = "append")            // v1 delta
    t.commit(batch(200).coalesce(1), op = "append")            // v2 delta (same-schema run)
    // positional delete hitting rows in the BASE and BOTH deltas
    t.deleteWherePos(col("id") % 3 === 0L)                     // v3
    val expected = t.read().filter(col("region") === "eu")
      .as[(Long, String, String)].collect().toSet
    assert(expected.forall(_._1 % 3 != 0), "plain read must honor the delete")
    // the PRUNED path partially keeps files inside each partitioned delta
    // dir (region=eu kept, region=us pruned) — the multi-dir union shape
    // where provenance must be attached PER SCAN, or deleted rows reappear
    val got = t.readWhere(col("region") === "eu")
      .as[(Long, String, String)].collect().toSet
    assert(got === expected, s"pruned read diverged: ${got.diff(expected)} extra, " +
      s"${expected.diff(got)} missing")
    assert(got.forall(_._1 % 3 != 0), "a pruned read resurrected deleted rows")
    val (kept, total) = t.lastPruneStats
    assert(kept < total, s"partition pruning should have fired: $kept/$total")
  }

  test("table_partitions serves partition-grain rows from manifests, zero footer reads") {
    import spark.implicits._
    val root = Files.createTempDirectory("pstore_meta").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commitPartitioned(Seq.tabulate(20)(i =>
      (i.toLong, if (i % 2 == 0) "eu" else "us")).toDF("id", "region")
      .coalesce(1), Seq("region"))
    t.commit(Seq((100L, "eu")).toDF("id", "region"), op = "append")
    spark.conf.set("graft.snapshot.parts.demo", root)
    val before = MetadataFunctions.footerReads.get()
    val parts = MetadataFunctions.tablePartitions(spark, "parts.demo")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    assert(MetadataFunctions.footerReads.get() === before,
      "partition metadata must come from manifests, not footer opens")
    assert(parts === List(("region=eu", 2L, 11L), ("region=us", 1L, 10L)))
    // snapshot metadata resolves the versioned root THROUGH partition dirs
    t.read().createOrReplaceTempView("pstore_meta_view")
    assert(MetadataFunctions.tableSnapshot(spark, "pstore_meta_view")
      .count() === 2)
  }
}
