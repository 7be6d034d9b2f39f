package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Manifest column-stats data skipping (Iceberg's core scan optimization —
  * reference readme.md:393-401, 409): commit-time footers record per-file
  * (min, max) per column; [[SnapshotTable.readWhere]] drops files whose
  * ranges exclude the predicate before the scan plans. */
class FileSkippingSpec extends SparkSpec {

  test("readWhere skips files whose column ranges exclude the predicate") {
    import spark.implicits._
    val root = Files.createTempDirectory("skip_basic").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    // four single-file commits with DISJOINT id ranges (an ingest pattern:
    // each batch clustered on the key)
    t.commit(Seq.tabulate(100)(i => (i.toLong, s"w$i")).toDF("id", "w").coalesce(1))
    (1 to 3).foreach { k =>
      t.commit(Seq.tabulate(100)(i => ((k * 100 + i).toLong, s"w$i"))
        .toDF("id", "w").coalesce(1), op = "append")
    }
    val hit = t.readWhere(col("id") >= 150L && col("id") < 180L)
    assert(hit.count() === 30)
    val (kept, total) = t.lastPruneStats
    assert(total === 4L, s"expected 4 live files, saw $total")
    assert(kept === 1L, s"one file covers [100,200); kept=$kept")
    // results identical to the unpruned read
    assert(hit.as[(Long, String)].collect().toSet ===
      t.read().filter(col("id") >= 150L && col("id") < 180L)
        .as[(Long, String)].collect().toSet)
    // equality + IN prune too
    t.readWhere(col("id") === 250L)
    assert(t.lastPruneStats === ((1L, 4L)))
    t.readWhere(col("id").isin(50L, 350L))
    assert(t.lastPruneStats === ((2L, 4L)))
    // a predicate excluded by EVERY file is an empty scan, correct schema
    val none = t.readWhere(col("id") > 10000L)
    assert(none.count() === 0 && none.columns.toSeq === Seq("id", "w"))
    assert(t.lastPruneStats._1 === 0L)
  }

  test("DECIMAL predicates prune (r20): unscaled stats + scale-insensitive " +
      "literals, negatives included — the reference's amount-column class") {
    import spark.implicits._
    val root = Files.createTempDirectory("skip_dec").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    // four single-file commits with disjoint DECIMAL(18,2) amount ranges
    // spanning negative values (refunds) — the finance/insurance fact shape
    // (finance_example.sql:21, insurance_example.sql:21)
    (0 to 3).foreach { k =>
      val lo = k * 100 - 200 // file ranges: [-200,-101], [-100,-1], [0,99], [100,199]
      val df = Seq.tabulate(100)(i =>
        (k * 100L + i, BigDecimal(lo + i).setScale(2) + BigDecimal("0.25")))
        .toDF("id", "amount")
        .select(col("id"), col("amount").cast("decimal(18,2)").as("amount"))
        .coalesce(1)
      t.commit(df, op = if (k == 0) "overwrite" else "append")
    }
    val hit = t.readWhere(col("amount") >= BigDecimal("120.00"))
    assert(hit.count() === 80)
    assert(t.lastPruneStats === ((1L, 4L)),
      s"one file covers [100.25, 199.25]; got ${t.lastPruneStats}")
    // negative range: only the two negative files may hold matches
    val neg = t.readWhere(col("amount") < BigDecimal("-5.5"))
    assert(neg.count() === 195)
    assert(t.lastPruneStats === ((2L, 4L)))
    // a literal at a DIFFERENT scale still prunes (scale-insensitive compare)
    t.readWhere(col("amount") === lit(new java.math.BigDecimal("150.2500")))
    assert(t.lastPruneStats === ((1L, 4L)))
    // results identical to the unpruned read
    assert(hit.select("id").as[Long].collect().sorted ===
      t.read().filter(col("amount") >= BigDecimal("120.00"))
        .select("id").as[Long].collect().sorted)
  }

  test("string and conjunction predicates prune; uncertainty keeps the file") {
    import spark.implicits._
    val root = Files.createTempDirectory("skip_str").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq(("alpha", 1L), ("beta", 2L)).toDF("name", "n").coalesce(1))
    t.commit(Seq(("mike", 3L), ("nancy", 4L)).toDF("name", "n").coalesce(1), "append")
    t.commit(Seq(("xray", 5L), ("zulu", 6L)).toDF("name", "n").coalesce(1), "append")
    assert(t.readWhere(col("name") === "mike").count() === 1)
    assert(t.lastPruneStats === ((1L, 3L)))
    // conjunction: every conjunct must keep a file for it to scan
    assert(t.readWhere(col("name") >= "x" && col("n") > 5L).count() === 1)
    assert(t.lastPruneStats === ((1L, 3L)))
    // an unsupported conjunct shape disables pruning for itself only —
    // results stay correct, files stay conservatively kept
    val f = t.readWhere(length(col("name")) === 4 && col("n") <= 2L)
    assert(f.collect().map(_.getString(0)).toSet === Set("beta"))
    assert(t.lastPruneStats === ((1L, 3L))) // n <= 2 still pruned
  }

  test("pruning sees through batched same-schema delta runs") {
    import spark.implicits._
    val root = Files.createTempDirectory("skip_runs").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq.tabulate(10)(i => (i.toLong, "base")).toDF("id", "src").coalesce(1))
    // a long same-schema ingest run — resolution batches these into one
    // relation; pruning must still drop the non-matching members
    (1 to 6).foreach { k =>
      t.commit(Seq.tabulate(10)(i => ((k * 1000 + i).toLong, s"d$k"))
        .toDF("id", "src").coalesce(1), op = "append")
    }
    val got = t.readWhere(col("id").between(3000L, 3009L))
    assert(got.count() === 10)
    assert(got.select("src").distinct().as[String].collect().toSeq === Seq("d3"))
    val (kept, total) = t.lastPruneStats
    assert(total === 7L && kept === 1L, s"kept=$kept total=$total")
  }

  test("mor chains: delete keys are never pruned; updates fold correctly") {
    import spark.implicits._
    val root = Files.createTempDirectory("skip_mor").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq.tabulate(50)(i => (i.toLong, s"v$i")).toDF("id", "v").coalesce(1))
    t.deleteWhereMor(col("id") === 7L, "id")
    t.updateMor(col("id") === 9L, Map("v" -> lit("UPD")), "id")
    // predicate range covers both the deleted and the updated row: the
    // delete must still apply (key files exempt from pruning) and the
    // replacement row must appear
    val got = t.readWhere(col("id") < 20L).as[(Long, String)].collect().toMap
    assert(!got.contains(7L))
    assert(got(9L) === "UPD")
    assert(got.size === 19)
    assert(got === t.read().filter(col("id") < 20L)
      .as[(Long, String)].collect().toMap)
  }

  test("rename evolve disables pruning in its window (stats could alias)") {
    import spark.implicits._
    val root = Files.createTempDirectory("skip_ren").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq.tabulate(10)(i => (i.toLong, s"a$i")).toDF("id", "tag").coalesce(1))
    t.commit(Seq.tabulate(10)(i => ((100 + i).toLong, s"b$i"))
      .toDF("id", "tag").coalesce(1), op = "append")
    t.renameColumn("tag", "label")
    val got = t.readWhere(col("id") >= 100L)
    assert(got.count() === 10 && got.columns.contains("label"))
    // window contains a rename → conservative full scan (0 skipped)
    val (kept, total) = t.lastPruneStats
    assert(kept === total, s"rename window must not prune: $kept/$total")
    // time travel BEFORE the rename prunes again
    t.readWhere(col("id") >= 100L, versionAsOf = Some(1L))
    assert(t.lastPruneStats === ((1L, 2L)))
  }

  test("PLAIN reads prune at physical planning — no special API needed") {
    import spark.implicits._
    val root = Files.createTempDirectory("skip_lazy").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq.tabulate(100)(i => (i.toLong, s"w$i")).toDF("id", "w").coalesce(1))
    (1 to 3).foreach { k =>
      t.commit(Seq.tabulate(100)(i => ((k * 100 + i).toLong, s"w$i"))
        .toDF("id", "w").coalesce(1), op = "append")
    }
    // an ordinary read().filter() — the shape every SQL temp view, join and
    // time-travel read has — skips files when the filter reaches the scan
    SnapshotTable.resetScanStats(root)
    val hit = t.read().filter(col("id") >= 150L && col("id") < 180L)
    assert(hit.count() === 30)
    assert(SnapshotTable.scanStats(root) === ((1L, 4L)))
    // OR of ranges (a dashboard comparing two periods) prunes as the UNION
    // of its disjuncts' kept sets, not a full scan
    SnapshotTable.resetScanStats(root)
    assert(t.read().filter(col("id").between(50L, 60L) ||
      col("id").between(250L, 260L)).count() === 22)
    assert(SnapshotTable.scanStats(root) === ((2L, 4L)))
    // a predicate no file can satisfy plans over ZERO files, schema intact
    SnapshotTable.resetScanStats(root)
    val none = t.read().filter(col("id") > 10000L)
    assert(none.count() === 0 && none.columns.toSeq === Seq("id", "w"))
    assert(SnapshotTable.scanStats(root)._1 === 0L)
    // results ≡ an unfiltered read, always
    assert(t.read().filter(col("id") >= 150L && col("id") < 180L)
      .as[(Long, String)].collect().toSet === hit.as[(Long, String)].collect().toSet)
  }

  test("identity-partitioned stores: plain reads get exact partition pruning") {
    import spark.implicits._
    val root = Files.createTempDirectory("skip_lazy_part").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    def batch(tag: String, n: Int) = Seq.tabulate(n)(i =>
      (i.toLong, Seq("eu", "us", "ap")(i % 3), s"$tag$i")).toDF("id", "region", "v")
    t.commitPartitioned(batch("a", 30).coalesce(1), Seq("region"))
    t.commit(batch("b", 12).coalesce(1), op = "append")
    SnapshotTable.resetScanStats(root)
    val got = t.read().filter(col("region") === "ap")
    assert(got.count() === 14)
    // 2 of 6 region files planned; the scan shows real PartitionFilters
    assert(SnapshotTable.scanStats(root) === ((2L, 6L)))
    val plan = got.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("region"),
      s"no partition filter in plan:\n$plan")
    // partition columns append last (hive layout), same as a plain
    // partitioned parquet read — compare by name
    assert(got.select("id", "region", "v").as[(Long, String, String)]
      .collect().toSet ===
      batch("a", 30).unionByName(batch("b", 12))
        .filter(col("region") === "ap").as[(Long, String, String)].collect().toSet)
  }

  test("hidden days(ts) partitioning prunes a plain timestamp predicate") {
    import spark.implicits._
    val root = Files.createTempDirectory("skip_lazy_day").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    def ts(day: Int, h: Int) =
      java.sql.Timestamp.valueOf(f"2025-03-$day%02d $h%02d:30:00")
    val rows = for (d <- 1 to 4; h <- Seq(1, 13)) yield (d * 100L + h, ts(d, h))
    t.commitPartitioned(rows.toDF("id", "event_ts").coalesce(1),
      Seq("days(event_ts)"))
    SnapshotTable.resetScanStats(root)
    val got = t.read().filter(
      col("event_ts") >= lit("2025-03-03 00:00:00").cast("timestamp") &&
      col("event_ts") < lit("2025-03-04 00:00:00").cast("timestamp"))
    assert(got.select("id").as[Long].collect().toSet === Set(301L, 313L))
    // the ts predicate pruned to the one matching day file via the
    // manifest's day-range stats — the user never mentions graft__day
    assert(SnapshotTable.scanStats(root) === ((1L, 4L)))
    assert(got.columns.toSeq === Seq("id", "event_ts"))
  }
}
