package graft.sources

import java.nio.file.{Files => JFiles}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The Iceberg v2 export: spec-shaped metadata (table metadata JSON, Avro
  * manifest list + manifests with the published field ids), and the
  * independent metadata-chain read path proving round-trip equality. */
class IcebergExportSpec extends SparkSpec {

  private def mutatedStore(): (String, Long) = {
    import spark.implicits._
    val root = JFiles.createTempDirectory("iceexp_store").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(Seq.tabulate(100)(i => (i.toLong, s"v$i", (i % 5).toLong))
      .toDF("id", "v", "n"))                                            // v0
    t.commit(Seq.tabulate(20)(i => (1000L + i, s"w$i", 7L))
      .toDF("id", "v", "n"), op = "append")                             // v1
    t.deleteWhereMor(col("id") % 10 === 0L, "id")                       // v2
    (root, t.read().count())
  }

  test("round trip: an exported mutated snapshot reads back IDENTICALLY " +
      "through the Iceberg metadata chain alone") {
    import spark.implicits._
    val (root, expectRows) = mutatedStore()
    val dest = JFiles.createTempDirectory("iceexp_dest").toFile.getAbsolutePath
    val receipt = IcebergExport.exportStore(spark, root, dest)
    assert(receipt.rows === expectRows)

    // the reader walks version-hint → metadata.json → manifest list →
    // manifests → files; it shares no bookkeeping with the store
    val back = IcebergExport.readTable(spark, dest)
    val src = new SnapshotTable(spark, root).read()
    assert(back.select("id", "v", "n").as[(Long, String, Long)].collect().sorted
      === src.select("id", "v", "n").as[(Long, String, Long)].collect().sorted)
    // the export FOLDED the delta chain + mor delete file: no deleted id
    // survives, and planned record counts agree with the data
    assert(back.filter(col("id") % 10 === 0L).count() === 0)
    assert(IcebergExport.plannedFiles(spark, dest).map(_._2).sum === expectRows)
  }

  test("the layout is the published Iceberg v2 shape: HadoopCatalog files, " +
      "spec'd Avro metadata keys, required table-metadata fields") {
    import spark.implicits._
    val dest = JFiles.createTempDirectory("iceexp_shape").toFile.getAbsolutePath
    IcebergExport.export(
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"), dest)

    val meta = new java.io.File(s"$dest/metadata")
    val names = meta.listFiles().map(_.getName).sorted
    assert(names.contains("v1.metadata.json"))
    assert(names.contains("version-hint.text"))
    assert(names.exists(n => n.startsWith("snap-") && n.endsWith(".avro")),
      s"manifest list missing: ${names.mkString(",")}")
    assert(names.exists(n => n.endsWith("-m0.avro")),
      s"manifest missing: ${names.mkString(",")}")
    assert(JFiles.readString(
      java.nio.file.Paths.get(s"$dest/metadata/version-hint.text")).trim === "1")

    // required v2 table-metadata fields (Iceberg spec §"Table Metadata")
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val json = JsonMethods.parse(JFiles.readString(
      java.nio.file.Paths.get(s"$dest/metadata/v1.metadata.json")))
    assert((json \ "format-version").extract[Int] === 2)
    Seq("table-uuid", "last-sequence-number", "last-column-id", "schemas",
      "current-schema-id", "partition-specs", "default-spec-id",
      "sort-orders", "default-sort-order-id", "current-snapshot-id",
      "snapshot-log")
      .foreach(k => assert((json \ k) != JNothing, s"metadata.json missing $k"))
    assert((json \ "snapshots").children.map(s => s \ "manifest-list")
      .forall(_ != JNothing))
    // the snapshot-references map: main tracks the current snapshot
    assert((json \ "refs" \ "main" \ "snapshot-id").extract[Long]
      === (json \ "current-snapshot-id").extract[Long])
    assert((json \ "refs" \ "main" \ "type").extract[String] === "branch")
    // schema fields carry ids and required-ness
    val schema0 = (json \ "schemas").children.head
    assert((schema0 \ "schema-id").extract[Int] === 0)
    val f0 = (schema0 \ "fields").children.head
    assert((f0 \ "id").extract[Int] === 1 && (f0 \ "name").extract[String] === "id")

    // the manifest avro carries the spec's file-level metadata keys
    val manifest = meta.listFiles().find(_.getName.endsWith("-m0.avro")).get
    val rd = new org.apache.avro.file.DataFileReader(manifest,
      new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericData.Record]())
    try {
      assert(new String(rd.getMeta("format-version")) === "2")
      assert(new String(rd.getMeta("content")) === "data")
      assert(new String(rd.getMeta("partition-spec-id")) === "0")
      assert(new String(rd.getMeta("schema")).contains("\"type\":\"struct\""))
      val entry = rd.next()
      assert(entry.get("status") === 1)
      val df0 = entry.get("data_file")
        .asInstanceOf[org.apache.avro.generic.GenericData.Record]
      assert(df0.get("file_format").toString === "PARQUET")
      assert(df0.get("record_count").asInstanceOf[Long] > 0L)
      // the spec's field ids ride the Avro schema
      assert(rd.getSchema.getField("data_file").getObjectProp("field-id") === 2)
      assert(df0.getSchema.getField("file_path").getObjectProp("field-id") === 100)
    } finally rd.close()

    // the manifest LIST carries the snapshot linkage
    val list = meta.listFiles().find(_.getName.startsWith("snap-")).get
    val lr = new org.apache.avro.file.DataFileReader(list,
      new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericData.Record]())
    try {
      val mf = lr.next()
      assert(mf.get("added_rows_count") === 3L)
      assert(mf.get("sequence_number") === 1L)
      assert(lr.getSchema.getField("manifest_path").getObjectProp("field-id") === 500)
    } finally lr.close()
  }

  test("export + metadata-chain read operate on a scheme'd (Hadoop FS) " +
      "destination") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val local = JFiles.createTempDirectory("iceexp_rem").toFile.getAbsolutePath
    val dest = s"graftfs://$local"
    IcebergExport.export(
      Seq.tabulate(50)(i => (i.toLong, s"r$i")).toDF("id", "v"), dest)
    val back = IcebergExport.readTable(spark, dest)
    assert(back.count() === 50)
    assert(back.select(sum("id")).head.getLong(0) === (0 until 50).sum.toLong)
    assert(!JFiles.exists(java.nio.file.Paths.get("graftfs:")),
      "a java.nio path escaped the Hadoop FS seam")
  }

  test("column bounds ride the manifests in single-value binary form and " +
      "round-trip through readTable-side decoding into file pruning") {
    import spark.implicits._
    val dest = JFiles.createTempDirectory("iceexp_bounds").toFile.getAbsolutePath
    // 4 files with disjoint id ranges → bounds-only pruning is observable
    val df = Seq.tabulate(40)(i =>
      (i.toLong, s"s$i", i.toDouble / 2, java.sql.Date.valueOf("2024-01-01").toLocalDate.plusDays(i)))
      .toDF("id", "v", "x", "d")
      .withColumn("d", col("d").cast("date"))
      .repartitionByRange(4, col("id"))
    IcebergExport.export(df, dest)

    // the manifest entries carry lower/upper bounds keyed by field id
    val meta = new java.io.File(s"$dest/metadata")
    val manifest = meta.listFiles().find(_.getName.endsWith("-m0.avro")).get
    val rd = new org.apache.avro.file.DataFileReader(manifest,
      new org.apache.avro.generic.GenericDatumReader[
        org.apache.avro.generic.GenericData.Record]())
    try {
      val d0 = rd.next().get("data_file")
        .asInstanceOf[org.apache.avro.generic.GenericData.Record]
      val lower = d0.get("lower_bounds").asInstanceOf[java.util.List[_]]
      assert(lower.size() >= 3, "bounds missing for id/x/d columns")
      val first = lower.get(0).asInstanceOf[org.apache.avro.generic.GenericRecord]
      assert(first.get("key").asInstanceOf[Int] === 1) // id's field id
      val bb = first.get("value").asInstanceOf[java.nio.ByteBuffer]
      assert(bb.remaining() === 8, "long bound must be 8 bytes (spec LE)")
    } finally rd.close()

    // reader-side: a selective predicate prunes to the one file whose
    // range can match, and the rows equal the unpruned filter
    val got = IcebergExport.readTable(spark, dest,
      preds = Seq(IcebergExport.Predicate("id", "=", 35L)))
    val (kept, total) = IcebergExport.lastPlanStats
    assert(total === 4L && kept === 1L, s"bounds pruning: $kept/$total")
    assert(got.select("id").as[Long].collect() === Array(35L))
    // range op + string + date bounds also prune
    IcebergExport.readTable(spark, dest,
      preds = Seq(IcebergExport.Predicate("id", ">=", 30L))).count()
    assert(IcebergExport.lastPlanStats._1 === 1L)
    IcebergExport.readTable(spark, dest, preds = Seq(IcebergExport.Predicate(
      "d", "<", java.sql.Date.valueOf("2024-01-05")))).count()
    assert(IcebergExport.lastPlanStats._1 === 1L,
      "date bounds should prune to the first range file")
  }

  test("partitioned export: real identity spec + per-file partition tuples, " +
      "and predicates prune to the partition's files") {
    import spark.implicits._
    val dest = JFiles.createTempDirectory("iceexp_part").toFile.getAbsolutePath
    val df = Seq.tabulate(40)(i => (i.toLong, i % 4, s"r${i % 4}"))
      .toDF("id", "k", "region")
    IcebergExport.export(df, dest, partitionBy = Seq("region"))

    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val meta = JsonMethods.parse(JFiles.readString(
      java.nio.file.Paths.get(s"$dest/metadata/v1.metadata.json")))
    val spec0 = (meta \ "partition-specs").children.head
    val pf = (spec0 \ "fields").children.head
    assert((pf \ "transform").extract[String] === "identity")
    assert((pf \ "name").extract[String] === "region")
    assert((pf \ "source-id").extract[Int] === 3)
    assert((pf \ "field-id").extract[Int] === 1000)

    // partition-tuple pruning + row equality incl. the re-attached column
    val got = IcebergExport.readTable(spark, dest,
      preds = Seq(IcebergExport.Predicate("region", "=", "r2")))
    val (kept, total) = IcebergExport.lastPlanStats
    assert(kept < total, s"partition pruning should fire: $kept/$total")
    assert(got.select("id").as[Long].collect().sorted
      === (0 until 40).filter(_ % 4 == 2).map(_.toLong).toArray)
    assert(got.columns.toSeq === Seq("id", "k", "region"))
  }

  test("incremental export: one metadata chain, snapshots append, " +
      "version-hint advances, readTable time-travels by snapshot id") {
    import spark.implicits._
    val dest = JFiles.createTempDirectory("iceexp_incr").toFile.getAbsolutePath
    val e1 = IcebergExport.export(
      Seq.tabulate(10)(i => (i.toLong, s"a$i")).toDF("id", "v"), dest)
    val e2 = IcebergExport.export(
      Seq.tabulate(5)(i => (100L + i, s"b$i")).toDF("id", "v"), dest)
    assert(e1.snapshotId !== e2.snapshotId)
    assert(JFiles.readString(
      java.nio.file.Paths.get(s"$dest/metadata/version-hint.text")).trim === "2")
    assert(JFiles.exists(
      java.nio.file.Paths.get(s"$dest/metadata/v2.metadata.json")))

    // chain linkage: 2 snapshots, the new one parented on the old, logs grow
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val meta = JsonMethods.parse(JFiles.readString(
      java.nio.file.Paths.get(s"$dest/metadata/v2.metadata.json")))
    assert((meta \ "snapshots").children.size === 2)
    val snap2 = (meta \ "snapshots").children.last
    assert((snap2 \ "parent-snapshot-id").extract[Long] === e1.snapshotId)
    assert((snap2 \ "sequence-number").extract[Long] === 2L)
    assert((meta \ "snapshot-log").children.size === 2)
    assert((meta \ "metadata-log").children.size === 1)
    assert(IcebergExport.snapshotIds(spark, dest)
      === Seq(e1.snapshotId, e2.snapshotId))

    // time travel: each snapshot id returns its respective content
    assert(IcebergExport.readTable(spark, dest, Some(e1.snapshotId))
      .count() === 10)
    val cur = IcebergExport.readTable(spark, dest)
    assert(cur.count() === 15)
    assert(cur.select("id").as[Long].collect().sorted
      === ((0 until 10).map(_.toLong) ++ (0 until 5).map(100L + _)).toArray)
  }

  test("position-delete files (content=1) apply on read with the spec's " +
      "sequence rule: deletes hit data files with data-seq <= delete-seq") {
    import spark.implicits._
    val dest = JFiles.createTempDirectory("iceexp_posdel").toFile.getAbsolutePath
    // one data file with deterministic row order → positions are knowable
    val e1 = IcebergExport.export(
      Seq.tabulate(10)(i => (i.toLong, s"a$i")).toDF("id", "v").coalesce(1)
        .sortWithinPartitions("id"), dest)
    val target = e1.dataFiles.head
    IcebergExport.appendPositionDeletes(spark, dest,
      Seq((target, 0L), (target, 3L), (target, 7L)).toDF("file_path", "pos"))
    val got = IcebergExport.readTable(spark, dest)
    assert(got.select("id").as[Long].collect().sorted
      === Array(1L, 2L, 4L, 5L, 6L, 8L, 9L))

    // a LATER data file is untouched by the earlier delete snapshot, and
    // the pre-delete snapshot still reads in full (time travel)
    IcebergExport.export(
      Seq((100L, "late")).toDF("id", "v"), dest)
    assert(IcebergExport.readTable(spark, dest).count() === 8)
    assert(IcebergExport.readTable(spark, dest, Some(e1.snapshotId))
      .count() === 10)
  }

  test("equality-delete files (content=2) apply to strictly older data " +
      "files; a foreign-style mor mutation matches the store's own read") {
    import spark.implicits._
    val dest = JFiles.createTempDirectory("iceexp_eqdel").toFile.getAbsolutePath
    IcebergExport.export(
      Seq.tabulate(20)(i => (i.toLong, s"a$i", (i % 3).toLong))
        .toDF("id", "v", "n"), dest)
    IcebergExport.appendEqualityDeletes(spark, dest,
      Seq.tabulate(20)(_.toLong).filter(_ % 5 == 0).toDF("id"), Seq("id"))
    // a row re-inserted AFTER the delete snapshot survives (strict rule)
    IcebergExport.export(Seq((5L, "reborn", 0L)).toDF("id", "v", "n"), dest)
    val got = IcebergExport.readTable(spark, dest)
    assert(got.filter(col("v") === "reborn").count() === 1)
    assert(got.select("id").as[Long].collect().sorted
      === ((0 until 20).map(_.toLong).filter(_ % 5 != 0) :+ 5L).sorted.toArray)
  }

  test("syncStore mirrors a store's history into one Iceberg chain: " +
      "appends O(delta), mor deletes as equality-delete files, coarse " +
      "mutations folded into one overwrite snapshot") {
    import spark.implicits._
    val root = JFiles.createTempDirectory("icesync_store").toFile.getAbsolutePath
    val dest = JFiles.createTempDirectory("icesync_tbl").toFile.getAbsolutePath
    val st = new SnapshotTable(spark, root)
    def rows(r: Range, tag: String) =
      r.map(i => (i.toLong, s"$tag$i", (i % 3).toLong)).toDF("id", "v", "n")

    st.commit(rows(0 until 50, "a"))                                    // v0
    assert(IcebergExport.syncStore(spark, root, dest) === Seq(0L))
    assert(IcebergExport.snapshotIds(spark, dest).size === 1)

    // O(delta) append: one new snapshot holding just the delta
    st.commit(rows(100 until 120, "b"), op = "append")                  // v1
    assert(IcebergExport.syncStore(spark, root, dest) === Seq(1L))
    assert(IcebergExport.snapshotIds(spark, dest).size === 2)
    assert(sameRows(IcebergExport.readTable(spark, dest), st.read()))

    // mor equality delete mirrors as a delete FILE, not a fold
    st.deleteWhereMor(col("id") % 5 === 0L, "id")                       // v2
    assert(IcebergExport.syncStore(spark, root, dest) === Seq(2L))
    assert(sameRows(IcebergExport.readTable(spark, dest), st.read()))
    // and the pre-delete snapshot still time-travels in full
    val preDelete = IcebergExport.snapshotIds(spark, dest)(1)
    assert(IcebergExport.readTable(spark, dest, Some(preDelete)).count() === 70)

    // a coarse mutation (cow delete) + a later append in ONE sync call:
    // the mutation folds to one overwrite snapshot, the append stays O(delta)
    st.deleteWhere(col("n") === 2L)                                     // v3 (cow)
    st.commit(rows(200 until 210, "c"), op = "append")                  // v4
    assert(IcebergExport.syncStore(spark, root, dest) === Seq(3L, 4L))
    assert(IcebergExport.snapshotIds(spark, dest).size === 5)
    assert(sameRows(IcebergExport.readTable(spark, dest), st.read()))

    // content-noop (compact) writes no metadata and is NOT claimed in the
    // receipt (a trailing noop would otherwise be re-reported forever);
    // repeat syncs stay no-ops and the content stays equal
    st.compact(targetFiles = 1)                                         // v5
    assert(IcebergExport.syncStore(spark, root, dest).isEmpty)
    assert(IcebergExport.syncStore(spark, root, dest).isEmpty)
    assert(sameRows(IcebergExport.readTable(spark, dest), st.read()))
    // a later append durably covers the pending noop: both report synced
    st.commit(rows(300 until 305, "d"), op = "append")                  // v6
    assert(IcebergExport.syncStore(spark, root, dest) === Seq(5L, 6L))
    assert(sameRows(IcebergExport.readTable(spark, dest), st.read()))

    // crash-orphan safety: parquet left under data/ by a crashed export
    // attempt (on disk, in no manifest) is never adopted by a later sync
    rows(900 until 905, "junk").write.mode("append").parquet(s"$dest/data")
    st.commit(rows(310 until 312, "e"), op = "append")                  // v7
    assert(IcebergExport.syncStore(spark, root, dest) === Seq(7L))
    assert(sameRows(IcebergExport.readTable(spark, dest), st.read()),
      "a crashed attempt's orphan files leaked into the snapshot")
  }

  private def sameRows(a: org.apache.spark.sql.DataFrame,
      b: org.apache.spark.sql.DataFrame): Boolean =
    a.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|")) ==
      b.collect().map(_.toSeq).toSeq.sortBy(_.mkString("|"))

  test("an exported EMPTY snapshot reads back as an empty frame with the " +
      "table schema, not an error") {
    import spark.implicits._
    val dest = JFiles.createTempDirectory("iceexp_empty").toFile.getAbsolutePath
    IcebergExport.export(
      Seq((1L, "x")).toDF("id", "v").filter(col("id") < 0), dest)
    val got = IcebergExport.readTable(spark, dest)
    assert(got.count() === 0)
    assert(got.schema.fieldNames.toSeq === Seq("id", "v"))
    assert(got.schema("id").dataType === org.apache.spark.sql.types.LongType)
  }

  test("bucket transform hashes with the spec's canonical murmur3 (seed 0, " +
      "Appendix B), agreeing with an independent implementation and the " +
      "published test vectors") {
    def le(v: Long): Array[Byte] = {
      val b = new Array[Byte](8); var x = v; var i = 0
      while (i < 8) { b(i) = (x & 0xff).toByte; x >>>= 8; i += 1 }; b
    }
    // independent implementation agreement: Spark's Murmur3_x86_32.hashLong
    // (same algorithm, processes the long as two LE 4-byte blocks) at seed 0
    for (v <- Seq(0L, 1L, -1L, 34L, 17486L, 1510871468000000L, Long.MaxValue))
      assert(FilePruning.murmur3x86(le(v)) ===
        org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(v, 0),
        s"long $v")
    // the spec's own Appendix B vectors: hash(34 as int/long) = 2017239379,
    // hash("iceberg") = 1210000089, hash(date 2017-11-16 = 17486 days) =
    // -653330422 (https://iceberg.apache.org/spec/#appendix-b)
    assert(FilePruning.murmur3x86(le(34L)) === 2017239379)
    assert(FilePruning.murmur3x86("iceberg".getBytes("UTF-8")) === 1210000089)
    assert(FilePruning.murmur3x86(le(17486L)) === -653330422)
    // and it is NOT Spark's seed-42 hash() — the distinction foreign
    // engines would mis-prune on
    assert(FilePruning.murmur3x86(le(34L)) !==
      org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(34L, 42))
    assert(FilePruning.bucketLong(34L, 16) === (2017239379 & Int.MaxValue) % 16)
    assert(FilePruning.bucketString("iceberg", 16) ===
      (1210000089 & Int.MaxValue) % 16)
  }

  test("transform-partitioned export: month + bucket specs write transform " +
      "tuples and hive dirs, round-trip, and prune transform-aware") {
    import spark.implicits._
    val dest = JFiles.createTempDirectory("iceexp_trans").toFile.getAbsolutePath
    val df = Seq.tabulate(60) { i =>
      (i.toLong,
        java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(i * 3L)),
        s"name$i")
    }.toDF("id", "d", "nm")
    IcebergExport.export(df, dest, partitionBy = Seq("months(d)", "bucket(4, id)"))

    // the spec carries the transform strings and derived field names
    val json = JFiles.readString(
      java.nio.file.Paths.get(s"$dest/metadata/v1.metadata.json"))
      .replaceAll("\\s", "")
    assert(json.contains("\"transform\":\"month\""))
    assert(json.contains("\"transform\":\"bucket[4]\""))
    assert(json.contains("\"name\":\"d_month\""))
    // hive layout by derived values; data files keep the SOURCE columns
    val dirs = new java.io.File(s"$dest/data").listFiles().map(_.getName)
    assert(dirs.exists(_.startsWith("d_month=")), dirs.mkString(","))

    val back = IcebergExport.readTable(spark, dest)
    assert(back.columns.toSeq === Seq("id", "d", "nm"))
    assert(back.count() === 60)
    assert(back.agg(sum("id")).as[Long].head === (0L until 60L).sum)

    // month range pruning: inclusive relaxation keeps the boundary month
    val cut = java.sql.Date.valueOf("2024-05-01")
    val got = IcebergExport.readTable(spark, dest,
      preds = Seq(IcebergExport.Predicate("d", ">=", cut)))
    val (kept, total) = IcebergExport.lastPlanStats
    assert(kept < total, s"month pruning must fire: $kept/$total")
    assert(got.count() === df.filter(col("d") >= lit(cut)).count())

    // bucket pruning: equality only, and to exactly the rows asked for
    val got2 = IcebergExport.readTable(spark, dest,
      preds = Seq(IcebergExport.Predicate("id", "=", 7L)))
    val (kept2, total2) = IcebergExport.lastPlanStats
    assert(kept2 < total2, s"bucket pruning must fire: $kept2/$total2")
    assert(got2.as[(Long, java.sql.Date, String)].collect().map(_._1).toSeq
      === Seq(7L))
    // a RANGE over the bucket source must NOT prune on the bucket tuple
    IcebergExport.readTable(spark, dest,
      preds = Seq(IcebergExport.Predicate("id", ">=", 0L))).count()

    // incremental export with the same transform spec appends to the chain
    IcebergExport.export(
      Seq((100L, java.sql.Date.valueOf("2024-07-04"), "later")).toDF("id", "d", "nm"),
      dest, partitionBy = Seq("months(d)", "bucket(4, id)"))
    assert(IcebergExport.snapshotIds(spark, dest).size === 2)
    assert(IcebergExport.readTable(spark, dest).count() === 61)
    // a different spec EVOLVES the layout (r19): spec-id 1 minted, the
    // shared months(d) field keeps its partition field id
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    IcebergExport.export(df, dest, partitionBy = Seq("months(d)"))
    val hint = JFiles.readString(java.nio.file.Paths.get(
      s"$dest/metadata/version-hint.text")).trim
    val meta = org.json4s.jackson.JsonMethods.parse(JFiles.readString(
      java.nio.file.Paths.get(s"$dest/metadata/v$hint.metadata.json")))
    assert((meta \ "partition-specs").children.size === 2)
    assert((meta \ "default-spec-id").extract[Int] === 1)
    def fidOf(specId: Int, name: String): Int =
      ((meta \ "partition-specs").children.find(s =>
        (s \ "spec-id").extract[Int] == specId).get \ "fields").children
        .find(f => (f \ "name").extract[String] == name)
        .map(f => (f \ "field-id").extract[Int]).get
    assert(fidOf(1, "d_month") === fidOf(0, "d_month"),
      "the shared transform field reuses its partition field id")
    assert(IcebergExport.readTable(spark, dest).count() === 121)
  }

  test("day transform writes date hive dirs + epoch-day tuples; string " +
      "truncate prunes prefix ranges; store specs carry through exportStore") {
    import spark.implicits._
    val dest = JFiles.createTempDirectory("iceexp_day").toFile.getAbsolutePath
    val rows = Seq.tabulate(40) { i =>
      (i.toLong,
        java.sql.Timestamp.valueOf(s"2024-03-${1 + i % 10} 0${i % 9}:15:00"),
        s"${(97 + i % 4).toChar}k$i") // prefixes ak/bk/ck/dk → 4 truncate cells
    }
    IcebergExport.export(rows.toDF("id", "ts", "k"), dest,
      partitionBy = Seq("days(ts)", "truncate(2, k)"))
    val dirs = new java.io.File(s"$dest/data").listFiles().map(_.getName)
    assert(dirs.exists(_.matches("ts_day=2024-03-\\d+")), dirs.mkString(","))

    val cut = java.sql.Timestamp.valueOf("2024-03-08 00:00:00")
    val got = IcebergExport.readTable(spark, dest,
      preds = Seq(IcebergExport.Predicate("ts", ">=", cut)))
    val (kept, total) = IcebergExport.lastPlanStats
    assert(kept < total, s"day pruning must fire: $kept/$total")
    assert(got.count() ===
      rows.count { case (_, ts, _) => !ts.before(cut) })

    // string truncate: equality on the source prunes to its prefix cell
    val got2 = IcebergExport.readTable(spark, dest,
      preds = Seq(IcebergExport.Predicate("k", "=", "ak8")))
    val (kept2, total2) = IcebergExport.lastPlanStats
    assert(kept2 < total2, s"truncate pruning must fire: $kept2/$total2")
    assert(got2.count() === rows.count(_._3 == "ak8"))

    // a store's recorded hidden partitioning carries into the export
    val root = JFiles.createTempDirectory("iceexp_dayst").toFile.getAbsolutePath
    val st = new SnapshotTable(spark, root)
    st.commitPartitioned(rows.toDF("id", "ts", "k"), Seq("days(ts)"))
    val dest2 = JFiles.createTempDirectory("iceexp_day2").toFile.getAbsolutePath
    IcebergExport.exportStore(spark, root, dest2,
      partitionBy = st.partitionSpec)
    val json2 = JFiles.readString(
      java.nio.file.Paths.get(s"$dest2/metadata/v1.metadata.json"))
      .replaceAll("\\s", "")
    assert(json2.contains("\"transform\":\"day\""))
    assert(IcebergExport.readTable(spark, dest2).count() === 40)
  }

  test("syncFromTable mirrors a foreign chain into a store O(delta): " +
      "appends tagged exactly-once, equality deletes stay mor, coarse " +
      "snapshots fold, crash replay adds no rows") {
    import spark.implicits._
    val chain = JFiles.createTempDirectory("icefrom_tbl").toFile.getAbsolutePath
    val root = JFiles.createTempDirectory("icefrom_store").toFile.getAbsolutePath
    def docs(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong, s"d$i", (i % 3).toLong))
        .toDF("id", "v", "n")

    // a "foreign" chain: base append, delta append, an equality delete
    IcebergExport.export(docs(0, 50), chain)
    IcebergExport.export(docs(50, 70), chain)
    val s1 = IcebergExport.syncFromTable(spark, chain, root)
    assert(s1.size === 2)
    val st = new SnapshotTable(spark, root)
    assert(st.read().count() === 70)
    // appends arrived as tagged appends (the exactly-once cursor)
    assert(st.history().filter(col("operation").startsWith("append@"))
      .count() === 2)

    IcebergExport.appendEqualityDeletes(spark, chain,
      Seq(3L, 7L, 66L).toDF("id"), Seq("id"))
    val s2 = IcebergExport.syncFromTable(spark, chain, root)
    assert(s2.size === 1)
    assert(st.read().count() === 67)
    // the delete stayed merge-on-read, not a cow rewrite
    assert(st.history().filter(col("operation") === "mor-delete").count() === 1)
    val back = IcebergExport.readTable(spark, chain)
    assert(st.read().except(back).isEmpty && back.except(st.read()).isEmpty,
      "mirrored store must equal the chain's own read")

    // idempotence: nothing new → Nil; replay after a lost record adds no rows
    assert(IcebergExport.syncFromTable(spark, chain, root) === Nil)
    assert(new java.io.File(s"$root/_graft_mirror").listFiles()
      .count(_.getName.endsWith(".rec")) === 3)
    // drop the LAST record (crash between mutation commit and record)
    val lastSid = IcebergExport.snapshotIds(spark, chain).last
    assert(new java.io.File(s"$root/_graft_mirror/s-$lastSid.rec").delete())
    val s3 = IcebergExport.syncFromTable(spark, chain, root)
    assert(s3 === Seq(lastSid))
    assert(st.read().count() === 67, "crash replay must not change content")

    // position deletes now mirror O(delta) too (r18): value-multiset onto
    // store positions, tagged pos-delete commit, NO fold
    val rcpt = IcebergExport.export(docs(100, 110), chain) // append
    IcebergExport.appendPositionDeletes(spark, chain,
      Seq((rcpt.dataFiles.head, 0L)).toDF("file_path", "pos"))
    val s4 = IcebergExport.syncFromTable(spark, chain, root)
    assert(s4.size === 2)
    val back2 = IcebergExport.readTable(spark, chain)
    assert(st.read().except(back2).isEmpty && back2.except(st.read()).isEmpty,
      "mirrored store must equal the chain's own read")
    assert(st.history().filter(col("operation").startsWith("pos-delete@ice"))
      .count() === 1)
    assert(st.history().filter(col("operation") === "overwrite").count() === 0)

    // a genuinely coarse snapshot (an OVERWRITE — replaces all content)
    // folds into one overwrite commit of the resolved content
    IcebergExport.exportInternal(docs(200, 205), chain, Nil,
      overwrite = true, Map.empty)
    val s5 = IcebergExport.syncFromTable(spark, chain, root)
    assert(s5.size === 1)
    assert(st.read().count() === 5)
    val back3 = IcebergExport.readTable(spark, chain)
    assert(st.read().except(back3).isEmpty && back3.except(st.read()).isEmpty,
      "folded mirror must equal the chain's own read")
    assert(st.history().filter(col("operation") === "overwrite").count() === 1)
  }

  test("day/month transforms stay UTC in a NON-UTC session: pruning never " +
      "drops the matching boundary row") {
    import spark.implicits._
    val savedTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val dest = JFiles.createTempDirectory("iceexp_tz").toFile.getAbsolutePath
      // 01:00 UTC is the previous LOCAL date in LA — the mis-bucket case
      val rows = Seq(
        (1L, java.sql.Timestamp.from(java.time.Instant.parse("2020-06-10T01:00:00Z"))),
        (2L, java.sql.Timestamp.from(java.time.Instant.parse("2020-06-09T23:00:00Z"))),
        (3L, java.sql.Timestamp.from(java.time.Instant.parse("2020-06-11T12:00:00Z"))))
      IcebergExport.export(rows.toDF("id", "ts"), dest,
        partitionBy = Seq("days(ts)"))
      // the hive dirs carry UTC dates, not LA dates
      val dirs = new java.io.File(s"$dest/data").listFiles().map(_.getName)
      assert(dirs.contains("ts_day=2020-06-10"), dirs.mkString(","))
      val cut = java.sql.Timestamp.from(
        java.time.Instant.parse("2020-06-10T00:00:00Z"))
      val got = IcebergExport.readTable(spark, dest,
        preds = Seq(IcebergExport.Predicate("ts", ">=", cut)))
        .select("id").as[Long].collect().sorted
      assert(got === Array(1L, 3L),
        "UTC day pruning must keep the 01:00Z row in a non-UTC session")
    } finally spark.conf.set("spark.sql.session.timeZone", savedTz)
  }

  test("spec metadata inheritance: entries with NULL snapshot_id/sequence " +
      "(what real engines write) inherit the manifest list's values, so " +
      "syncFromTable mirrors a foreign append instead of an empty commit") {
    import spark.implicits._
    import org.apache.avro.file.{DataFileReader, DataFileWriter}
    import org.apache.avro.generic.{GenericData, GenericDatumReader, GenericDatumWriter}
    val chain = JFiles.createTempDirectory("iceinherit_tbl").toFile.getAbsolutePath
    IcebergExport.export(
      Seq.tabulate(20)(i => (i.toLong, s"v$i")).toDF("id", "v"), chain)
    // null out the entry-level ids in the manifest, as a foreign ADDED
    // entry would be written (spec: readers inherit from manifest_file)
    val manifest = new java.io.File(s"$chain/metadata").listFiles()
      .find(f => f.getName.endsWith(".avro") && !f.getName.startsWith("snap-"))
      .get
    val rd = new DataFileReader(manifest,
      new GenericDatumReader[GenericData.Record]())
    val schema = rd.getSchema
    val entries = new scala.collection.mutable.ArrayBuffer[GenericData.Record]
    while (rd.hasNext) entries += rd.next()
    rd.close()
    entries.foreach { e =>
      e.put("snapshot_id", null); e.put("sequence_number", null)
      e.put("file_sequence_number", null)
    }
    val w = new DataFileWriter(new GenericDatumWriter[GenericData.Record](schema))
    w.create(schema, manifest)
    entries.foreach(w.append)
    w.close()
    // the rewrite bypassed Hadoop's checksum FS — drop the stale sidecar
    new java.io.File(manifest.getParent, s".${manifest.getName}.crc").delete()

    // the chain still reads fully…
    assert(IcebergExport.readTable(spark, chain).count() === 20)
    // …and the mirror carries the rows (pre-inheritance this committed an
    // EMPTY tagged append and recorded the snapshot as synced)
    val root = JFiles.createTempDirectory("iceinherit_store").toFile.getAbsolutePath
    IcebergExport.syncFromTable(spark, chain, root)
    assert(new SnapshotTable(spark, root).read().count() === 20)
  }

  test("syncFromTable falls back to one coarse overwrite when an UNSYNCED " +
      "snapshot was expired from the chain (continuity gap)") {
    import spark.implicits._
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val chain = JFiles.createTempDirectory("icegap_tbl").toFile.getAbsolutePath
    val root = JFiles.createTempDirectory("icegap_store").toFile.getAbsolutePath
    def part(lo: Int, hi: Int) =
      (lo until hi).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val a = IcebergExport.export(part(0, 10), chain)
    assert(IcebergExport.syncFromTable(spark, chain, root).size === 1)
    val b = IcebergExport.export(part(10, 20), chain)
    IcebergExport.export(part(20, 30), chain)

    // simulate a foreign expire-snapshots of B: rewrite the current
    // metadata.json without B's snapshot entry (files stay referenced by
    // C's carried-forward manifests, as real expiry keeps live files)
    val hint = java.nio.file.Paths.get(s"$chain/metadata/version-hint.text")
    val v = JFiles.readString(hint).trim.toInt
    val metaPath = java.nio.file.Paths.get(s"$chain/metadata/v$v.metadata.json")
    implicit val fmts: Formats = DefaultFormats
    val meta = JsonMethods.parse(JFiles.readString(metaPath))
    val pruned = meta.transformField {
      case ("snapshots", JArray(snaps)) =>
        ("snapshots", JArray(snaps.filterNot(s =>
          (s \ "snapshot-id").extract[Long] == b.snapshotId)))
    }
    JFiles.writeString(metaPath,
      JsonMethods.pretty(JsonMethods.render(pruned)))
    // the rewrite bypassed Hadoop's checksum FS — drop the stale sidecar
    new java.io.File(metaPath.getParent.toFile, s".v$v.metadata.json.crc").delete()

    // the mirror detects C.parent != last-recorded(A) and folds to one
    // overwrite of the resolved head — B's rows arrive, nothing silent
    val synced = IcebergExport.syncFromTable(spark, chain, root)
    assert(synced.size === 1, s"gap must fold to the head snapshot: $synced")
    val st = new SnapshotTable(spark, root)
    assert(st.read().count() === 30,
      "expired-unsynced rows must arrive via the coarse fold")
    assert(st.history().filter(col("operation") === "overwrite").count() === 1)
  }

  test("string truncate derivation counts CODE POINTS (the spec's and " +
      "Spark substring's unit), not UTF-16 units, and truncate at the " +
      "int minimum mirrors the write side's wrapping arithmetic") {
    import org.apache.spark.sql.types.{IntegerType, StringType}
    // supplementary character: take(1) in UTF-16 units would yield a lone
    // surrogate whose bytes never match the written tuple (the sandbox
    // JVM can't WRITE non-ASCII partition dirs — sun.jnu.encoding=ASCII —
    // so the derivation is pinned at the unit level)
    val sTrunc = FilePruning.parseSpecEntry("truncate(1, s)")
    assert(FilePruning.evalTransform(sTrunc, StringType, "😀a")
      === Some("😀"))
    assert(FilePruning.evalTransform(sTrunc, StringType, "ab") === Some("a"))
    // Int.MinValue: floorDiv(-2147483648, 10)*10 = -2147483650 overflows
    // int32; Iceberg's own TruncateInteger wraps in 32-bit arithmetic and
    // the written tuple wraps the same way — the derivation must agree
    // (the transform takes its source value in the shared Long domain)
    val iTrunc = FilePruning.parseSpecEntry("truncate(10, x)")
    assert(FilePruning.evalTransform(iTrunc, IntegerType, Int.MinValue.toLong)
      === Some((-2147483650L).toInt.toLong))
  }

  test("schema evolution across incremental exports: stable field ids, a " +
      "new schemas entry, null-filled history reads, promotions honored, " +
      "illegal changes refused; syncStore continues through an evolve") {
    import spark.implicits._
    val dest = JFiles.createTempDirectory("iceevo_tbl").toFile.getAbsolutePath
    IcebergExport.export(
      Seq((1L, "a", 1), (2L, "b", 2)).toDF("id", "v", "n"), dest)
    // ADD a column + PROMOTE n int→long + DROP v in one step
    IcebergExport.export(
      Seq((3L, 30L, "x")).toDF("id", "n", "extra")
        .select(col("id"), col("n").cast("long").as("n"), col("extra")),
      dest)
    val json = JFiles.readString(
      java.nio.file.Paths.get(s"$dest/metadata/v2.metadata.json"))
      .replaceAll("\\s", "")
    assert(json.contains("\"current-schema-id\":1"))
    assert(json.contains("\"schema-id\":0") && json.contains("\"schema-id\":1"))
    // kept columns keep their ids; the added one is past last-column-id
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    import org.json4s._
    val meta = org.json4s.jackson.JsonMethods.parse(JFiles.readString(
      java.nio.file.Paths.get(s"$dest/metadata/v2.metadata.json")))
    val cur = (meta \ "schemas").children
      .find(s => (s \ "schema-id").extract[Int] == 1).get
    val ids = (cur \ "fields").children
      .map(f => (f \ "name").extract[String] -> (f \ "id").extract[Int]).toMap
    assert(ids("id") === 1 && ids("n") === 3, s"stable ids: $ids")
    assert(ids("extra") > 3, s"fresh id past last-column-id: $ids")
    // the promoted column carries the NEW type under the OLD id
    assert(org.json4s.jackson.JsonMethods.compact((cur \ "fields").children
      .find(f => (f \ "name").extract[String] == "n").get \ "type")
      .contains("long"))

    // reads merge: old rows null-fill `extra`, dropped `v` is gone,
    // promoted `n` reads as long everywhere
    val back = IcebergExport.readTable(spark, dest)
    assert(back.columns.toSeq === Seq("id", "n", "extra"))
    assert(back.schema("n").dataType === org.apache.spark.sql.types.LongType)
    assert(back.as[(Long, Long, Option[String])].collect().sortBy(_._1)
      === Array((1L, 1L, None), (2L, 2L, None), (3L, 30L, Some("x"))))

    // an illegal change (string → long) refuses loudly
    assertThrows[IllegalArgumentException] {
      IcebergExport.export(
        Seq((4L, 5L, 6L)).toDF("id", "n", "extra"), dest)
    }

    // time travel to the pre-evolution snapshot reads with the snapshot's
    // RECORDED schema (the spec's time-travel rule), not the current one
    val firstSnap = IcebergExport.snapshotIds(spark, dest).head
    val old = IcebergExport.readTable(spark, dest, Some(firstSnap))
    assert(old.columns.toSeq === Seq("id", "v", "n"))
    assert(old.schema("n").dataType === org.apache.spark.sql.types.IntegerType)
    assert(old.as[(Long, String, Int)].collect().sortBy(_._1)
      === Array((1L, "a", 1), (2L, "b", 2)))

    // syncStore continues one chain straight through a store evolve
    val root = JFiles.createTempDirectory("iceevo_store").toFile.getAbsolutePath
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((1L, "a")).toDF("id", "v"))
    val chain = JFiles.createTempDirectory("iceevo_chain").toFile.getAbsolutePath
    IcebergExport.syncStore(spark, root, chain)
    st.commit(Seq((2L, "b", 9L)).toDF("id", "v", "w"), op = "append")
    IcebergExport.syncStore(spark, root, chain)
    val synced = IcebergExport.readTable(spark, chain)
    assert(synced.columns.toSeq === Seq("id", "v", "w"))
    assert(synced.count() === 2)
    assert(IcebergExport.snapshotIds(spark, chain).size === 2,
      "the evolve must not force a fresh chain")
  }

  test("evolution guard rails: short/byte frames re-export unchanged, " +
      "nullability widens without schema accretion, added columns are " +
      "optional, and dropping an equality-delete key column refuses") {
    import spark.implicits._
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats

    // short column: round-trips as int — NOT an evolution
    val destS = JFiles.createTempDirectory("iceevo_short").toFile.getAbsolutePath
    val shortDf = Seq((1L, 2.toShort)).toDF("id", "sv")
    IcebergExport.export(shortDf, destS)
    IcebergExport.export(shortDf, destS) // must not throw / not evolve
    val metaS = org.json4s.jackson.JsonMethods.parse(JFiles.readString(
      java.nio.file.Paths.get(s"$destS/metadata/v2.metadata.json")))
    assert((metaS \ "schemas").children.size === 1)
    assert(IcebergExport.readTable(spark, destS).count() === 2)

    // nullability widen: required → optional evolves ONCE, repeats carry
    // (toDF marks strings nullable, so build the required schema by hand)
    val destN = JFiles.createTempDirectory("iceevo_null").toFile.getAbsolutePath
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val reqDf = spark.createDataFrame(
      java.util.List.of(org.apache.spark.sql.Row(1L, "a")),
      StructType(Seq(StructField("id", LongType, nullable = false),
        StructField("v", StringType, nullable = false))))
    IcebergExport.export(reqDf, destN)
    val nullable = Seq((2L, Option.empty[String]), (3L, Some("c")))
      .toDF("id", "v")
    IcebergExport.export(nullable, destN)
    IcebergExport.export(nullable, destN)
    val metaN = org.json4s.jackson.JsonMethods.parse(JFiles.readString(
      java.nio.file.Paths.get(s"$destN/metadata/v3.metadata.json")))
    assert((metaN \ "schemas").children.size === 2,
      "one widen, then no accretion")
    val curN = (metaN \ "schemas").children.find(s =>
      (s \ "schema-id").extract[Int] ==
        (metaN \ "current-schema-id").extract[Int]).get
    assert((curN \ "fields").children.find(f =>
      (f \ "name").extract[String] == "v").get \ "required" === JBool(false))
    assert(IcebergExport.readTable(spark, destN)
      .filter(col("v").isNull).count() === 2) // the nullable frame landed twice

    // an added column is recorded optional even from a non-null frame
    val destA = JFiles.createTempDirectory("iceevo_add").toFile.getAbsolutePath
    IcebergExport.export(Seq(Tuple1(1L)).toDF("id"), destA)
    IcebergExport.export(Seq((2L, "x")).toDF("id", "w"), destA)
    val metaA = org.json4s.jackson.JsonMethods.parse(JFiles.readString(
      java.nio.file.Paths.get(s"$destA/metadata/v2.metadata.json")))
    val curA = (metaA \ "schemas").children.find(s =>
      (s \ "schema-id").extract[Int] == 1).get
    assert((curA \ "fields").children.find(f =>
      (f \ "name").extract[String] == "w").get \ "required" === JBool(false),
      "added columns must be optional (pre-evolution rows are null)")

    // dropping a column live equality-delete files key on refuses loudly
    val destD = JFiles.createTempDirectory("iceevo_drop").toFile.getAbsolutePath
    IcebergExport.export(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), destD)
    IcebergExport.appendEqualityDeletes(spark, destD,
      Seq("a").toDF("v"), Seq("v"))
    assertThrows[IllegalArgumentException] {
      IcebergExport.export(Seq(Tuple1(3L)).toDF("id"), destD)
    }
    assert(IcebergExport.readTable(spark, destD).count() === 1)
  }

  test("syncFromTable treats a chain whose UNSEEN older snapshots were " +
      "expired as a continuity gap even when no synced snapshot survives") {
    import spark.implicits._
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val chain = JFiles.createTempDirectory("icegap2_tbl").toFile.getAbsolutePath
    val root = JFiles.createTempDirectory("icegap2_store").toFile.getAbsolutePath
    val a = IcebergExport.export(
      (0 until 10).map(i => (i.toLong, s"v$i")).toDF("id", "v"), chain)
    IcebergExport.export(
      (10 until 20).map(i => (i.toLong, s"v$i")).toDF("id", "v"), chain)
    // expire A before the FIRST sync: fresh mirror, todo.head has a parent
    val hint = java.nio.file.Paths.get(s"$chain/metadata/version-hint.text")
    val v = JFiles.readString(hint).trim.toInt
    val metaPath = java.nio.file.Paths.get(s"$chain/metadata/v$v.metadata.json")
    val pruned = JsonMethods.parse(JFiles.readString(metaPath)).transformField {
      case ("snapshots", JArray(snaps)) =>
        ("snapshots", JArray(snaps.filterNot(s =>
          (s \ "snapshot-id").extract[Long] == a.snapshotId)))
    }
    JFiles.writeString(metaPath, JsonMethods.pretty(JsonMethods.render(pruned)))
    new java.io.File(metaPath.getParent.toFile, s".v$v.metadata.json.crc").delete()

    val synced = IcebergExport.syncFromTable(spark, chain, root)
    assert(synced.size === 1, s"gap fold expected: $synced")
    assert(new SnapshotTable(spark, root).read().count() === 20,
      "rows carried from the expired snapshot must arrive via the fold")
  }

  test("map columns export with key/value ids and round-trip") {
    import spark.implicits._
    val dest = JFiles.createTempDirectory("iceexp_map").toFile.getAbsolutePath
    val df = Seq((1L, Map("a" -> 1.5, "b" -> 2.5)), (2L, Map("c" -> 9.0)))
      .toDF("id", "props")
    IcebergExport.export(df, dest)
    val json = JFiles.readString(
      java.nio.file.Paths.get(s"$dest/metadata/v1.metadata.json"))
      .replaceAll("\\s", "")
    assert(json.contains("\"type\":\"map\""))
    assert(json.contains("key-id") && json.contains("value-id"))
    val back = IcebergExport.readTable(spark, dest)
    assert(back.schema("props").dataType.isInstanceOf[
      org.apache.spark.sql.types.MapType])
    assert(back.select(col("id"), map_values(col("props")))
      .as[(Long, Seq[Double])].collect().sortBy(_._1)
      .map { case (i, vs) => (i, vs.sorted) }
      === Array((1L, Seq(1.5, 2.5)), (2L, Seq(9.0))))
  }

  test("value_counts/null_value_counts metrics ride the manifests and " +
      "IS [NOT] NULL predicates prune on them") {
    import spark.implicits._
    val dest = JFiles.createTempDirectory("iceexp_nulls").toFile.getAbsolutePath
    // two snapshots → two data files: one with NO nulls, one ALL-null in v
    IcebergExport.export(
      Seq((1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), dest)
    IcebergExport.export(
      Seq((3L, null: String), (4L, null: String)).toDF("id", "v").coalesce(1),
      dest)

    // IS NULL skips the no-null file
    val gotNull = IcebergExport.readTable(spark, dest,
      preds = Seq(IcebergExport.Predicate("v", "isnull")))
    val (k1, t1) = IcebergExport.lastPlanStats
    assert(t1 === 2 && k1 === 1, s"isnull must prune the no-null file: $k1/$t1")
    assert(gotNull.select("id").as[Long].collect().sorted === Array(3L, 4L))

    // IS NOT NULL skips the all-null file
    val gotNotNull = IcebergExport.readTable(spark, dest,
      preds = Seq(IcebergExport.Predicate("v", "notnull")))
    val (k2, t2) = IcebergExport.lastPlanStats
    assert(k2 === 1, s"notnull must prune the all-null file: $k2/$t2")
    assert(gotNotNull.select("id").as[Long].collect().sorted === Array(1L, 2L))
  }

  test("syncStore mirrors POSITION deletes as content=1 delete files: " +
      "multiset semantics over duplicates, zero data files rewritten") {
    import spark.implicits._
    val root = JFiles.createTempDirectory("icesync_pos").toFile.getAbsolutePath
    val dest = JFiles.createTempDirectory("icesync_post").toFile.getAbsolutePath
    val st = new SnapshotTable(spark, root)
    // duplicate rows: the case equality deletes CANNOT express (they would
    // remove every copy) — the reason position deletes exist
    st.commit(Seq((1L, "a"), (1L, "a"), (2L, "b"), (3L, "c"))
      .toDF("id", "v").coalesce(1))
    assert(IcebergExport.syncStore(spark, root, dest) === Seq(0L))
    val dataBefore = IcebergExport.plannedFiles(spark, dest).map(_._1).toSet
    // delete ONE copy of the duplicate by position (keyless DML)
    st.deleteWherePos(col("id") === 1L && col("graft__pos") === 0L)   // v1
    assert(st.read().filter(col("id") === 1L).count() === 1)
    assert(IcebergExport.syncStore(spark, root, dest) === Seq(1L))
    // the chain resolved identically — one copy of (1, a) survives
    assert(sameRows(IcebergExport.readTable(spark, dest), st.read()))
    // O(delta): every pre-existing DATA file still serves; the mutation
    // landed as a delete FILE, not a fold/rewrite
    assert(IcebergExport.plannedFiles(spark, dest).map(_._1).toSet
      === dataBefore)
    // the pre-delete snapshot still time-travels in full
    val pre = IcebergExport.snapshotIds(spark, dest).head
    assert(IcebergExport.readTable(spark, dest, Some(pre)).count() === 4)
    // repeat sync is a no-op
    assert(IcebergExport.syncStore(spark, root, dest).isEmpty)
  }

  test("position-delete sync PRUNES its chain read with predicates derived " +
      "from the deleted multiset: a range-clustered chain scans only " +
      "candidate files, an unclustered one yields identical results") {
    import spark.implicits._
    // clustered: 4 range-partitioned files over id, delete values confined
    // to the lowest range — the live-copy scan must skip files
    val root = JFiles.createTempDirectory("iceppr_store").toFile.getAbsolutePath
    val dest = JFiles.createTempDirectory("iceppr_tbl").toFile.getAbsolutePath
    val st = new SnapshotTable(spark, root)
    val rows = spark.range(0, 400).toDF("id")
      .withColumn("v", concat(lit("r"), col("id")))
    st.commit(rows.repartitionByRange(4, col("id"))
      .sortWithinPartitions("id"))
    IcebergExport.syncStore(spark, root, dest)
    assert(IcebergExport.plannedFiles(spark, dest).size >= 4)
    st.deleteWherePos(col("id") < 50L && col("id") % 3 === 0L)
    IcebergExport.syncStore(spark, root, dest)
    val (kept, total) = IcebergExport.lastPlanStats
    assert(kept < total,
      s"clustered chain must prune the live-copy scan: $kept/$total")
    assert(sameRows(IcebergExport.readTable(spark, dest), st.read()))

    // unclustered: the same delete over a shuffled layout cannot prune,
    // but results are identical (predicates are a pure optimization)
    val root2 = JFiles.createTempDirectory("iceppr_store2").toFile.getAbsolutePath
    val dest2 = JFiles.createTempDirectory("iceppr_tbl2").toFile.getAbsolutePath
    val st2 = new SnapshotTable(spark, root2)
    st2.commit(rows.repartition(4)) // hash layout: every file spans the range
    IcebergExport.syncStore(spark, root2, dest2)
    st2.deleteWherePos(col("id") < 50L && col("id") % 3 === 0L)
    IcebergExport.syncStore(spark, root2, dest2)
    assert(sameRows(IcebergExport.readTable(spark, dest2), st2.read()))
    assert(sameRows(IcebergExport.readTable(spark, dest2)
      .select("id", "v"), IcebergExport.readTable(spark, dest)
      .select("id", "v")),
      "clustered and unclustered chains must resolve to the same rows")
  }

  test("syncFromTable applies a foreign POSITION-delete snapshot O(delta) " +
      "(values mirrored onto store positions) and a crash replay is " +
      "detected by the op tag, not re-applied") {
    import spark.implicits._
    val dest = JFiles.createTempDirectory("icesync_posf").toFile.getAbsolutePath
    val store = JFiles.createTempDirectory("icesync_posfs").toFile.getAbsolutePath
    IcebergExport.export(
      Seq((1L, "a"), (1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), dest)
    assert(IcebergExport.syncFromTable(spark, dest, store).size === 1)
    // the foreign engine position-deletes ONE copy of the duplicate
    val dataFile = IcebergExport.plannedFiles(spark, dest).head._1
    IcebergExport.appendPositionDeletes(spark, dest,
      Seq((dataFile, 0L)).toDF("file_path", "pos"))
    val synced = IcebergExport.syncFromTable(spark, dest, store)
    assert(synced.size === 1)
    val st = new SnapshotTable(spark, store)
    assert(sameRows(st.read(), IcebergExport.readTable(spark, dest)))
    assert(st.read().count() === 2)
    val ops = st.history().select("operation").as[String].collect().toSeq
    assert(ops.exists(_.startsWith("pos-delete@ice")),
      s"expected a tagged pos-delete commit, got $ops")
    assert(!ops.contains("overwrite"), s"pos-delete must not fold: $ops")
    // crash replay: the mirror record vanished after the commit landed —
    // the tag in the commit log must stop a SECOND application (position
    // deletes are not idempotent by value: a blind replay would remove
    // the remaining copy of the duplicate)
    val rec = new java.io.File(s"$store/_graft_mirror/s-${synced.head}.rec")
    assert(rec.delete())
    assert(IcebergExport.syncFromTable(spark, dest, store) === synced)
    assert(st.read().count() === 2)
    assert(sameRows(st.read(), IcebergExport.readTable(spark, dest)))
    assert(IcebergExport.syncFromTable(spark, dest, store).isEmpty)
  }

  test("syncStore survives an unsynced store EVOLUTION followed by a " +
      "delete: the delete folds to one overwrite instead of wedging") {
    import spark.implicits._
    val root = JFiles.createTempDirectory("icesync_evodel").toFile.getAbsolutePath
    val dest = JFiles.createTempDirectory("icesync_evodelt").toFile.getAbsolutePath
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((1L, "a", 1L), (1L, "a", 2L), (2L, "b", 3L))
      .toDF("id", "v", "x"))                                          // v0
    assert(IcebergExport.syncStore(spark, root, dest) === Seq(0L))
    // an evolve (content-noop: the chain only adopts at the next append)
    // then a POSITION delete whose CDC frame has the NEW schema
    st.dropColumn("x")                                                // v1
    st.deleteWherePos(col("id") === 2L)                               // v2
    assert(IcebergExport.syncStore(spark, root, dest) === Seq(1L, 2L))
    assert(sameRows(IcebergExport.readTable(spark, dest), st.read()))
    // repeat ticks stay no-ops — the sync never wedges on v2
    assert(IcebergExport.syncStore(spark, root, dest).isEmpty)
    // same for an equality delete after an evolve of its KEY column
    val root2 = JFiles.createTempDirectory("icesync_evodel2").toFile.getAbsolutePath
    val dest2 = JFiles.createTempDirectory("icesync_evodel2t").toFile.getAbsolutePath
    val st2 = new SnapshotTable(spark, root2)
    st2.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(IcebergExport.syncStore(spark, root2, dest2).nonEmpty)
    st2.renameColumn("id", "key")
    st2.deleteWhereMor(col("key") === 2L, "key")
    assert(IcebergExport.syncStore(spark, root2, dest2).size === 2)
    assert(sameRows(IcebergExport.readTable(spark, dest2), st2.read()))
  }

  test("syncStore mirrors mor UPDATE/MERGE commits O(delta): an " +
      "equality-delete file + an append snapshot, never a fold") {
    import spark.implicits._
    val root = JFiles.createTempDirectory("icesync_upd").toFile.getAbsolutePath
    val dest = JFiles.createTempDirectory("icesync_updt").toFile.getAbsolutePath
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "v", "score"))                                        // v0
    assert(IcebergExport.syncStore(spark, root, dest) === Seq(0L))
    val dataBefore = IcebergExport.plannedFiles(spark, dest).map(_._1).toSet

    // mor UPDATE: one store commit = (claimed keys, replacement rows)
    st.updateMor(col("id") === 2L,
      Map("v" -> lit("B2"), "score" -> lit(200L)), "id")                // v1
    assert(IcebergExport.syncStore(spark, root, dest) === Seq(1L))
    assert(sameRows(IcebergExport.readTable(spark, dest), st.read()))
    // O(delta): every pre-existing data file still serves (the update
    // landed as delete file + append, not a rewrite)
    assert(dataBefore.subsetOf(
      IcebergExport.plannedFiles(spark, dest).map(_._1).toSet))

    // mor MERGE: replaced + inserted rows in one commit (update-all
    // matched, insert-all unmatched — the plain upsert clause pair)
    st.mergeIntoMor(Seq((3L, "C2", 300L), (9L, "new", 90L))
      .toDF("id", "v", "score"), "id",
      matched = Seq((None, Some(Map("v" -> col("__src_v"),
        "score" -> col("__src_score"))))),
      notMatched = Seq((None, None)))                                  // v2
    assert(IcebergExport.syncStore(spark, root, dest) === Seq(2L))
    assert(sameRows(IcebergExport.readTable(spark, dest), st.read()))
    // the chain accrued SNAPSHOTS (delete + append per mutation), and no
    // overwrite ever folded the history
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    import org.json4s._
    val ops = IcebergExport.snapshotIds(spark, dest).map { sid =>
      val meta = org.json4s.jackson.JsonMethods.parse(JFiles.readString(
        java.nio.file.Paths.get(s"$dest/metadata/v" +
          JFiles.readString(java.nio.file.Paths.get(
            s"$dest/metadata/version-hint.text")).trim + ".metadata.json")))
      (meta \ "snapshots").children.find(s2 =>
        (s2 \ "snapshot-id").extract[Long] == sid)
        .map(s2 => (s2 \ "summary" \ "operation").extract[String]).get
    }
    assert(!ops.contains("overwrite"), s"mor update/merge must not fold: $ops")
    assert(ops.count(_ == "delete") === 2 && ops.count(_ == "append") >= 3)

    // repeat sync: no-op; time travel before the update still intact
    assert(IcebergExport.syncStore(spark, root, dest).isEmpty)
    val first = IcebergExport.snapshotIds(spark, dest).head
    assert(IcebergExport.readTable(spark, dest, Some(first)).count() === 3)
  }

  test("syncFromTable ignores RE-STATED positions (the spec permits " +
      "re-deleting an already-deleted position — a read-side no-op, " +
      "never an extra deleted copy or a drift refusal)") {
    import spark.implicits._
    val dest = JFiles.createTempDirectory("icesync_restate").toFile.getAbsolutePath
    val store = JFiles.createTempDirectory("icesync_restates").toFile.getAbsolutePath
    IcebergExport.export(
      Seq((1L, "a"), (1L, "a"), (2L, "b")).toDF("id", "v").coalesce(1), dest)
    assert(IcebergExport.syncFromTable(spark, dest, store).size === 1)
    val f = IcebergExport.plannedFiles(spark, dest).head._1
    IcebergExport.appendPositionDeletes(spark, dest,
      Seq((f, 0L)).toDF("file_path", "pos"))
    assert(IcebergExport.syncFromTable(spark, dest, store).size === 1)
    // the second delete snapshot RE-STATES (f,0) alongside the new (f,1)
    IcebergExport.appendPositionDeletes(spark, dest,
      Seq((f, 0L), (f, 1L)).toDF("file_path", "pos"))
    assert(IcebergExport.syncFromTable(spark, dest, store).size === 1)
    val st = new SnapshotTable(spark, store)
    assert(st.read().count() === 1)
    assert(sameRows(st.read(), IcebergExport.readTable(spark, dest)))
    // a snapshot whose EVERY position is a restatement mirrors as a no-op
    IcebergExport.appendPositionDeletes(spark, dest,
      Seq((f, 1L)).toDF("file_path", "pos"))
    val before = st.history().count()
    assert(IcebergExport.syncFromTable(spark, dest, store).size === 1)
    assert(st.history().count() === before, "a pure restatement must not commit")
    assert(sameRows(st.read(), IcebergExport.readTable(spark, dest)))
  }

  test("syncFromTable mirrors foreign SCHEMA EVOLUTION as store evolve " +
      "commits (metadata-only, O(delta) replay), with store time travel " +
      "keeping the pre-evolution schema") {
    import spark.implicits._
    val dest = JFiles.createTempDirectory("icesync_evo").toFile.getAbsolutePath
    val store = JFiles.createTempDirectory("icesync_evos").toFile.getAbsolutePath
    IcebergExport.export(Seq((1L, "a", 1), (2L, "b", 2)).toDF("id", "v", "n"),
      dest)
    assert(IcebergExport.syncFromTable(spark, dest, store).size === 1)
    // the foreign chain ADDs a column and PROMOTEs n int→long mid-chain
    IcebergExport.export(
      Seq((3L, "c", 30L, "x")).toDF("id", "v", "n", "extra")
        .select(col("id"), col("v"), col("n").cast("long").as("n"),
          col("extra")), dest)
    // and appends again at the evolved schema
    IcebergExport.export(
      Seq((4L, "d", 40L, "y")).toDF("id", "v", "n", "extra")
        .select(col("id"), col("v"), col("n").cast("long").as("n"),
          col("extra")), dest)
    assert(IcebergExport.syncFromTable(spark, dest, store).size === 2)
    val st = new SnapshotTable(spark, store)
    assert(sameRows(st.read(), IcebergExport.readTable(spark, dest)))
    val ops = st.history().select("operation").as[String].collect().toSeq
    assert(ops.count(_.startsWith("evolve:")) === 2,
      s"expected ADD + promote as two evolve commits, got $ops")
    assert(!ops.contains("overwrite"),
      s"schema evolution must not coarse-fold: $ops")
    // store time travel: the first mirrored version predates the evolution
    val v0 = st.history().orderBy(col("version")).select("version")
      .as[Long].head()
    val oldSchema = st.read(Some(v0)).schema
    assert(!oldSchema.fieldNames.contains("extra"))
    assert(oldSchema("n").dataType === org.apache.spark.sql.types.IntegerType)
    assert(st.read().schema("n").dataType
      === org.apache.spark.sql.types.LongType)
    // repeat sync: no-op
    assert(IcebergExport.syncFromTable(spark, dest, store).isEmpty)
    // crash replay ACROSS the evolution (record lost after the commits
    // landed): the evolve steps re-apply as no-ops, the tagged append is
    // skipped — nothing duplicated, no rename/drop misfire
    val lastSid = IcebergExport.snapshotIds(spark, dest).last
    val opsBefore = st.history().count()
    assert(new java.io.File(s"$store/_graft_mirror/s-$lastSid.rec").delete())
    assert(IcebergExport.syncFromTable(spark, dest, store) === Seq(lastSid))
    assert(st.history().count() === opsBefore,
      "evolution replay must converge without new commits")
    assert(sameRows(st.read(), IcebergExport.readTable(spark, dest)))
  }

  test("hours() cells pre-1970 fractional-second instants by exact floor " +
      "(not toward-zero truncation): '=' pruning keeps the matching file") {
    import spark.implicits._
    val dest = JFiles.createTempDirectory("iceexp_prehour").toFile.getAbsolutePath
    val early = java.sql.Timestamp.from(
      java.time.Instant.parse("1969-12-31T23:59:59.500Z"))
    val late = java.sql.Timestamp.from(
      java.time.Instant.parse("2023-06-01T10:30:00Z"))
    IcebergExport.export(Seq((1L, early), (2L, late)).toDF("id", "ts"),
      dest, partitionBy = Seq("hours(ts)"))
    // the buggy write side cells -0.5 s into hour 0; the read side derives
    // hour -1, prunes the only file holding the row → silent row loss
    val got = IcebergExport.readTable(spark, dest,
      preds = Seq(IcebergExport.Predicate("ts", "=", early)))
    assert(got.select("id").as[Long].collect().toSeq === Seq(1L))
    // and the cell prunes: the 2023 file is skipped
    assert(IcebergExport.lastPlanStats._1 < IcebergExport.lastPlanStats._2)
  }

  test("re-adding a DROPPED column name takes a FRESH field id and the " +
      "old bytes read as NULL under it — the spec's id-based resolution, " +
      "never a name-based resurface") {
    import spark.implicits._
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    val dest = JFiles.createTempDirectory("iceexp_readd").toFile.getAbsolutePath
    IcebergExport.export(Seq((1L, "a")).toDF("id", "v"), dest)
    IcebergExport.export(Seq(Tuple1(2L)).toDF("id"), dest) // drop v
    IcebergExport.export(Seq((3L, "b")).toDF("id", "v"), dest) // re-add v
    val meta = org.json4s.jackson.JsonMethods.parse(JFiles.readString(
      java.nio.file.Paths.get(s"$dest/metadata/v3.metadata.json")))
    val schemas = (meta \ "schemas").children
    def idOfV(schemaId: Int): Option[Int] = schemas
      .find(s => (s \ "schema-id").extract[Int] == schemaId)
      .flatMap(s => (s \ "fields").children.find(f =>
        (f \ "name").extract[String] == "v"))
      .map(f => (f \ "id").extract[Int])
    assert(idOfV(2).get > idOfV(0).get,
      s"re-added v must take a fresh id: ${idOfV(0)} vs ${idOfV(2)}")
    // row 1's ORIGINAL v bytes ("a") belong to the dropped id: under the
    // re-added field they read as NULL; row 3's new value reads back
    val back = IcebergExport.readTable(spark, dest)
      .as[(Long, Option[String])].collect().sortBy(_._1)
    assert(back === Array((1L, None), (2L, None), (3L, Some("b"))))
    // time travel to the ORIGINAL schema still values the old bytes
    val first = IcebergExport.snapshotIds(spark, dest).head
    assert(IcebergExport.readTable(spark, dest, Some(first))
      .as[(Long, String)].collect() === Array((1L, "a")))
  }

  test("truncate over the int family: the wrap cell at the type minimum " +
      "must not be range-pruned (monotonicity breaks there)") {
    import spark.implicits._
    val dest = JFiles.createTempDirectory("iceexp_wrap").toFile.getAbsolutePath
    // IntegerType, truncate(100): Int.MinValue's cell wraps in 32-bit
    // arithmetic to tuple 2147483596 — a '<' relaxation comparing tuples
    // would prune the file although the row matches the predicate
    val df = Seq(Tuple2(1L, Int.MinValue), Tuple2(2L, 10),
      Tuple2(3L, 110)).toDF("id", "x")
    IcebergExport.export(df, dest, partitionBy = Seq("truncate(100, x)"))
    val got = IcebergExport.readTable(spark, dest,
      preds = Seq(IcebergExport.Predicate("x", "<", 20)))
    assert(got.select("id").as[Long].collect().sorted.toSeq === Seq(1L, 2L))
    // equality into the wrap cell still resolves (both sides wrap alike)
    val eq = IcebergExport.readTable(spark, dest,
      preds = Seq(IcebergExport.Predicate("x", "=", Int.MinValue)))
    assert(eq.select("id").as[Long].collect().toSeq === Seq(1L))
    // byte sources truncate in the int DOMAIN (no wrap, no ANSI overflow):
    // -128 lands in cell -200 and range pruning stays exact
    val destB = JFiles.createTempDirectory("iceexp_wrapb").toFile.getAbsolutePath
    IcebergExport.export(
      Seq(Tuple2(1L, (-128).toByte), Tuple2(2L, 110.toByte)).toDF("id", "b"),
      destB, partitionBy = Seq("truncate(100, b)"))
    val gotB = IcebergExport.readTable(spark, destB,
      preds = Seq(IcebergExport.Predicate("b", "<", 20.toByte)))
    assert(gotB.select("id").as[Long].collect().toSeq === Seq(1L))
    assert(IcebergExport.lastPlanStats._1 < IcebergExport.lastPlanStats._2)
  }

  test("IN prunes as a disjunction of equalities (bucket cells); != " +
      "excludes only provably single-valued files and filters residually") {
    import spark.implicits._
    val dest = JFiles.createTempDirectory("iceexp_in").toFile.getAbsolutePath
    val df = Seq.tabulate(40)(i => (i.toLong, s"v$i")).toDF("id", "v")
    IcebergExport.export(df, dest, partitionBy = Seq("bucket(4, id)"))
    val got = IcebergExport.readTable(spark, dest,
      preds = Seq(IcebergExport.Predicate("id", "in", Seq(5L, 9L))))
    val (kept, total) = IcebergExport.lastPlanStats
    assert(kept < total, s"IN must prune bucket cells: $kept/$total")
    assert(got.select("id").as[Long].collect().sorted.toSeq === Seq(5L, 9L))
    // empty IN matches nothing
    assert(IcebergExport.readTable(spark, dest,
      preds = Seq(IcebergExport.Predicate("id", "in", Seq.empty[Long])))
      .count() === 0)
    // != keeps everything else; soundness over the same table
    assert(IcebergExport.readTable(spark, dest,
      preds = Seq(IcebergExport.Predicate("id", "!=", 5L))).count() === 39)
  }

  test("syncFromTable stays O(delta) when the foreign engine expired " +
      "ALREADY-SYNCED snapshots (routine retention, not a gap)") {
    import spark.implicits._
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val dest = JFiles.createTempDirectory("iceexp_expire").toFile.getAbsolutePath
    val store = JFiles.createTempDirectory("iceexp_expire_store").toFile
      .getAbsolutePath
    IcebergExport.export(Seq((1L, "a"), (2L, "b")).toDF("id", "v"), dest)
    assert(IcebergExport.syncFromTable(spark, dest, store).size === 1)
    IcebergExport.export(Seq((3L, "c")).toDF("id", "v"), dest)
    // the foreign engine expires the FIRST (already-synced) snapshot:
    // drop it from snapshots + snapshot-log, head unchanged
    val hint = java.nio.file.Paths.get(s"$dest/metadata/version-hint.text")
    val v = JFiles.readString(hint).trim
    val mpath = java.nio.file.Paths.get(s"$dest/metadata/v$v.metadata.json")
    val meta = JsonMethods.parse(JFiles.readString(mpath))
    val headId = (meta \ "current-snapshot-id").extract[Long]
    val pruned = meta.transformField {
      case ("snapshots", JArray(ss)) => ("snapshots", JArray(ss.filter(s =>
        (s \ "snapshot-id").extract[Long] == headId)))
      case ("snapshot-log", JArray(ls)) => ("snapshot-log", JArray(ls.filter(
        l => (l \ "snapshot-id").extract[Long] == headId)))
    }
    JFiles.writeString(mpath, JsonMethods.compact(JsonMethods.render(pruned)))
    // direct java.nio rewrite: drop the stale Hadoop checksum sidecar
    JFiles.deleteIfExists(
      java.nio.file.Paths.get(s"$dest/metadata/.v$v.metadata.json.crc"))
    assert(IcebergExport.snapshotIds(spark, dest).size === 1)
    // the mirror's parent is recorded → O(delta) append, NOT an overwrite
    assert(IcebergExport.syncFromTable(spark, dest, store).size === 1)
    val st = new SnapshotTable(spark, store)
    val lastOp = st.history().orderBy(col("version").desc)
      .select("operation").head.getString(0)
    assert(lastOp !== "overwrite",
      s"expired-but-synced parent must replay O(delta), got $lastOp")
    assert(st.read().select("id").as[Long].collect().sorted.toSeq
      === Seq(1L, 2L, 3L))
    // a THIRD tick is a no-op
    assert(IcebergExport.syncFromTable(spark, dest, store).isEmpty)
  }

  test("exported data files carry parquet FIELD IDS in their footers — " +
      "top-level and nested struct subfields (Dataset.to drops schema " +
      "metadata, so the ids must ride the write projection's aliases)") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    val dest = JFiles.createTempDirectory("iceexp_fids").toFile.getAbsolutePath
    IcebergExport.export(
      Seq((1L, "a", (10L, "x")), (2L, "b", (20L, "y")))
        .toDF("id", "v", "pair")
        .select(col("id"), col("v"),
          struct(col("pair._1").as("a"), col("pair._2").as("b")).as("nest"))
        .coalesce(1), dest)
    val f = IcebergExport.plannedFiles(spark, dest).head._1
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f),
        spark.sparkContext.hadoopConfiguration))
    val schema = try reader.getFooter.getFileMetaData.getSchema
    finally reader.close()
    val top = schema.getFields.asScala.map(t =>
      t.getName -> Option(t.getId).map(_.intValue)).toMap
    assert(top("id") === Some(1) && top("v") === Some(2) &&
      top("nest") === Some(3),
      s"top-level columns must carry their Iceberg field ids: $top")
    val nest = schema.getType(Seq("nest"): _*).asGroupType().getFields.asScala
      .map(t => t.getName -> Option(t.getId).map(_.intValue)).toMap
    assert(nest("a") === Some(4) && nest("b") === Some(5),
      s"struct subfields must carry their Iceberg field ids: $nest")
  }

  test("a foreign RENAME whose parent snapshot is EXPIRED resolves from " +
      "the data files' parquet field ids (r20): the mirror lands an evolve " +
      "commit — no refusal, no fold") {
    import spark.implicits._
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val dest = JFiles.createTempDirectory("iceexp_renexp").toFile.getAbsolutePath
    val store = JFiles.createTempDirectory("iceexp_renexp_store").toFile
      .getAbsolutePath
    val a = IcebergExport.export(
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "n").coalesce(1),
      dest)
    assert(IcebergExport.syncFromTable(spark, dest, store).size === 1)
    // the foreign engine renames v → w (and appends) in one snapshot…
    IcebergExport.exportInternal(
      Seq((3L, "c", 30L)).toDF("id", "w", "n").coalesce(1),
      dest, Nil, overwrite = false, Map.empty, renames = Map("v" -> "w"))
    // …then routine retention EXPIRES the (already-synced) parent, so the
    // no-parent fallback sees add(w)+drop(v) — without footer ids it
    // could not tell a rename from add+drop and would refuse → fold
    val hint = java.nio.file.Paths.get(s"$dest/metadata/version-hint.text")
    val v = JFiles.readString(hint).trim
    val mpath = java.nio.file.Paths.get(s"$dest/metadata/v$v.metadata.json")
    val meta = JsonMethods.parse(JFiles.readString(mpath))
    val headId = (meta \ "current-snapshot-id").extract[Long]
    val pruned = meta.transformField {
      case ("snapshots", JArray(ss)) => ("snapshots", JArray(ss.filter(s =>
        (s \ "snapshot-id").extract[Long] == headId)))
      case ("snapshot-log", JArray(ls)) => ("snapshot-log", JArray(ls.filter(
        l => (l \ "snapshot-id").extract[Long] == headId)))
    }
    JFiles.writeString(mpath, JsonMethods.compact(JsonMethods.render(pruned)))
    JFiles.deleteIfExists(
      java.nio.file.Paths.get(s"$dest/metadata/.v$v.metadata.json.crc"))
    assert(!IcebergExport.snapshotIds(spark, dest).contains(a.snapshotId))
    // the mirror reads one footer of the surviving parent-era data file,
    // recovers id(v)=2, matches it to w's id, and lands a store RENAME
    assert(IcebergExport.syncFromTable(spark, dest, store).size === 1)
    val st = new SnapshotTable(spark, store)
    val ops = st.history().select("operation").as[String].collect().toSeq
    assert(ops.exists(_.startsWith("evolve:")),
      s"the expired-parent rename must land as an evolve commit: $ops")
    assert(!ops.contains("overwrite"),
      s"the expired-parent rename must not refuse → fold: $ops")
    assert(st.read().columns.toSeq === Seq("id", "w", "n"))
    assert(st.read().select("w").as[String].collect().sorted.toSeq
      === Seq("a", "b", "c"),
      "pre-rename bytes must read under the renamed column (id carried)")
    // trailing tick: no-op
    assert(IcebergExport.syncFromTable(spark, dest, store).isEmpty)
  }

  test("sort orders cross the interchange boundary: metadata declares the " +
      "order, every data file records its sort_order_id, a sorted store's " +
      "sync chain carries it, and a zorder spells as a multi-column order") {
    import spark.implicits._
    // direct export with a declared order
    val dest = JFiles.createTempDirectory("iceexp_sort").toFile.getAbsolutePath
    val df = Seq.tabulate(20)(i => (i.toLong, s"v$i", (i % 3).toLong))
      .toDF("id", "v", "n")
    IcebergExport.export(df, dest, sortOrder = Seq("id"))
    val json = JFiles.readString(
      java.nio.file.Paths.get(s"$dest/metadata/v1.metadata.json"))
      .replaceAll("\\s", "")
    assert(json.contains("\"default-sort-order-id\":1"))
    assert(json.contains("\"order-id\":1") &&
      json.contains("\"transform\":\"identity\"") &&
      json.contains("\"direction\":\"asc\""))
    assert(IcebergExport.sortOrderOf(spark, dest) === Seq("id"))
    val orders = IcebergExport.plannedDataFileOrders(spark, dest)
    assert(orders.nonEmpty && orders.forall(_._2.contains(1)),
      s"every data file must record sort_order_id=1: $orders")
    // a later UNDECLARED append preserves the default and leaves its own
    // files' order null (unsorted/unknown — the spec's meaning)
    IcebergExport.export(Seq((100L, "x", 9L)).toDF("id", "v", "n"), dest)
    assert(IcebergExport.sortOrderOf(spark, dest) === Seq("id"))
    val mixed = IcebergExport.plannedDataFileOrders(spark, dest)
    assert(mixed.exists(_._2.contains(1)) && mixed.exists(_._2.isEmpty))
    // a DIFFERENT later order gets the next id; both stay in sort-orders
    IcebergExport.export(Seq((101L, "y", 9L)).toDF("id", "v", "n"), dest,
      sortOrder = Seq("n", "id"))
    assert(IcebergExport.sortOrderOf(spark, dest) === Seq("n", "id"))
    val json3 = JFiles.readString(java.nio.file.Paths.get(
      s"$dest/metadata/v3.metadata.json")).replaceAll("\\s", "")
    assert(json3.contains("\"order-id\":1") && json3.contains("\"order-id\":2"))

    // a sorted (zorder) store's sync chain declares the multi-column order
    val root = JFiles.createTempDirectory("iceexp_sorts").toFile.getAbsolutePath
    val chain = JFiles.createTempDirectory("iceexp_sortc").toFile.getAbsolutePath
    val st = new SnapshotTable(spark, root)
    st.setSortOrder(Seq("zorder(id, n)"), files = 2)
    st.commit(df)
    IcebergExport.syncStore(spark, root, chain)
    assert(IcebergExport.sortOrderOf(spark, chain) === Seq("id", "n"))
    assert(IcebergExport.plannedDataFileOrders(spark, chain)
      .forall(_._2.contains(1)))
    // the chain read still equals the store (order is metadata, not rows)
    assert(sameRows(IcebergExport.readTable(spark, chain), st.read()))

    // INVERSE direction: a mirror of a sorted chain ADOPTS the declared
    // order as its own write order (clustering survives the handoff both
    // ways — the mirror's commits and maintenance then preserve it)
    val mirror = JFiles.createTempDirectory("iceexp_sortm").toFile.getAbsolutePath
    assert(IcebergExport.syncFromTable(spark, dest, mirror).nonEmpty)
    assert(new SnapshotTable(spark, mirror).sortOrder === Seq("n", "id"))
  }

  test("TAGS cross the interchange boundary end to end: store tags land " +
      "in the chain's refs map (tick-level), a second mirror adopts them " +
      "at the mapped versions, drops propagate, operator tags survive") {
    import spark.implicits._
    val root = JFiles.createTempDirectory("icetag_store").toFile.getAbsolutePath
    val chain = JFiles.createTempDirectory("icetag_chain").toFile.getAbsolutePath
    val mirror = JFiles.createTempDirectory("icetag_mirror").toFile.getAbsolutePath
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))               // v0
    IcebergExport.syncStore(spark, root, chain)
    st.commit(Seq((3L, "c")).toDF("id", "v"), op = "append")           // v1
    st.createTag("rel-1", Some(0L))
    IcebergExport.syncStore(spark, root, chain)
    val refs = IcebergExport.chainRefs(spark, chain)
    assert(refs.keySet === Set("rel-1") && refs("rel-1")._2 === "tag")
    // the pinned chain snapshot time-travels to the tagged content
    assert(IcebergExport.readTable(spark, chain,
      Some(refs("rel-1")._1)).count() === 2)
    // a tag created with NOTHING else to sync still propagates next tick
    st.createTag("rel-2", Some(1L))
    assert(IcebergExport.syncStore(spark, root, chain).isEmpty)
    assert(IcebergExport.chainRefs(spark, chain).keySet
      === Set("rel-1", "rel-2"))

    // inverse hop: a mirror store adopts the chain's tags at the mapped
    // store versions, and their time travel shows the pinned content
    assert(IcebergExport.syncFromTable(spark, chain, mirror).size === 2)
    val st2 = new SnapshotTable(spark, mirror)
    val mrefs = st2.refs().collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getLong(2))).toMap
    assert(mrefs.keySet === Set("rel-1", "rel-2"), mrefs.toString)
    assert(mrefs("rel-1")._1 === "tag")
    assert(st2.read(Some(mrefs("rel-1")._2)).count() === 2)
    assert(st2.read(Some(mrefs("rel-2")._2)).count() === 3)

    // a DROP at the source propagates through both hops
    st.dropRef("rel-2")
    IcebergExport.syncStore(spark, root, chain)
    assert(IcebergExport.chainRefs(spark, chain).keySet === Set("rel-1"))
    // an operator-made mirror tag with an unrelated name is never touched
    st2.createTag("local-pin", Some(0L))
    IcebergExport.syncFromTable(spark, chain, mirror)
    val after = st2.refs().collect().map(_.getString(0)).toSet
    assert(after === Set("rel-1", "local-pin"), after.toString)
    // mirrored content is still chain-identical after all metadata churn
    assert(sameRows(st2.read(), IcebergExport.readTable(spark, chain)))
  }

  test("arrays and nested structs export with element/field ids and round-trip") {
    import spark.implicits._
    val dest = JFiles.createTempDirectory("iceexp_types").toFile.getAbsolutePath
    val df = Seq((1L, Seq(0.5, 1.5), ("x", 9L)), (2L, Seq(2.5), ("y", 8L)))
      .toDF("id", "vec", "meta")

    // a column name with a quote must not corrupt the metadata JSON
    val destQ = JFiles.createTempDirectory("iceexp_quote").toFile.getAbsolutePath
    IcebergExport.export(Seq((1L, "z")).toDF("id", "a\"b"), destQ)
    assert(IcebergExport.readTable(spark, destQ).count() === 1)
    IcebergExport.export(df, dest)
    val json = JFiles.readString(
      java.nio.file.Paths.get(s"$dest/metadata/v1.metadata.json"))
    assert(json.contains("\"list\"") && json.contains("element-id"))
    val back = IcebergExport.readTable(spark, dest)
    assert(back.select("id", "vec").as[(Long, Seq[Double])].collect().sortBy(_._1)
      === Array((1L, Seq(0.5, 1.5)), (2L, Seq(2.5))))
    assert(back.select("meta._2").as[Long].collect().sorted === Array(8L, 9L))
  }

  test("a store RENAME syncs METADATA-ONLY in both directions: the chain " +
      "keeps every data file (field id carried under the new name), " +
      "pre-rename time travel values the old bytes, and the mirror store " +
      "lands the rename as an evolve commit — never an overwrite fold") {
    import spark.implicits._
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    val root = JFiles.createTempDirectory("icern_store").toFile.getAbsolutePath
    val dest = JFiles.createTempDirectory("icern_tbl").toFile.getAbsolutePath
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "x")) // v0
    assert(IcebergExport.syncStore(spark, root, dest) === Seq(0L))
    val filesBefore = IcebergExport.plannedFiles(spark, dest).map(_._1).toSet
    st.renameColumn("x", "amount")                                     // v1
    st.commit(Seq((3L, "c", 30L)).toDF("id", "v", "amount"),
      op = "append")                                                   // v2
    st.deleteWhereMor(col("amount") === 20L, "amount")                 // v3
    assert(IcebergExport.syncStore(spark, root, dest) === Seq(1L, 2L, 3L))

    // the rename snapshot rewrote NOTHING: every base data file still
    // serves, and no snapshot in the chain is an overwrite
    val filesAfter = IcebergExport.plannedFiles(spark, dest).map(_._1).toSet
    assert(filesBefore.subsetOf(filesAfter),
      "rename/append/delete must keep the base snapshot's data files")
    val hint = JFiles.readString(java.nio.file.Paths.get(
      s"$dest/metadata/version-hint.text")).trim
    val meta = org.json4s.jackson.JsonMethods.parse(JFiles.readString(
      java.nio.file.Paths.get(s"$dest/metadata/v$hint.metadata.json")))
    val ops = (meta \ "snapshots").children
      .map(s => (s \ "summary" \ "operation").extract[String])
    assert(!ops.contains("overwrite"), s"rename must not coarse-fold: $ops")
    // the renamed field keeps its ID under the new name
    val curId = (meta \ "current-schema-id").extract[Int]
    def fieldId(schemaId: Int, name: String): Option[Int] =
      (meta \ "schemas").children
        .find(s => (s \ "schema-id").extract[Int] == schemaId)
        .flatMap(s => (s \ "fields").children.find(f =>
          (f \ "name").extract[String] == name))
        .map(f => (f \ "id").extract[Int])
    assert(fieldId(curId, "amount") === fieldId(0, "x"),
      "the rename must carry the field id")

    // reads: history values survive under the new name; store ≡ chain
    val back = IcebergExport.readTable(spark, dest)
    assert(back.columns.toSeq === Seq("id", "v", "amount"))
    assert(sameRows(back, st.read()))
    assert(back.select("id", "amount").as[(Long, Long)].collect().sorted
      === Array((1L, 10L), (3L, 30L)))
    // pre-rename time travel keeps the OLD name and the values
    val first = IcebergExport.snapshotIds(spark, dest).head
    val old = IcebergExport.readTable(spark, dest, Some(first))
    assert(old.columns.toSeq === Seq("id", "v", "x"))
    assert(old.select("x").as[Long].collect().sorted === Array(10L, 20L))

    // the INVERSE direction: mirror the chain into a fresh store — the
    // rename lands as a store evolve commit, never an overwrite, and the
    // mirror equals the source store
    val mirror = JFiles.createTempDirectory("icern_mirror").toFile.getAbsolutePath
    IcebergExport.syncFromTable(spark, dest, mirror)
    val mt = new SnapshotTable(spark, mirror)
    val mops = mt.history().select("operation").collect().map(_.getString(0))
    assert(!mops.contains("overwrite"),
      s"foreign rename must mirror as evolve, not fold: $mops")
    assert(sameRows(mt.read(), st.read()))
    assert(mt.read().columns.toSeq === Seq("id", "v", "amount"))
  }

  test("a RENAMED identity-partition source stays metadata-only through " +
      "syncStore: new files land under the new dir name, old files keep " +
      "serving, and reads merge both layouts") {
    import spark.implicits._
    val root = JFiles.createTempDirectory("icernp_store").toFile.getAbsolutePath
    val dest = JFiles.createTempDirectory("icernp_tbl").toFile.getAbsolutePath
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((1L, "us", 10L), (2L, "de", 20L)).toDF("id", "region", "x"))
    IcebergExport.syncStore(spark, root, dest, partitionBy = Seq("region"))
    val before = IcebergExport.plannedFiles(spark, dest).map(_._1).toSet
    st.renameColumn("region", "geo")
    st.commit(Seq((3L, "fr", 30L)).toDF("id", "geo", "x"), op = "append")
    IcebergExport.syncStore(spark, root, dest)
    val after = IcebergExport.plannedFiles(spark, dest).map(_._1)
    assert(before.subsetOf(after.toSet), "old partition files must survive")
    assert(after.exists(_.contains("geo=fr")),
      s"new files use the renamed dir name: $after")
    val back = IcebergExport.readTable(spark, dest)
    assert(back.columns.toSeq === Seq("id", "geo", "x"))
    assert(sameRows(back, st.read()))
  }

  test("a dependent foreign rename set (swap a<->b) mirrors through " +
      "syncFromTable via staged temp names instead of silently diverging") {
    import spark.implicits._
    val dest = JFiles.createTempDirectory("iceswap_tbl").toFile.getAbsolutePath
    val store = JFiles.createTempDirectory("iceswap_store").toFile.getAbsolutePath
    IcebergExport.export(Seq((1L, 10L, 100L)).toDF("id", "a", "b"), dest)
    IcebergExport.syncFromTable(spark, dest, store)
    // author the swap on the chain: ids carried crosswise
    IcebergExport.exportInternal(
      Seq((2L, 11L, 101L)).toDF("id", "b", "a")
        .select(col("id"), col("b"), col("a")),
      dest, Nil, overwrite = false, Map.empty,
      renames = Map("a" -> "b", "b" -> "a"))
    IcebergExport.syncFromTable(spark, dest, store)
    val mt = new SnapshotTable(spark, store)
    assert(mt.read().columns.toSeq === Seq("id", "b", "a"))
    assert(sameRows(mt.read(), IcebergExport.readTable(spark, dest)))
    // the swapped columns carried their data (a's history is under b now)
    assert(IcebergExport.readTable(spark, dest)
      .select("id", "b", "a").as[(Long, Long, Long)].collect().sortBy(_._1)
      === Array((1L, 10L, 100L), (2L, 11L, 101L)))
  }

  test("partition-spec EVOLUTION: a re-partitioned export mints spec-id " +
      "N+1 instead of refusing, files keep the spec they were written " +
      "under, and reads prune each file against ITS spec") {
    import spark.implicits._
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    val dest = JFiles.createTempDirectory("icespev_tbl").toFile.getAbsolutePath
    val d1 = Seq((1L, "us", 10L), (2L, "de", 20L), (3L, "us", 30L))
      .toDF("id", "region", "x")
    IcebergExport.export(d1.repartition(1), dest,
      partitionBy = Seq("region"))
    // the second export re-partitions: bucket layout on id
    val d2 = Seq((4L, "fr", 40L), (5L, "us", 50L)).toDF("id", "region", "x")
    IcebergExport.export(d2.repartition(1), dest,
      partitionBy = Seq("bucket(2, id)"))
    val meta = org.json4s.jackson.JsonMethods.parse(JFiles.readString(
      java.nio.file.Paths.get(s"$dest/metadata/v2.metadata.json")))
    assert((meta \ "partition-specs").children.size === 2)
    assert((meta \ "default-spec-id").extract[Int] === 1)
    assert((meta \ "last-partition-id").extract[Int] === 1001,
      "the new spec's field takes a fresh partition field id")
    // full read merges both layouts
    val back = IcebergExport.readTable(spark, dest)
    assert(back.count() === 5)
    assert(back.select("id", "region", "x").as[(Long, String, Long)]
      .collect().sortBy(_._1).map(_._1) === Array(1L, 2L, 3L, 4L, 5L))
    // predicate on region: spec-0 files prune via their identity tuples
    // (the de file drops), spec-1 files stay via bounds/residual
    val us = IcebergExport.readTable(spark, dest,
      preds = Seq(IcebergExport.Predicate("region", "=", "us")))
    assert(us.select("id").as[Long].collect().sorted === Array(1L, 3L, 5L))
    val (kept, total) = IcebergExport.lastPlanStats
    assert(kept < total, s"identity tuples must still prune: $kept/$total")
    // predicate on id: spec-1 files prune via their bucket cells
    val one = IcebergExport.readTable(spark, dest,
      preds = Seq(IcebergExport.Predicate("id", "=", 4L)))
    assert(one.select("id").as[Long].collect() === Array(4L))
    // a third export back under the ORIGINAL layout REUSES spec-id 0
    IcebergExport.export(Seq((6L, "de", 60L)).toDF("id", "region", "x"),
      dest, partitionBy = Seq("region"))
    val meta3 = org.json4s.jackson.JsonMethods.parse(JFiles.readString(
      java.nio.file.Paths.get(s"$dest/metadata/v3.metadata.json")))
    assert((meta3 \ "partition-specs").children.size === 2,
      "re-declaring a historical spec must not mint a new id")
    assert((meta3 \ "default-spec-id").extract[Int] === 0)
    assert(IcebergExport.readTable(spark, dest).count() === 6)
  }

  test("a store PARTITION evolution mirrors through syncStore as a chain " +
      "spec evolution: later appends land under the new layout, the " +
      "chain's default spec advances, reads merge both") {
    import spark.implicits._
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    val root = JFiles.createTempDirectory("icespev_store").toFile.getAbsolutePath
    val dest = JFiles.createTempDirectory("icespev_chain").toFile.getAbsolutePath
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((1L, "us", 10L), (2L, "de", 20L)).toDF("id", "region", "x"))
    IcebergExport.syncStore(spark, root, dest, partitionBy = Seq("region"))
    st.evolvePartition(Seq("bucket(2, id)"))
    st.commit(Seq((3L, "fr", 30L)).toDF("id", "region", "x"), op = "append")
    IcebergExport.syncStore(spark, root, dest)
    val hint = JFiles.readString(java.nio.file.Paths.get(
      s"$dest/metadata/version-hint.text")).trim
    val meta = org.json4s.jackson.JsonMethods.parse(JFiles.readString(
      java.nio.file.Paths.get(s"$dest/metadata/v$hint.metadata.json")))
    assert((meta \ "partition-specs").children.size === 2)
    val curSpec = (meta \ "partition-specs").children.find(s =>
      (s \ "spec-id").extract[Int] == (meta \ "default-spec-id").extract[Int])
      .get
    assert((curSpec \ "fields").children.map(f =>
      (f \ "transform").extract[String]) === List("bucket[2]"))
    assert(sameRows(IcebergExport.readTable(spark, dest), st.read()))
    // old files still prune under their identity spec
    IcebergExport.readTable(spark, dest,
      preds = Seq(IcebergExport.Predicate("region", "=", "us")))
    val (kept, total) = IcebergExport.lastPlanStats
    assert(kept < total, s"old-spec files must still prune: $kept/$total")
  }

  test("NESTED schema evolution: a struct subfield added mid-chain takes " +
      "a FRESH id, history reads it null-filled, time travel keeps the " +
      "narrow struct, and BOTH sync directions mirror it metadata-only") {
    import spark.implicits._
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    // chain direction: export evolves nest struct<a> → struct<a, b>
    val dest = JFiles.createTempDirectory("icenest_tbl").toFile.getAbsolutePath
    IcebergExport.export(Seq((1L, 10L)).toDF("id", "a")
      .select(col("id"), struct(col("a")).as("nest")), dest)
    IcebergExport.export(Seq((2L, 20L, "x")).toDF("id", "a", "b")
      .select(col("id"), struct(col("a"), col("b")).as("nest")), dest)
    val meta = org.json4s.jackson.JsonMethods.parse(JFiles.readString(
      java.nio.file.Paths.get(s"$dest/metadata/v2.metadata.json")))
    val curSchema = (meta \ "schemas").children.find(s =>
      (s \ "schema-id").extract[Int] ==
        (meta \ "current-schema-id").extract[Int]).get
    val nestFields = ((curSchema \ "fields").children.find(f =>
      (f \ "name").extract[String] == "nest").get \ "type" \ "fields").children
    val idsByName = nestFields.map(f =>
      (f \ "name").extract[String] -> (f \ "id").extract[Int]).toMap
    assert(idsByName("a") === 3, "kept nested subfield keeps its id")
    assert(idsByName("b") > 3, s"added subfield takes a fresh id: $idsByName")
    assert((meta \ "last-column-id").extract[Int] >= idsByName("b"))
    // history null-fills nest.b; time travel keeps the narrow struct
    val back = IcebergExport.readTable(spark, dest)
    assert(back.select(col("id"), col("nest.a"), col("nest.b"))
      .as[(Long, Long, Option[String])].collect().sortBy(_._1)
      === Array((1L, 10L, None), (2L, 20L, Some("x"))))
    val first = IcebergExport.snapshotIds(spark, dest).head
    assert(IcebergExport.readTable(spark, dest, Some(first))
      .schema("nest").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq === Seq("a"))

    // chain → store: the nested add mirrors as a store evolve commit
    val mirror = JFiles.createTempDirectory("icenest_mirror").toFile.getAbsolutePath
    IcebergExport.syncFromTable(spark, dest, mirror)
    val mt = new SnapshotTable(spark, mirror)
    val mops = mt.history().select("operation").collect().map(_.getString(0))
    assert(mops.count(_.startsWith("evolve:")) === 1,
      s"the nested add must land as ONE evolve commit: ${mops.toSeq}")
    assert(!mops.contains("overwrite"), s"no fold: ${mops.toSeq}")
    assert(sameRows(mt.read(), back))
    assert(mt.read(Some(0L)).schema("nest").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq === Seq("a"),
      "store time travel keeps the pre-add struct")

    // store → chain: addNestedColumn mirrors metadata-only through
    // syncStore (no data file rewritten)
    val root = JFiles.createTempDirectory("icenest_store").toFile.getAbsolutePath
    val chain2 = JFiles.createTempDirectory("icenest_chain").toFile.getAbsolutePath
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((1L, 5L)).toDF("id", "a")
      .select(col("id"), struct(col("a")).as("nest")))
    IcebergExport.syncStore(spark, root, chain2)
    val before = IcebergExport.plannedFiles(spark, chain2).map(_._1).toSet
    st.addNestedColumn("nest", "b", "STRING")
    st.commit(Seq((2L, 6L, "y")).toDF("id", "a", "b")
      .select(col("id"), struct(col("a"), col("b")).as("nest")), op = "append")
    assert(IcebergExport.syncStore(spark, root, chain2) === Seq(1L, 2L))
    assert(before.subsetOf(
      IcebergExport.plannedFiles(spark, chain2).map(_._1).toSet),
      "a nested add must rewrite zero data files")
    assert(sameRows(IcebergExport.readTable(spark, chain2), st.read()))
    assert(st.read().filter(col("id") === 1L)
      .select(col("nest.b")).as[Option[String]].collect() === Array(None))
  }

  test("NESTED rename/drop/promote (r20): ids carry through a subfield " +
      "rename, history reads BY ID, drops leave, promotions widen — and " +
      "the chain → store mirror lands them as nested evolve commits") {
    import spark.implicits._
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    val dest = JFiles.createTempDirectory("icenmut_tbl").toFile.getAbsolutePath
    def nestOf(rows: org.apache.spark.sql.DataFrame) = rows.select(
      col("id"), struct(col("a"), col("b"), col("c")).as("nest"))
    IcebergExport.export(nestOf(Seq((1L, 10L, "x", 7))
      .toDF("id", "a", "b", "c")), dest)
    // one evolution: rename a→alpha (id kept), DROP b, promote c int→long
    IcebergExport.exportInternal(
      Seq((2L, 20L, 8L)).toDF("id", "alpha", "c")
        .select(col("id"), struct(col("alpha"), col("c")).as("nest")),
      dest, Nil, overwrite = false, Map.empty,
      renames = Map("nest.a" -> "nest.alpha"))
    val meta = org.json4s.jackson.JsonMethods.parse(JFiles.readString(
      java.nio.file.Paths.get(s"$dest/metadata/v2.metadata.json")))
    val cur = (meta \ "schemas").children.find(s =>
      (s \ "schema-id").extract[Int] ==
        (meta \ "current-schema-id").extract[Int]).get
    val nf = ((cur \ "fields").children.find(f =>
      (f \ "name").extract[String] == "nest").get \ "type" \ "fields").children
    val byName = nf.map(f => (f \ "name").extract[String] ->
      ((f \ "id").extract[Int], (f \ "type").values.toString)).toMap
    assert(byName.keySet === Set("alpha", "c"))
    assert(byName("alpha")._1 === 3, "renamed subfield keeps a's field id")
    assert(byName("c") === ((5, "long")), "promoted subfield keeps its id")
    // the read resolves the OLD file's subfields BY ID: a's bytes surface
    // under alpha, b leaves, c widens
    val back = IcebergExport.readTable(spark, dest)
    assert(back.select(col("id"), col("nest.alpha"), col("nest.c"))
      .as[(Long, Long, Long)].collect().sorted
      === Array((1L, 10L, 7L), (2L, 20L, 8L)))
    // pre-evolution time travel keeps the old shape
    val first = IcebergExport.snapshotIds(spark, dest).head
    val oldNest = IcebergExport.readTable(spark, dest, Some(first))
      .schema("nest").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(oldNest.fieldNames.toSeq === Seq("a", "b", "c"))
    assert(oldNest("c").dataType === org.apache.spark.sql.types.IntegerType)

    // chain → store: nested rename/drop/promote mirror as evolve commits
    val mirror = JFiles.createTempDirectory("icenmut_mirror").toFile.getAbsolutePath
    IcebergExport.syncFromTable(spark, dest, mirror)
    val mt = new SnapshotTable(spark, mirror)
    val mops = mt.history().select("operation").collect().map(_.getString(0))
    assert(!mops.contains("overwrite"), s"no fold: ${mops.toSeq}")
    assert(mops.exists(_.startsWith("evolve:")), s"evolves: ${mops.toSeq}")
    assert(sameRows(mt.read(), back))
    assert(mt.read().schema("nest").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq === Seq("alpha", "c"))
    // replay tolerance: a second tick changes nothing
    assert(IcebergExport.syncFromTable(spark, dest, mirror).isEmpty)
    assert(sameRows(mt.read(), back))
  }

  test("NESTED rename in the STORE mirrors to the chain metadata-only " +
      "(r20): zero data files rewritten, pre-rename chain time travel " +
      "keeps the old subfield name") {
    import spark.implicits._
    val root = JFiles.createTempDirectory("icenmut_store").toFile.getAbsolutePath
    val chain = JFiles.createTempDirectory("icenmut_chain").toFile.getAbsolutePath
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((1L, 5L, 2)).toDF("id", "a", "w")
      .select(col("id"), struct(col("a"), col("w")).as("nest")))
    IcebergExport.syncStore(spark, root, chain)
    val before = IcebergExport.plannedFiles(spark, chain).map(_._1).toSet
    st.renameNestedColumn("nest", "a", "alpha")
    st.alterNestedColumnType("nest", "w", "BIGINT")
    st.commit(Seq((2L, 6L, 3L)).toDF("id", "alpha", "w")
      .select(col("id"), struct(col("alpha"), col("w")).as("nest")),
      op = "append")
    assert(IcebergExport.syncStore(spark, root, chain) === Seq(1L, 2L, 3L))
    assert(before.subsetOf(
      IcebergExport.plannedFiles(spark, chain).map(_._1).toSet),
      "nested rename/widen must rewrite zero data files")
    assert(sameRows(IcebergExport.readTable(spark, chain), st.read()))
    assert(st.read().select(col("nest.alpha"), col("nest.w"))
      .as[(Long, Long)].collect().sorted === Array((5L, 2L), (6L, 3L)))
    val first = IcebergExport.snapshotIds(spark, chain).head
    assert(IcebergExport.readTable(spark, chain, Some(first))
      .schema("nest").dataType.asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq === Seq("a", "w"),
      "pre-rename chain time travel keeps the old subfield name")
  }

  test("a foreign MID-STRUCT insert still folds (the store cannot express " +
      "it) — content stays exact, granularity coarsens honestly") {
    import spark.implicits._
    val dest = JFiles.createTempDirectory("icemid_tbl").toFile.getAbsolutePath
    IcebergExport.export(Seq((1L, 10L, 7L)).toDF("id", "a", "c")
      .select(col("id"), struct(col("a"), col("c")).as("nest")), dest)
    val mirror = JFiles.createTempDirectory("icemid_mirror").toFile.getAbsolutePath
    IcebergExport.syncFromTable(spark, dest, mirror)
    // the foreign engine inserts b BETWEEN a and c
    IcebergExport.export(Seq((2L, 20L, "x", 8L)).toDF("id", "a", "b", "c")
      .select(col("id"), struct(col("a"), col("b"), col("c")).as("nest")),
      dest)
    IcebergExport.syncFromTable(spark, dest, mirror)
    val mt = new SnapshotTable(spark, mirror)
    val mops = mt.history().select("operation").collect().map(_.getString(0))
    assert(mops.contains("overwrite"),
      s"a mid-struct insert must fold: ${mops.toSeq}")
    assert(sameRows(mt.read(), IcebergExport.readTable(spark, dest)))
  }

  test("exported data files carry parquet FIELD IDS (nested included), so " +
      "real id-resolving Iceberg readers survive renames too") {
    import spark.implicits._
    val dest = JFiles.createTempDirectory("icefid_tbl").toFile.getAbsolutePath
    IcebergExport.export(
      Seq((1L, "a", (2L, "x"))).toDF("id", "v", "nest"), dest)
    val file = IcebergExport.plannedFiles(spark, dest).head._1
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file),
        spark.sparkContext.hadoopConfiguration))
    try {
      import scala.jdk.CollectionConverters._
      val schema = reader.getFooter.getFileMetaData.getSchema
      val topIds = schema.getFields.asScala.map(f =>
        f.getName -> Option(f.getId).map(_.intValue))
      assert(topIds.toMap === Map("id" -> Some(1), "v" -> Some(2),
        "nest" -> Some(3)), s"top-level ids: $topIds")
      val nest = schema.getFields.asScala.find(_.getName == "nest")
        .get.asGroupType()
      assert(nest.getFields.asScala.flatMap(f =>
        Option(f.getId).map(_.intValue)).toSeq === Seq(4, 5),
        "nested struct fields carry fresh ids")
    } finally reader.close()
  }

  test("DECIMAL bounds cross the export (r20): spec-serialized unscaled " +
      "big-endian bytes, range + IN pruning, negatives, scale-insensitive " +
      "literals") {
    import spark.implicits._
    val dest = JFiles.createTempDirectory("icedec_tbl").toFile.getAbsolutePath
    // 4 files clustered by a DECIMAL(18,2) amount spanning negatives
    val df = Seq.tabulate(400) { i =>
      (i.toLong, BigDecimal(i - 200).setScale(2) + BigDecimal("0.25"))
    }.toDF("id", "amount")
      .select(col("id"), col("amount").cast("decimal(18,2)").as("amount"))
      .repartitionByRange(4, col("amount"))
      .sortWithinPartitions("amount")
    IcebergExport.export(df, dest)
    assert(IcebergExport.plannedFiles(spark, dest).size === 4)

    def prunes(p: IcebergExport.Predicate*): (Long, Long) = {
      IcebergExport.readTable(spark, dest, preds = p.toSeq).count()
      IcebergExport.lastPlanStats
    }
    // range predicate on the decimal column prunes to its covering files
    val (k1, t1) = prunes(
      IcebergExport.Predicate("amount", ">=", new java.math.BigDecimal("150.00")))
    assert(t1 === 4L && k1 < t1, s"kept $k1 of $t1")
    // negative range (negative unscaled values serialize as
    // two's-complement minimal bytes — the sign-handling pin)
    val (k2, _) = prunes(
      IcebergExport.Predicate("amount", "<", new java.math.BigDecimal("-150")))
    assert(k2 === 1L, s"kept $k2")
    // IN + scale-mismatched literals still prune and still match
    val got = IcebergExport.readTable(spark, dest, preds = Seq(
      IcebergExport.Predicate("amount", "in", Seq(
        new java.math.BigDecimal("-199.7500"), BigDecimal("150.25")))))
      .select("id").as[Long].collect().sorted
    assert(got.toSeq === Seq(0L, 350L))
    assert(IcebergExport.lastPlanStats._1 === 2L)
    // full equality of pruned vs unpruned-filtered (the soundness contract)
    val p = Seq(IcebergExport.Predicate("amount", "<=",
      new java.math.BigDecimal("-0.5")))
    assert(IcebergExport.readTable(spark, dest, preds = p)
      .select("id").as[Long].collect().sorted ===
      IcebergExport.readTable(spark, dest)
        .filter(col("amount") <= BigDecimal("-0.5"))
        .select("id").as[Long].collect().sorted)
  }

  test("schema.name-mapping.default property: the spec's name-based id " +
      "fallback covers list-element and map key/value ids Spark's parquet " +
      "writer cannot stamp") {
    import spark.implicits._
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val dest = JFiles.createTempDirectory("icenm_tbl").toFile.getAbsolutePath
    IcebergExport.export(
      Seq((1L, Seq("a", "b"), Map("k" -> 2L), (3L, "x")))
        .toDF("id", "tags", "m", "nest"), dest)
    val meta = JsonMethods.parse(JFiles.readString(
      java.nio.file.Paths.get(s"$dest/metadata/v1.metadata.json")))
    val nm = (meta \ "properties" \ "schema.name-mapping.default")
      .extract[String]
    val mapping = JsonMethods.parse(nm).children
    def entryOf(root: Seq[JValue], name: String): JValue =
      root.find(e => (e \ "names").children.contains(JString(name))).getOrElse(
        fail(s"name-mapping misses $name in ${JsonMethods.compact(
          JsonMethods.render(JArray(root.toList)))}"))
    // ids must agree with the schema AST: id=1, tags=2 (element 3),
    // m=4 (key 5, value 6), nest=7 (a=8, b=9) — icebergSchema's visit order
    assert((entryOf(mapping, "id") \ "field-id").extract[Int] === 1)
    val tags = entryOf(mapping, "tags")
    assert((tags \ "field-id").extract[Int] === 2)
    assert((entryOf((tags \ "fields").children, "element") \ "field-id")
      .extract[Int] === 3)
    val m = entryOf(mapping, "m")
    assert((entryOf((m \ "fields").children, "key") \ "field-id")
      .extract[Int] === 5)
    assert((entryOf((m \ "fields").children, "value") \ "field-id")
      .extract[Int] === 6)
    val nest = entryOf(mapping, "nest")
    assert((nest \ "fields").children.size === 2)
    // the mapping REFRESHES on evolution: a renamed column's entry carries
    // the new name under the old id
    IcebergExport.exportInternal(
      Seq((2L, Seq("c"), Map("j" -> 4L), (5L, "y")))
        .toDF("doc", "tags", "m", "nest"),
      dest, Nil, overwrite = false, Map.empty,
      renames = Map("id" -> "doc"))
    val meta2 = JsonMethods.parse(JFiles.readString(java.nio.file.Paths.get(
      s"$dest/metadata/v2.metadata.json")))
    val nm2 = JsonMethods.parse(
      (meta2 \ "properties" \ "schema.name-mapping.default").extract[String])
    assert((entryOf(nm2.children, "doc") \ "field-id").extract[Int] === 1)
  }
}
