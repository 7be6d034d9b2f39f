package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** O(delta) CDC for merge-on-read commits ([[SnapshotTable.changesFromCommit]]):
  * change rows derive from the commit's OWN delete/replacement files —
  * pre-images from a PRUNED semi-joined read of the previous snapshot,
  * post-images from the commit's dir — and must be row-identical to the
  * full two-snapshot [[SnapshotTable.changes]] diff in every mode. */
class CdcDeltaSpec extends SparkSpec {

  import spark.implicits._

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().map(_.toSeq).toSeq.sortBy(_.mkString(""))

  private def docs(n: Int) =
    Seq.tabulate(n)(i => (i.toLong, s"text-$i", (i % 7).toLong))
      .toDF("id", "text", "n")

  test("updateMor / deleteWhereMor / deleteWherePos / mergeIntoMor change " +
      "rows equal the full-snapshot diff, keyed and keyless") {
    val root = Files.createTempDirectory("cdcdelta_eq").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(docs(100))                                                    // v0
    t.updateMor(col("id") < 5L, Map("n" -> (col("n") + 100L)), "id")       // v1
    t.deleteWhereMor(col("id") >= 90L, "id")                               // v2
    t.deleteWherePos(col("id") === 50L)                                    // v3
    t.mergeIntoMor(
      Seq((10L, "merged-10", 999L), (200L, "merged-200", 999L)).toDF("id", "text", "n"),
      "id",
      matched = Seq((None, Some(Map("text" -> lit("M"), "n" -> lit(999L))))),
      notMatched = Seq((None, None)))                                      // v4
    (1L to 4L).foreach { v =>
      val fastKeyed = t.changesFromCommit(v, Seq("id"))
      assert(fastKeyed.isDefined, s"v=$v should take the commit-derived path")
      assert(sortedRows(fastKeyed.get) === sortedRows(t.changes(v - 1, v, "id")),
        s"keyed fast path diverges at v=$v")
      val fastKeyless = t.changesFromCommit(v, Nil)
      assert(sortedRows(fastKeyless.get) === sortedRows(t.changes(v - 1, v)),
        s"keyless fast path diverges at v=$v")
    }
    // cow commits have no delta representation: the fast path declines
    t.update(col("id") === 7L, Map("n" -> lit(0L)))                        // v5
    assert(t.changesFromCommit(5L, Seq("id")).isEmpty)
    assert(sortedRows(t.changesForCommit(5L, Seq("id")))
      === sortedRows(t.changes(4L, 5L, "id")), "changesForCommit fallback")
  }

  test("the pre-image read PRUNES via inlined key conjuncts: a mor update " +
      "on a range-clustered base scans the matching files only") {
    val root = Files.createTempDirectory("cdcdelta_prune").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.setSortOrder(Seq("id"), files = 8)
    t.commit(docs(400))                                                    // v0: 8 range files
    assert(new java.io.File(t.versionDir(0L)).listFiles()
      .count(f => f.getName.endsWith(".parquet")) === 8)
    t.updateMor(col("id") < 3L, Map("n" -> lit(555L)), "id")               // v1
    val fast = t.changesForCommit(1L, Seq("id"))
    val (kept, total) = t.lastPruneStats
    assert(total >= 8L && kept < total,
      s"pre-image scan should prune the clustered base: $kept/$total")
    assert(sortedRows(fast) === sortedRows(t.changes(0L, 1L, "id")))
    // ids 0-2 live in ONE of the 8 disjoint ranges
    assert(kept <= total - 7L, s"expected ~1 of 8 base files, got $kept/$total")
  }

  test("keyed-changelog fuzz: over a unique-key op algebra, changes(prev, " +
      "cur, id) AND the commit-derived path both equal the keyed model diff") {
    val rnd = new scala.util.Random(20260815L)
    val root = Files.createTempDirectory("cdcdelta_fuzz").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    // model: id -> (tag, x); ids unique per snapshot (the keyed contract)
    var model = Map.empty[Long, (String, Double)]
    var nextId = 0L
    val trace = scala.collection.mutable.ArrayBuffer.empty[String]
    def freshRows(n: Int): Seq[(Long, String, Double)] =
      (1 to n).map { _ =>
        nextId += 1
        (nextId, s"t${rnd.nextInt(4)}", rnd.nextInt(100) / 4.0)
      }
    def df(rs: Seq[(Long, String, Double)]) = rs.toDF("id", "tag", "x")

    // the keyed diff the changelog must emit between two model states
    def keyedDiff(b: Map[Long, (String, Double)], a: Map[Long, (String, Double)])
        : Seq[(Long, String, Double, String)] =
      (b.keySet ++ a.keySet).toSeq.flatMap { id =>
        (b.get(id), a.get(id)) match {
          case (Some(v), None) => Seq((id, v._1, v._2, "delete"))
          case (None, Some(v)) => Seq((id, v._1, v._2, "insert"))
          case (Some(v), Some(w)) if v != w =>
            Seq((id, v._1, v._2, "update_preimage"),
              (id, w._1, w._2, "update_postimage"))
          case _ => Nil
        }
      }
    def asTuples(df2: org.apache.spark.sql.DataFrame) =
      df2.collect().map(r => (r.getAs[Long]("id"), r.getAs[String]("tag"),
        r.getAs[Double]("x"), r.getAs[String]("_change_type"))).toSeq

    val seed = freshRows(12)
    model = seed.map(r => r._1 -> (r._2, r._3)).toMap
    t.commit(df(seed))
    var prevHead = t.currentVersion.get
    var prevModel = model

    for (step <- 1 to 18) {
      rnd.nextInt(7) match {
        case 0 => // append: FRESH keys only (the keyed-CDC append contract)
          val rs = freshRows(1 + rnd.nextInt(4))
          model = model ++ rs.map(r => r._1 -> (r._2, r._3))
          t.commit(df(rs), op = "append"); trace += "append"
        case 1 => // mor update on a random id subset
          val ids = model.keySet.filter(_ => rnd.nextBoolean()).take(5)
          if (ids.nonEmpty) {
            model = model.map { case (id, (tg, x)) =>
              id -> (if (ids(id)) (tg, x + 1.0) else (tg, x)) }
            t.updateMor(col("id").isin(ids.toSeq: _*),
              Map("x" -> (col("x") + lit(1.0))), "id")
            trace += s"updateMor(${ids.size})"
          }
        case 2 => // mor equality delete on a tag
          val tg = s"t${rnd.nextInt(4)}"
          if (model.values.exists(_._1 == tg)) {
            model = model.filterNot(_._2._1 == tg)
            t.deleteWhereMor(col("tag") === tg, "id"); trace += s"morDel($tg)"
          }
        case 3 => // positional delete on one id (unique key: one copy)
          if (model.nonEmpty) {
            val id = model.keySet.toSeq(rnd.nextInt(model.size))
            model = model - id
            t.deleteWherePos(col("id") === id); trace += s"posDel($id)"
          }
        case 4 => // mor MERGE: update half the matched set, insert new keys
          val matchIds = model.keySet.take(3).toSeq
          val ins = freshRows(2)
          val src = matchIds.map(id => (id, "merged", 999.0)) ++ ins
          model = model ++ matchIds.map(id =>
            id -> (model(id)._1, 777.0)) ++ ins.map(r => r._1 -> (r._2, r._3))
          t.mergeIntoMor(df(src), "id",
            matched = Seq((None, Some(Map("x" -> lit(777.0))))),
            notMatched = Seq((None, None)))
          trace += s"morMerge(${matchIds.size}+${ins.size})"
        case 5 => // cow update (full-diff fallback path)
          if (model.nonEmpty) {
            val cut = model.keySet.toSeq(rnd.nextInt(model.size))
            model = model.map { case (id, (tg, x)) =>
              id -> (if (id == cut) (tg, x * 2.0) else (tg, x)) }
            t.update(col("id") === cut, Map("x" -> (col("x") * 2.0)))
            trace += s"cowUpd($cut)"
          }
        case 6 => // cow delete (full-diff fallback path)
          val cut = nextId - rnd.nextInt(6)
          model = model.filterNot(_._1 > cut)
          t.deleteWhere(col("id") > cut); trace += s"cowDel(>$cut)"
      }
      val curHead = t.currentVersion.get
      if (curHead != prevHead) {
        val expected = keyedDiff(prevModel, model)
          .sortBy(r => (r._1, r._4))
        val full = asTuples(t.changes(prevHead, curHead, "id"))
          .sortBy(r => (r._1, r._4))
        assert(full == expected,
          s"keyed changes($prevHead, $curHead) diverged after " +
            s"${trace.mkString(" -> ")}\ngot      ${full.take(20)}\n" +
            s"expected ${expected.take(20)}")
        val fast = asTuples(t.changesForCommit(curHead, Seq("id")))
          .sortBy(r => (r._1, r._4))
        assert(fast == expected,
          s"changesForCommit($curHead) diverged after " +
            s"${trace.mkString(" -> ")}\ngot      ${fast.take(20)}\n" +
            s"expected ${expected.take(20)}")
        prevHead = curHead
        prevModel = model
      }
    }
  }

  test("a claimed-key set past the inline bound still derives (unpruned " +
      "one-pass scan), identical rows") {
    val root = Files.createTempDirectory("cdcdelta_big").toFile.getAbsolutePath
    val t = new SnapshotTable(spark, root)
    t.commit(docs(3000))                                                   // v0
    t.deleteWhereMor(col("id") % 2 === 0L, "id")  // 1500 keys > inline bound
    val fast = t.changesFromCommit(1L, Seq("id"))
    assert(fast.isDefined)
    assert(fast.get.count() === 1500L)
    assert(sortedRows(fast.get) === sortedRows(t.changes(0L, 1L, "id")))
  }
}
