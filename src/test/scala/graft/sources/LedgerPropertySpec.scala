package graft.sources

import java.nio.file.{Files => JFiles}

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Property tests for the commit log's records and their publish: the
  * JVM-wide cache of parsed log records may be arbitrarily stale — any
  * subset of its entries lost or carrying a stale stamp — and every
  * reader-visible view must be invariant, because the published records
  * are the commit points. A record publish must admit exactly one winner
  * per name under full thread contention. */
class LedgerPropertySpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("property: ANY subset of log-cache lines may be lost (any order) — " +
      "history, content, and the next claim are invariant") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    val local = JFiles.createTempDirectory("ledger_prop").toFile.getAbsolutePath
    val root = s"graftfs://$local"
    val t = new SnapshotTable(spark, root)
    t.commit(Seq.tabulate(30)(i => (i.toLong, s"v$i")).toDF("id", "v"))  // v0
    (1 to 4).foreach { w =>                                              // v1..v4
      t.commit(Seq.tabulate(5)(i => ((w * 100 + i).toLong, s"w$w"))
        .toDF("id", "v"), op = "append")
    }
    t.deleteWhereMor(col("id") < 3L, "id")                               // v5
    val expectHistory = t.history().select("version", "operation", "row_count")
      .as[(Long, String, Long)].collect().toSet
    val expectRows = t.read().select("id").as[Long].collect().sorted
    val canon = SnapshotTable.canonicalRoot(root)
    val full = SnapshotTable.logMemo.get(canon)
    assert(full.size === 6)
    val names = full.keys.toSeq.sorted

    // each sample keeps some entries, and a kept entry may carry a stale
    // stamp (as if parsed from an earlier record of that name)
    val subsetGen = Gen.someOf(names.indices).flatMap(keep =>
      Gen.oneOf(true, false).map(stale => (keep.toSet, stale)))
    samples(subsetGen, 12).foreach { case (keep, stale) =>
      SnapshotTable.logMemo.put(canon, names.zipWithIndex.collect {
        case (n, i) if keep(i) =>
          val (stamp, rec) = full(n)
          n -> ((if (stale) stamp + "-old" else stamp), rec)
      }.toMap)
      val fresh = new SnapshotTable(spark, root)
      assert(fresh.history().select("version", "operation", "row_count")
        .as[(Long, String, Long)].collect().toSet === expectHistory,
        s"history drifted for kept=$keep stale=$stale")
      assert(fresh.read().select("id").as[Long].collect().sorted === expectRows,
        s"content drifted for kept=$keep stale=$stale")
    }

    // even with the cache GONE, the next commit lands PAST the log head
    SnapshotTable.logMemo.remove(canon)
    val next = new SnapshotTable(spark, root)
      .commit(Seq((9999L, "post")).toDF("id", "v"), op = "append")
    assert(next === 6L, s"commit did not resume past the log head: $next")
    assert(new SnapshotTable(spark, root).read().count() === expectRows.length + 1)
  }

  test("property: the claim arbiter admits exactly ONE winner per version " +
      "under full contention, and release makes a version reclaimable") {
    val dir = JFiles.createTempDirectory("ledger_arb").toFile.getAbsolutePath
    // a local lock dir and a Hadoop-FS one (publish by link vs by rename)
    spark.sparkContext.hadoopConfiguration
      .set("fs.graftfs.impl", classOf[GraftTestFs].getName)
    Seq(new LockDirClaimArbiter(dir),
      new LockDirClaimArbiter(s"graftfs://$dir/h", spark.sparkContext.hadoopConfiguration))
      .foreach { arb =>
        // 16 threads race every version: one winner each, ever
        (0 until 20).foreach { v =>
          val wins = new java.util.concurrent.atomic.AtomicInteger(0)
          val threads = (1 to 16).map(k => new Thread(() =>
            if (arb.publish("r", s"v=$v.rec", s"$k\n")) wins.incrementAndGet()))
          threads.foreach(_.start()); threads.foreach(_.join())
          assert(wins.get() === 1, s"version $v had ${wins.get()} winners")
          // the winner's record is whole: one writer's content, no other
          assert(arb.read("r", s"v=$v.rec").exists(_.matches("\\d+\n")))
        }
        assert(arb.list("r").map(_._1).toSet === (0 until 20).map(v => s"v=$v.rec").toSet,
          "a lost publish's temp file was listed")
        // delete → publishable exactly once again
        arb.delete("r", "v=19.rec")
        assert(arb.publish("r", "v=19.rec", "x\n") && !arb.publish("r", "v=19.rec", "y\n"))
        assert(arb.read("r", "v=19.rec") === Some("x\n"))
        // roots are independent namespaces
        assert(arb.list("other") === Nil)
        assert(arb.publish("other", "v=7.rec", "z\n"))
      }
  }
}
