package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.SnapshotTable

class SnapshotStreamSpec extends SparkSpec {

  test("streaming ingest lands one O(delta) append commit per micro-batch") {
    import spark.implicits._
    val src = Files.createTempDirectory("sstream_src").toFile.getAbsolutePath
    val root = Files.createTempDirectory("sstream_tbl").toFile.getAbsolutePath
    val ckpt = Files.createTempDirectory("sstream_ck").toFile.getAbsolutePath
    // three source files → with maxFilesPerTrigger=1, three micro-batches
    (0 until 3).foreach { i =>
      Seq.tabulate(10)(j => (i * 10L + j, s"w$i")).toDF("id", "wave")
        .coalesce(1).write.parquet(s"$src/f$i")
    }
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((-1L, "seed")).toDF("id", "wave")) // v0 base
    val stream = spark.readStream
      .schema("id LONG, wave STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$src/*")
    SnapshotStream.appendStream(st, root, stream, ckpt).awaitTermination()
    assert(st.read().count() === 31)
    // each batch is its own append commit, batch-stamped in the commit log
    val ops = st.history().orderBy("version").collect().map(_.getString(2))
    assert(ops.count(_.startsWith("append@")) === 3)
    assert(SnapshotStream.committedBatches(st, root).size === 3)
    // every delta dir holds ONLY its batch's rows (O(delta), never a rewrite)
    (1L to 3L).foreach(v =>
      assert(spark.read.parquet(st.versionDir(v)).count() === 10))
  }

  test("a multi-batch run reads the commit history ONCE (cached dedup map)") {
    import spark.implicits._
    val root = Files.createTempDirectory("sstream_cache").toFile.getAbsolutePath
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((0L, "seed")).toDF("id", "v"))
    val before = SnapshotStream.historyLoads
    (1L to 5L).foreach { b =>
      SnapshotStream.commitStreamBatch(st, root,
        Seq((b, s"w$b")).toDF("id", "v"), batchId = b)
    }
    // 5 batches, ONE commit-log load — a long-lived stream must not pay
    // O(total commits) driver work per micro-batch
    assert(SnapshotStream.historyLoads - before === 1L)
    assert(st.read().count() === 6)
    // replay of an already-committed batch still dedups from the cache
    val v = SnapshotStream.commitStreamBatch(st, root,
      Seq((3L, "w3")).toDF("id", "v"), batchId = 3L)
    assert(st.history().count() === 6)
    assert(v === SnapshotStream.committedBatches(st, root)(3L))
  }

  test("a replayed micro-batch (crash between commit and ack) is skipped") {
    import spark.implicits._
    val root = Files.createTempDirectory("sstream_replay").toFile.getAbsolutePath
    val st = new SnapshotTable(spark, root)
    st.commit(Seq((1L, "a")).toDF("id", "v"))
    val batch = Seq((2L, "b"), (3L, "c")).toDF("id", "v")
    val v1 = SnapshotStream.commitStreamBatch(st, root, batch, batchId = 7L)
    // the restart replays batch 7 verbatim: no new snapshot, same version back
    val v2 = SnapshotStream.commitStreamBatch(st, root, batch, batchId = 7L)
    assert(v1 === v2)
    assert(st.read().count() === 3)
    assert(st.history().count() === 2)
    // the NEXT batch proceeds normally
    SnapshotStream.commitStreamBatch(st, root,
      Seq((4L, "d")).toDF("id", "v"), batchId = 8L)
    assert(st.read().count() === 4)
    assert(st.read().filter(col("id") === 4L).count() === 1)
  }
}
