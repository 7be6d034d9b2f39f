package perfbench

import java.nio.file.{Files, Paths}
import java.sql.Timestamp

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.plans.Materializations
import graft.sources.{IcebergExport, SnapshotTable}

/** Shuffles a pass's op order from the run's seed. Passes with the same
  * number get the same order in every phase, so the traced and untraced
  * phases run the ops in the same order. */
object Order {
  def apply[T](items: Seq[T], seed: Long, ctx: Ctx): Seq[T] =
    new scala.util.Random(seed * 1000003L + ctx.pass * 7919L).shuffle(items)
}

/** Bytes and data files under a directory. */
object Du {
  def apply(dir: String): (Long, Long) = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) (0L, 0L)
    else {
      val s = Files.walk(p)
      try {
        val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
        (files.count(_.toString.endsWith(".parquet")).toLong, files.map(Files.size).sum)
      } finally s.close()
    }
  }
}

/** Lakehouse ETL: micro-batch medallion cycles on a day-partitioned store
  * seeded from `events`. The harness keeps its own model of the table (a
  * map from event id to row) and checks every read against it. */
final class LakehouseEtl(spark: SparkSession, data: String, work: String, seed: Long)
    extends Workload {
  private case class Ev(id: Long, ts: Long, user: Long, etype: String, cents: Long)
  private val types = Array("click", "error", "purchase", "signup", "view")
  private val dayMicros = 86400L * 1000000L
  private val jan1Micros = 1704067200L * 1000000L
  private val batchRows = 1000
  private val mergeRows = 200

  private val events = Tables(spark, data, "events")
  private val schema = events.schema
  private val base: Array[Ev] = events.collect().map { r =>
    val t = r.getAs[Timestamp]("ts")
    Ev(r.getAs[Long]("event_id"), t.getTime * 1000 + (t.getNanos / 1000) % 1000,
      r.getAs[Long]("user_id"), r.getAs[String]("event_type"),
      math.round(r.getAs[Double]("value") * 100))
  }
  private val users = base.map(_.user).max + 1

  private val table = "etl"
  private var root = ""
  private var iceDest = ""
  private var st: SnapshotTable = _
  private var mats: Materializations = _
  private val runner = new graft.pipeline.SqlScriptRunner(spark)
  private val model = mutable.HashMap.empty[Long, Ev]
  private val reflModel = mutable.HashMap.empty[String, (Long, Long)]
  private var nextId = 0L
  private var cycle = 0
  private var bytesPerRow = 1.0

  def setup(rep: Int): Unit = open(s"$work/etl/run$rep", base, events)

  /** One cycle on a store of the first twentieth of the events. That is
    * warm enough: after it, the first of two timed cycles on the full
    * store was no slower than the second (13.8 s and 14.6 s). */
  def warm(ctx: Ctx): Unit = {
    val n = base.length / 20
    open(s"$work/etl/warm", base.filter(_.id < n), events.filter(col("event_id") < n))
    pass(ctx)
  }

  /** Creates a store under `dir` from the seed rows, with its reflection
    * and first Iceberg export, and points the cycle at it. */
  private def open(dir: String, seedRows: Array[Ev], seedDf: DataFrame): Unit = {
    root = s"$dir/store"
    iceDest = s"$dir/iceberg"
    st = new SnapshotTable(spark, root)
    st.commitPartitioned(seedDf, Seq("days(ts)"))
    spark.conf.set(s"graft.snapshot.$table", root)
    spark.conf.set(s"graft.snapshot.$table.key", "event_id")
    spark.conf.set(s"graft.snapshot.$table.delete_mode", "mor")
    spark.conf.set(s"graft.snapshot.$table.merge_mode", "mor")
    mats = new Materializations(spark, Some(s"$dir/reflections"))
    mats.registerAggregate("etl_by_type", () => st.read(), Seq("event_type"),
      Seq(Materializations.AggSpec("count", "*", "n"),
        Materializations.AggSpec("sum", "value", "sum_value")))
    mats.refresh("etl_by_type")
    IcebergExport.syncStore(spark, root, iceDest)
    model.clear()
    seedRows.foreach(e => model(e.id) = e)
    reflModel.clear()
    seedRows.groupBy(_.etype).foreach { case (t, es) => reflModel(t) = (es.length.toLong, es.map(_.cents).sum) }
    nextId = base.map(_.id).max + 1
    cycle = 0
    bytesPerRow = Du(root)._2.toDouble / seedRows.length
  }

  private def row(e: Ev): Row =
    Row(e.id, new Timestamp(Math.floorDiv(e.ts, 1000L)), e.user, e.etype, e.cents / 100.0,
      s"""{"k": ${e.id % 100}}""")

  private def frame(es: Seq[Ev]): DataFrame =
    spark.createDataFrame(es.map(row).asJava, schema)

  /** (rows, sum of ids, sum of value cents) of a frame, computed by the engine. */
  private def digest(df: DataFrame): (Long, Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(col("event_id")), lit(0L)),
      coalesce(sum(round(col("value") * 100).cast("long")), lit(0L))).head()
    (r.getLong(0), r.getLong(1), r.getLong(2))
  }

  private def expected(es: Iterable[Ev]): (Long, Long, Long) =
    (es.size.toLong, es.iterator.map(_.id).sum, es.iterator.map(_.cents).sum)

  /** Checks a read against the model; `returned` is the rows the engine
    * returned for it. */
  private def compare(what: String, got: Any, want: Any, returned: Int = 1): Res =
    Res.check(if (got == want) "" else s"$what: got $got, want $want", returned)

  /** A new event on the cycle's ingest day (micro-batches carry recent
    * events, so each lands in one day partition), at whole milliseconds as
    * `java.sql.Timestamp` rows carry them here. */
  private def randomEv(rng: scala.util.Random, id: Long): Ev =
    Ev(id, (jan1Micros + (((cycle - 1) % 30 + rng.nextDouble()) * dayMicros).toLong) / 1000 * 1000,
      rng.nextInt(users.toInt),
      types(rng.nextInt(types.length)), (rng.nextDouble() * 20000).toLong)

  /** Write op: commit-path counters are taken around it in the traced
    * phase. One client commits, so a commit conflict is not retried: it
    * fails the op. */
  private def write(ctx: Ctx, label: String, userRows: => Long)(body: => Unit): Unit = {
    val before = if (ctx.tracing) Du(root) else (0L, 0L)
    ctx.op(label, "write", () => {
      val after = Du(root)
      Map("sources.files_added" -> (after._1 - before._1).toDouble,
        "sources.bytes_written" -> (after._2 - before._2).toDouble,
        "sources.user_bytes" -> userRows * bytesPerRow)
    }) {
      ctx.span(s"sources.$label")(body)
      Res.check("")
    }
  }

  private def sql(ctx: Ctx, statement: String): Unit =
    ctx.span("pipeline.statement") {
      runner.run(statement)
      ctx.count("pipeline.statements", 1)
    }

  def pass(ctx: Ctx): Unit = {
    ctx.attach(spark)
    cycle += 1
    val rng = new scala.util.Random(seed * 1000003L + cycle)

    val batch = (0 until batchRows).map(i => randomEv(rng, nextId + i))
    nextId += batchRows
    val batchDf = frame(batch)
    val beforeAppend = st.currentVersion.get
    write(ctx, "append", batchRows) { st.commit(batchDf, op = "append") }
    batch.foreach(e => model(e.id) = e)
    val appended = st.currentVersion.get

    val updates = Iterator.continually(model.get((rng.nextDouble() * nextId).toLong))
      .flatten.take(mergeRows / 2).toSeq.distinctBy(_.id)
      .map(e => e.copy(cents = (rng.nextDouble() * 20000).toLong))
    val inserts = (0 until mergeRows / 2).map(i => randomEv(rng, nextId + i))
    nextId += mergeRows / 2
    frame(updates ++ inserts).createOrReplaceTempView("etl_src")
    write(ctx, "sql_merge", updates.size + inserts.size) {
      sql(ctx, s"""MERGE INTO $table t USING etl_src s ON t.event_id = s.event_id
        WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
    }
    (updates ++ inserts).foreach(e => model(e.id) = e)
    val merged = st.currentVersion.get
    val mergedState = expected(model.values)

    val gone = rng.nextInt(users.toInt)
    val goneRows = model.values.count(_.user == gone)
    write(ctx, "sql_delete", goneRows) { sql(ctx, s"DELETE FROM $table WHERE user_id = $gone") }
    model.filterInPlace((_, e) => e.user != gone)

    val bumped = rng.nextInt(users.toInt)
    val bumpedRows = model.values.count(_.user == bumped)
    write(ctx, "update_mor", bumpedRows) {
      st.updateMor(col("user_id") === bumped, Map("value" -> (col("value") + lit(1.0))), "event_id")
    }
    model.mapValuesInPlace((_, e) => if (e.user == bumped) e.copy(cents = e.cents + 100) else e)

    val day = rng.nextInt(28)
    val lo = jan1Micros + day * dayMicros
    val hi = lo + 2 * dayMicros
    ctx.op("read_pruned", "read", () => {
      val (kept, total) = st.lastPruneStats
      Map("sources.prune_kept" -> kept.toDouble, "sources.prune_total" -> total.toDouble)
    }) {
      val df = ctx.span("sources.resolve") {
        st.readWhere(col("ts") >= lit(new Timestamp(lo / 1000)) && col("ts") < lit(new Timestamp(hi / 1000)))
      }
      compare("pruned read", digest(df), expected(model.values.filter(e => e.ts >= lo && e.ts < hi)))
    }

    ctx.op("read_gold", "read") {
      val df = ctx.span("sources.resolve")(st.read())
      val got = df.groupBy(col("event_type"))
        .agg(count(lit(1)), sum(round(col("value") * 100).cast("long")))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      val want = model.values.groupBy(_.etype)
        .map { case (t, es) => t -> (es.size.toLong, es.map(_.cents).sum) }
      compare("gold aggregate", got, want, got.size)
    }

    ctx.op("read_asof", "read") {
      val df = ctx.span("sources.resolve")(st.read(Some(merged)))
      compare(s"version as of $merged", digest(df), mergedState)
    }

    ctx.op("read_changes", "read") {
      val df = ctx.span("sources.resolve")(st.changes(beforeAppend, appended))
      val got = df.groupBy(col("_change_type")).agg(count(lit(1)), sum(col("event_id")))
        .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
      compare(s"changes($beforeAppend, $appended)", got,
        Map("insert" -> (batchRows.toLong, batch.map(_.id).sum)), got.size)
    }

    batch.groupBy(_.etype).foreach { case (t, es) =>
      val (n, c) = reflModel.getOrElse(t, (0L, 0L))
      reflModel(t) = (n + es.size, c + es.map(_.cents).sum)
    }
    ctx.op("refresh_reflection", "read") {
      val df = ctx.span("plans.refresh")(mats.refreshIncremental("etl_by_type", batchDf))
      val got = df.collect().map(r => r.getAs[String]("event_type") ->
        (r.getAs[Long]("n"), math.round(r.getAs[Double]("sum_value") * 100))).toMap
      compare("incremental reflection", got, reflModel.toMap, got.size)
    }

    // The maintenance tick closes every cycle: a run times a single cycle,
    // and the tick's cost must show in every run's throughput.
    ctx.op("compact", "maintenance") { ctx.span("sources.compact")(st.compact(4)); Res.check("") }
    ctx.op("expire", "maintenance") { ctx.span("sources.expire")(st.expireSnapshots(12)); Res.check("") }
    ctx.op("orphans", "maintenance") { ctx.span("sources.orphans")(st.removeOrphans()); Res.check("") }
    val iceBefore = if (ctx.tracing) Du(iceDest)._2 else 0L
    ctx.op("iceberg_sync", "maintenance",
      () => Map("iceberg.bytes_written" -> (Du(iceDest)._2 - iceBefore).toDouble)) {
      ctx.span("iceberg.sync")(IcebergExport.syncStore(spark, root, iceDest))
      Res.check("")
    }
    ctx.op("read_iceberg", "read") {
      val df = ctx.span("iceberg.read")(IcebergExport.readTable(spark, iceDest))
      compare("iceberg export read back", digest(df), expected(model.values))
    }
  }

  /** Space amplification, for the traced run's `etl.space_amp`. */
  override def finish(out: Records, traced: Boolean): Unit = if (traced) {
    val compactDir = s"$root-compact-copy"
    st.read().coalesce(1).write.mode("overwrite").parquet(compactDir)
    out.write("kind" -> "space", "store_bytes" -> Du(root)._2.toDouble,
      "compact_bytes" -> Du(compactDir)._2.toDouble, "cycles" -> cycle)
  }
}

/** Curation ops: the LLM-data operator rows over a corpus replicated K×
  * with ScaleUp. Each pass runs in a fresh session, so the standing state
  * the rows memoize per session (LSH indexes, components reflections,
  * Bloom filters) is rebuilt by the op that needs it. */
final class CurationOps(spark: SparkSession, data: String, work: String, seed: Long, k: Int)
    extends Workload {
  private val category = Map(
    "q42_dedup_minhash_lsh" -> "dedup", "q43_dedup_simhash" -> "dedup",
    "q44_ngram_jaccard" -> "similarity", "q45_cosine_consecutive" -> "similarity",
    "q46_ann_bruteforce" -> "similarity", "q47_ann_lsh" -> "similarity",
    "q49_ann_ivf" -> "ivf", "q72_dedup_clusters" -> "dedup",
    "q90_cluster_canonical" -> "dedup", "q92_incremental_dedup" -> "dedup",
    "q93_bloom_decontamination" -> "decontam", "q76_curation_pipeline" -> "text",
    "q96_top_ngrams" -> "text")
  private val rows = graft.queries.DataPipelineQueries.list
    .filter(q => category.contains(q.name) && q.name != "q47_ann_lsh")
  private val registry = rows.map(q => q.name -> q.run).toMap
  /** q47's registry row checks LSH recall against the engine's own brute
    * force; calling the operator directly lets the harness check its
    * neighbours against an independent top-k instead. */
  private val lsh: (SparkSession, String) => DataFrame = (s, dir) => {
    val e = Tables(s, dir, "embeddings")
    graft.operators.Similarity.lshTopK(e, e.filter(col("vec_id") < 10), "vec_id", "embedding",
      k = 5, dim = 64, nBits = 64, bands = 16)
  }
  private val ops = category.keys.toSeq.sorted.map(n => n -> registry.getOrElse(n, lsh))
  private var dir = ""

  override def oracles: Map[String, String] =
    rows.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** One pass over a corpus built like the timed one: adaptive execution
    * picks plans by data size, so a pass over a smaller slice left plans
    * of the timed pass to be compiled in it. */
  def warm(ctx: Ctx): Unit = {
    setup(0)
    pass(ctx)
  }

  def setup(rep: Int): Unit = {
    dir = s"$work/corpus$rep"
    Seq("documents", "embeddings").foreach { t =>
      graft.tools.ScaleUp.scaleTable(Tables(spark, data, t), t, k)
        .repartition(math.min(32, 4 * k)).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    }
  }

  override def finish(out: Records, traced: Boolean): Unit =
    out.write("kind" -> "corpus", "dir" -> dir, "k" -> k)

  def pass(ctx: Ctx): Unit = {
    val s = spark.newSession()
    // The client works in the pass's session. The text kernels register
    // themselves in the thread's active session, not in the session of the
    // frame that calls them, so a session that is not active cannot
    // resolve `lang_profile`.
    SparkSession.setActiveSession(s)
    ctx.attach(s)
    // Resolving the corpus tables is the session's connection cost; paying
    // it here keeps it off whichever op the seed puts first.
    Seq("documents", "embeddings").foreach(t => Tables(s, dir, t))
    Order(ops, seed, ctx).foreach { case (name, run) =>
      ctx.op(name, category(name)) {
        ctx.span(s"operators.${category(name)}") {
          val df = run(s, dir)
          Res(df.collect(), df.schema)
        }
      }
      s.catalog.clearCache()
    }
  }
}
