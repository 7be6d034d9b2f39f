package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardOpenOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** What one op hands back: its collected rows (checked by the caller) or,
  * for ops the harness checks itself, a failure message ("" = correct) and
  * how many rows the engine returned. */
final case class Res(rows: Array[Row], schema: StructType, problem: String = "",
    returned: Int = 0)

object Res {
  def check(problem: String, returned: Int = 0): Res =
    Res(Array.empty, new StructType(), problem, returned)
}

/** Raw JSON-lines sink; `perfbench/metrics.py` turns the records into
  * metrics. */
final class Records(path: String) {
  private val out = Files.newBufferedWriter(Paths.get(path), StandardCharsets.UTF_8,
    StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
  private implicit val formats: Formats = DefaultFormats

  def write(fields: (String, Any)*): Unit = synchronized {
    out.write(Serialization.write(fields.toMap)); out.newLine(); out.flush()
  }

  def close(): Unit = out.close()
}

/** Times ops, records them and, in the traced phase, attributes Spark's
  * listener events and the harness's own spans around `graft` calls. */
final class Ctx(val spark: SparkSession, out: Records, resultDir: String) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  /** Epoch milliseconds with sub-millisecond resolution. */
  def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  var phase = "warm"
  var pass = 0
  var tracer: Option[Tracer] = None
  private val spans = mutable.ArrayBuffer.empty[(String, Double, Double)]
  private val counts = mutable.LinkedHashMap.empty[String, Double]
  private val firstResult = mutable.LinkedHashMap.empty[String, Res]
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala.toSeq

  private val attached = mutable.ArrayBuffer.empty[SparkSession]

  /** Registers the tracer's query-execution listener on a session the
    * workload runs ops in (sessions do not share these listeners). */
  def attach(s: SparkSession): Unit = tracer.foreach { t =>
    if (!attached.exists(_ eq s)) {
      s.asInstanceOf[org.apache.spark.sql.classic.SparkSession].listenerManager.register(t)
      attached += s
    }
  }

  /** Ends tracing: the tracer leaves the Spark context and every session
    * it was registered on. */
  def untrace(): Unit = {
    tracer.foreach { t =>
      spark.sparkContext.removeSparkListener(t)
      attached.foreach(_.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .listenerManager.unregister(t))
    }
    attached.clear()
    tracer = None
  }

  private def gcMs(): Long = gcBeans.map(_.getCollectionTime).filter(_ >= 0).sum

  /** Times `body` as a call into the named `graft` layer (traced phase only). */
  def span[T](name: String)(body: => T): T =
    if (tracer.isEmpty) body
    else {
      val t0 = nowMs()
      try body finally spans += ((name, t0, nowMs()))
    }

  /** Adds to a per-op counter of the named layer (traced phase only). */
  def count(name: String, v: Double): Unit =
    if (tracer.nonEmpty) counts(name) = counts.getOrElse(name, 0.0) + v

  /** True while the traced phase runs. */
  def tracing: Boolean = tracer.nonEmpty

  /** Runs one op. An exception counts as a failed op; rows are hashed, and
    * the first result of each label is saved for the oracle check. In the
    * traced phase `after` runs once the op's clock has stopped and returns
    * layer counters that need the op's outcome (e.g. files it wrote). */
  def op(label: String, cat: String,
      after: () => Map[String, Double] = () => Map.empty)(body: => Res): Unit = {
    spans.clear(); counts.clear()
    tracer.foreach(_.begin())
    val gc0 = gcMs()
    val t0 = nowMs()
    val res = try Right(body) catch { case e: Throwable => Left(e) }
    val t1 = nowMs()
    val gc1 = gcMs()
    val trace = tracer.map(_.finish(spark.sparkContext))
    if (tracing && res.isRight) after().foreach { case (k, v) => count(k, v) }
    val base = mutable.LinkedHashMap[String, Any](
      "kind" -> "op", "phase" -> phase, "pass" -> pass, "label" -> label,
      "cat" -> cat, "t0" -> t0, "t1" -> t1)
    res match {
      case Left(e) =>
        base("ok") = false
        base("error") = (e.getClass.getName + ": " + e.getMessage).take(400)
      case Right(r) =>
        base("ok") = true
        base("problem") = r.problem
        base("rows") = if (r.schema.nonEmpty) r.rows.length else r.returned
        // warm-pass results come from other inputs than the timed ones
        if (r.schema.nonEmpty && phase != "warm") {
          base("hash") = Ctx.hash(r.rows)
          if (!firstResult.contains(label)) firstResult(label) = r
        }
    }
    trace.foreach { t =>
      base("gc_ms") = gc1 - gc0
      base("jobs") = t.jobs.map { case (a, b, st) => Seq(a, b, st.map(x => Seq(x._1, x._2))) }
      base("sums") = t.sums.toMap
      base("executions") = t.executions.toSeq
      base("spans") = spans.map { case (n, a, b) => Seq(n, a, b) }.toSeq
      base("counts") = counts.toMap
    }
    out.write(base.toSeq: _*)
  }

  /** Writes the first result of each label as parquet for the oracle
    * check; runs after the timed phases so the writes are not timed. */
  def saveResults(): Unit = firstResult.foreach { case (label, r) =>
    val path = s"$resultDir/$label"
    spark.createDataFrame(r.rows.toSeq.asJava, r.schema).coalesce(1)
      .write.mode("overwrite").parquet(path)
    out.write("kind" -> "result", "label" -> label, "path" -> path)
  }
}

object Ctx {
  /** Order-insensitive digest of a result: rows are rendered, sorted and
    * hashed, so a re-execution that returns the same multiset matches. */
  def hash(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-1")
    rows.map(_.toString).sorted.foreach { r =>
      md.update(r.getBytes(StandardCharsets.UTF_8)); md.update(0.toByte)
    }
    md.digest().map("%02x".format(_)).mkString
  }
}

/** One workload: an untimed warm pass, fixtures built in set-up, then
  * timed passes until the run's seconds are spent. */
trait Workload {
  /** One untimed pass, so that set-up and the timed passes run compiled
    * code and, where the plans depend on the inputs' size, plans compiled
    * for inputs of their size. */
  def warm(ctx: Ctx): Unit
  /** Builds the workload's fixtures; set-up runs this several times and
    * the last build serves the timed passes. */
  def setup(rep: Int): Unit
  def pass(ctx: Ctx): Unit
  /** Oracle SQL of the registry rows the workload runs, by label. */
  def oracles: Map[String, String] = Map.empty
  /** Facts recorded after the timed phases (e.g. space amplification). */
  def finish(out: Records, traced: Boolean): Unit = ()
}

object Harness {
  /** The machine's CPU time counters (user, nice, system, idle, iowait,
    * irq, softirq, steal, ...) from /proc/stat. Steal is time the
    * hypervisor gave this machine's processors to other guests. */
  def cpuTicks(): Array[Long] = {
    val stat = Paths.get("/proc/stat")
    if (!Files.exists(stat)) Array.empty
    else Files.readAllLines(stat).get(0).trim.split("\\s+").drop(1).map(_.toLong)
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val work = Paths.get(a("work")).toAbsolutePath.toString
    val data = Paths.get(a("data")).toAbsolutePath.toString
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$work/hadoop")
      // Reflection-served rows require() a warehouse marker in their plan
      // string; the default 100-character cap on scan locations cuts it off
      // when the checkout's path is long.
      .config("spark.sql.maxMetadataStringLength", "1000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val contextS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val out = new Records(a("out"))
    val resultDir = s"$work/results"
    val w: Workload = workload match {
      case "lakehouse_etl" => new LakehouseEtl(spark, data, work, seed)
      case "curation_ops" => new CurationOps(spark, data, work, seed, a("scale").toInt)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.oracles.foreach { case (label, sql) => out.write("kind" -> "oracle", "label" -> label, "sql" -> sql) }
    val ctx = new Ctx(spark, out, resultDir)
    val w0 = ctx.nowMs()
    w.warm(ctx)
    val warmS = (ctx.nowMs() - w0) / 1000
    val fixtureS = (1 to 3).map { rep =>
      val t0 = System.nanoTime()
      w.setup(rep)
      (System.nanoTime() - t0) / 1e9
    }
    out.write("kind" -> "setup", "context_s" -> contextS, "fixture_s" -> fixtureS,
      "warm_s" -> warmS, "ready_s" -> ManagementFactory.getRuntimeMXBean.getUptime / 1000.0,
      "cores" -> cores, "seed" -> seed, "workload" -> workload)

    def timed(phase: String): Unit = {
      ctx.phase = phase
      val cpu0 = Harness.cpuTicks()
      val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
      pools.foreach(_.resetPeakUsage())
      val t0 = ctx.nowMs()
      var p = 0
      while (ctx.nowMs() - t0 < seconds * 1000) {
        p += 1
        ctx.pass = p
        w.pass(ctx)
      }
      val t1 = ctx.nowMs()
      val cpu = Harness.cpuTicks().zip(cpu0).map { case (b, a) => b - a }
      out.write("kind" -> "phase", "phase" -> phase, "t0" -> t0, "t1" -> t1,
        "passes" -> p, "heap_peak_mb" -> pools.map(_.getPeakUsage.getUsed).sum / 1048576.0,
        "steal_frac" -> (if (cpu.length > 7) cpu(7).toDouble / math.max(1L, cpu.take(8).sum) else 0.0))
    }
    timed("untraced")
    if (traced) {
      val tracer = new Tracer
      spark.sparkContext.addSparkListener(tracer)
      ctx.tracer = Some(tracer)
      timed("traced")
      // An untraced phase on each side of the traced one, so that warm-up
      // still going on and slow drift in the machine's speed cancel out of
      // the tracing overhead.
      ctx.untrace()
      timed("after")
    }
    ctx.saveResults()
    w.finish(out, traced)
    val hwmKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)
    out.write("kind" -> "jvm", "vmhwm_mb" -> hwmKb / 1024.0)
    out.close()
    spark.stop()
  }
}
