package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

/** Reflection-style acceleration (SURVEY.md §2.11 X1, readme.md:320-389):
  * the reference declares raw/aggregation "reflections" — materialized
  * versions of a dataset that the engine substitutes into matching queries.
  *
  * Spark-native mapping, in two tiers:
  *  1. Explicit materialization (this class): register a named definition,
  *     `refresh()` snapshots it (persist + optional parquet CTAS), and reads
  *     go through `table(name)` which serves the materialized copy when fresh
  *     — the CTAS-gold-table pattern the reference itself uses
  *     (retail.sql:89-100) when views get expensive.
  *  2. Transparent plan substitution (matching an arbitrary query subtree
  *     against registered materializations) — Iceberg/Dremio do this in the
  *     planner; a Catalyst `injectOptimizerRule` hook is the extension point,
  *     left as the documented stretch path (§4.2.4): fingerprint the
  *     canonicalized logical plan of each registered definition and swap
  *     matching subtrees for the materialized scan.
  */
final class Materializations(spark: SparkSession, warehouseDir: Option[String] = None) {

  private case class Entry(define: () => DataFrame,
                           var materialized: Option[DataFrame],
                           var refreshedAtMs: Option[Long],
                           var fingerprint: Option[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                             org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] = None,
                           aggShape: Option[(Seq[String], Seq[Materializations.AggSpec])] = None,
                           // applied to base/delta rows BEFORE the grain
                           // aggregation (the join leg of an agg-over-join
                           // reflection); identity for plain aggregates
                           prep: DataFrame => DataFrame = identity)

  private val entries = scala.collection.mutable.LinkedHashMap.empty[String, Entry]

  /** Declare a reflection: name + definition. Lazy until first refresh. */
  def register(name: String, define: () => DataFrame): Unit = synchronized {
    entries(name) = Entry(define, None, None)
  }

  /** Declare an AGGREGATE reflection with an explicit shape (group columns +
    * sum/count/min/max measures) so it can be INCREMENTALLY maintained: at
    * 100 TB the difference between `refresh` (rescan the whole base) and
    * `refreshIncremental` (aggregate only the new rows and merge) is the
    * difference between an hours-long rebuild and a seconds-long one — the
    * reference's aggregation reflections refresh the same way on append-only
    * tables (readme.md:320-389). `base()` must return the CURRENT base
    * (including any appended rows) so full refresh and fingerprinting stay
    * correct. */
  def registerAggregate(name: String, base: () => DataFrame, groupCols: Seq[String],
                        aggs: Seq[Materializations.AggSpec]): Unit = synchronized {
    require(groupCols.nonEmpty && aggs.nonEmpty, "registerAggregate: empty shape")
    aggs.foreach(a => require(Materializations.mergeableFns(a.fn),
      s"registerAggregate: '${a.fn}' is not incrementally mergeable " +
        "(sum/count/min/max are; avg = register sum+count, roll up at read)"))
    val define = () => base()
      .groupBy(groupCols.map(org.apache.spark.sql.functions.col): _*)
      .agg(Materializations.aggCols(aggs).head, Materializations.aggCols(aggs).tail: _*)
    entries(name) = Entry(define, None, None, aggShape = Some((groupCols, aggs)))
  }

  /** Declare an AGGREGATE reflection over `fact ⋈ dim` that is still
    * incrementally maintainable. Sound because the aggregation is
    * distributive over FACT rows: with a STATIC dim and an APPEND-ONLY fact,
    * each appended fact row's contribution to every group is independent of
    * the fact rows already aggregated, so `refreshIncremental(deltaFact)`
    * joins only the delta to the dim, aggregates it to the reflection's
    * grain, and merges — the 100 TB fact never rescans and the (small) dim
    * joins once per delta, usually broadcast. Dim updates or fact
    * deletes/updates require a full `refresh`.
    * `joinKeys` are (factCol, dimCol) equi-join pairs. */
  def registerAggregateJoin(name: String, fact: () => DataFrame, dim: () => DataFrame,
                            joinKeys: Seq[(String, String)], groupCols: Seq[String],
                            aggs: Seq[Materializations.AggSpec]): Unit = synchronized {
    require(joinKeys.nonEmpty, "registerAggregateJoin: empty join keys")
    require(groupCols.nonEmpty && aggs.nonEmpty, "registerAggregateJoin: empty shape")
    aggs.foreach(a => require(Materializations.mergeableFns(a.fn),
      s"registerAggregateJoin: '${a.fn}' is not incrementally mergeable"))
    val prep = (df: DataFrame) => {
      val d = dim()
      df.join(d, joinKeys.map { case (fc, dc) => df(fc) === d(dc) }.reduce(_ && _))
    }
    val define = () => prep(fact())
      .groupBy(groupCols.map(org.apache.spark.sql.functions.col): _*)
      .agg(Materializations.aggCols(aggs).head, Materializations.aggCols(aggs).tail: _*)
    entries(name) = Entry(define, None, None, aggShape = Some((groupCols, aggs)), prep = prep)
  }

  /** Materialize (or re-materialize) now: persists in memory/disk; with a
    * warehouse dir also writes a parquet CTAS snapshot (survives the session,
    * like a Dremio reflection store). */
  def refresh(name: String): DataFrame = synchronized {
    val e = entries(name)
    // The whole refresh runs with EVERY MaterializationSubstitution stripped
    // (this registry's or any other's): a live rule would (a) rewrite the
    // refresh write to read the very parquet path it is overwriting, and
    // (b) rewrite the definition's optimizedPlan onto an old materialized
    // scan, storing a poisoned fingerprint that no raw-table query can ever
    // match again (the round-2 re-invocation defect). A refresh must always
    // recompute from the raw definition.
    e.fingerprint = None
    e.materialized.foreach(_.unpersist())
    withoutSubstitutionRules {
      val df = e.define()
      val mat = warehouseDir match {
        case Some(dir) =>
          df.write.mode("overwrite").parquet(s"$dir/$name")
          readBack(s"$dir/$name", df.schema)
        case None =>
          df.persist(StorageLevel.MEMORY_AND_DISK)
      }
      e.materialized = Some(mat)
      e.refreshedAtMs = Some(System.currentTimeMillis())
      e.fingerprint = fingerprintOf(e, mat)
      mat
    }
  }

  /** Incremental refresh for an aggregate reflection on an APPEND-ONLY base:
    * `delta` is exactly the rows appended since the last refresh. Cost is
    * O(|delta| + |mat|) — the base table is never rescanned: the delta is
    * aggregated to the reflection's grain and merged with the existing
    * materialization (sum of sums, sum of counts, min of mins, max of maxes
    * — the same re-aggregation algebra the rollup substitution uses).
    * Updates/deletes in the base need a full `refresh` (min/max are not
    * subtractable). Falls back to full refresh when nothing is materialized
    * yet. For an agg-over-join reflection (`registerAggregateJoin`) `delta`
    * is the appended FACT rows — they join the static dim before merging. */
  def refreshIncremental(name: String, delta: DataFrame): DataFrame = synchronized {
    val e = entries(name)
    val (groupCols, aggs) = e.aggShape.getOrElse(
      throw new IllegalArgumentException(
        s"refreshIncremental('$name'): not registered via registerAggregate"))
    if (e.materialized.isEmpty) return refresh(name)
    e.fingerprint = None
    withoutSubstitutionRules {
      import org.apache.spark.sql.functions.col
      val old = e.materialized.get
      val deltaAgg = e.prep(delta)
        .groupBy(groupCols.map(col): _*)
        .agg(Materializations.aggCols(aggs).head, Materializations.aggCols(aggs).tail: _*)
      val merged = old.unionByName(deltaAgg)
        .groupBy(groupCols.map(col): _*)
        .agg(Materializations.mergeCols(aggs).head, Materializations.mergeCols(aggs).tail: _*)
      val mat = warehouseDir match {
        case Some(dir) =>
          // staged swap: `merged` READS the live parquet at $dir/$name, so
          // write to a stage path first. The swap itself is crash-safe: live
          // is moved ASIDE (not deleted) before stage takes its place, so a
          // crash between the renames leaves a recoverable backup rather
          // than no live copy at all; the backup is deleted only once the
          // new live is in place.
          val fs = new org.apache.hadoop.fs.Path(dir)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          val live = new org.apache.hadoop.fs.Path(s"$dir/$name")
          val stage = new org.apache.hadoop.fs.Path(s"$dir/$name.stage")
          val backup = new org.apache.hadoop.fs.Path(s"$dir/$name.backup")
          merged.write.mode("overwrite").parquet(stage.toString)
          fs.delete(backup, true) // stale backup from an earlier crash
          require(fs.rename(live, backup), s"refreshIncremental: backup rename failed for $name")
          require(fs.rename(stage, live), s"refreshIncremental: rename failed for $name")
          fs.delete(backup, true)
          readBack(live.toString, merged.schema)
        case None =>
          // materialize the merge FULLY before dropping the old copy it reads
          val m = merged.persist(StorageLevel.MEMORY_AND_DISK)
          m.count()
          old.unpersist()
          m
      }
      e.materialized = Some(mat)
      e.refreshedAtMs = Some(System.currentTimeMillis())
      e.fingerprint = fingerprintOf(e, mat)
      mat
    }
  }

  /** The (definition, materialization) plan pair substitution matches on,
    * taken once at refresh: optimizer rules run per query, and matching
    * must not re-analyze the definition each time. Both plans belong to a
    * definition and a materialization that just ran, so an error here is a
    * real fault and propagates rather than silently disabling substitution
    * for the reflection. */
  private def fingerprintOf(e: Entry, mat: DataFrame) = Some((
    classic(e.define()).queryExecution.optimizedPlan.canonicalized,
    classic(mat).queryExecution.analyzed))

  /** A materialization just written to `path`, read back with the schema
    * it was written with (every field nullable, as any parquet read
    * reports): planning it launches no schema-inference job. */
  private def readBack(path: String, schema: StructType): DataFrame =
    spark.read.schema(graft.sources.SnapshotTable.allNullable(schema)
      .asInstanceOf[StructType]).parquet(path)

  /** Run `body` with every MaterializationSubstitution stripped from the
    * session's extra optimizer rules, restoring them afterwards. */
  private def withoutSubstitutionRules[A](body: => A): A = {
    var saved: Seq[org.apache.spark.sql.catalyst.rules.Rule[
      org.apache.spark.sql.catalyst.plans.logical.LogicalPlan]] = Nil
    ExtraOptimizations.mutate(spark) { existing =>
      // save ONLY the rules this block strips — restoring a snapshot of
      // everything would resurrect unrelated rules (e.g. a salt rule) that
      // another component deliberately uninstalled while `body` ran
      saved = existing.filter(_.isInstanceOf[MaterializationSubstitution])
      existing.filterNot(_.isInstanceOf[MaterializationSubstitution])
    }
    // restore by re-adding the stripped rules (not by overwriting with the
    // snapshot): a rule installed concurrently while `body` ran survives
    try body finally ExtraOptimizations.mutate(spark) { existing =>
      existing ++ saved.filterNot(r => existing.exists(_ eq r))
    }
  }

  private def classic(df: DataFrame): org.apache.spark.sql.classic.Dataset[_] =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]

  /** Serve the materialization when fresh; fall back to the live definition
    * (a query against a reflection-less dataset still answers correctly —
    * the reference's "autonomous" behavior, readme.md:381-389). */
  def table(name: String): DataFrame = synchronized {
    val e = entries(name)
    e.materialized.getOrElse(e.define())
  }

  def isMaterialized(name: String): Boolean =
    synchronized(entries.get(name).exists(_.materialized.isDefined))

  /** Retire a reflection (autonomous retire path). */
  def retire(name: String): Unit = synchronized {
    entries.get(name).foreach(_.materialized.foreach(_.unpersist()))
    entries.remove(name)
  }

  def status(): Seq[(String, Boolean, Option[Long])] = synchronized {
    entries.toSeq.map { case (n, e) => (n, e.materialized.isDefined, e.refreshedAtMs) }
  }

  /** (definition's canonicalized optimized plan, materialized analyzed plan)
    * for every refreshed entry — the matching index used by
    * MaterializationSubstitution; cached at refresh time. */
  def fingerprints(): Seq[(org.apache.spark.sql.catalyst.plans.logical.LogicalPlan,
                           org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)] =
    synchronized(entries.values.toSeq.flatMap(_.fingerprint))
}

object Materializations {
  /** One measure of an aggregate reflection: `fn` ∈ sum/count/min/max over
    * `col` ("*" for count), surfaced as `alias`. */
  final case class AggSpec(fn: String, col: String, alias: String)

  private[plans] val mergeableFns = Set("sum", "count", "min", "max")

  import org.apache.spark.sql.Column
  import org.apache.spark.sql.functions._

  /** Base-grain aggregation columns (used for full refresh and delta agg). */
  private[plans] def aggCols(aggs: Seq[AggSpec]): Seq[Column] = aggs.map { a =>
    (a.fn match {
      case "sum" => sum(col(a.col))
      case "count" => if (a.col == "*") count(lit(1)) else count(col(a.col))
      case "min" => min(col(a.col))
      case "max" => max(col(a.col))
    }).as(a.alias)
  }

  /** Merge columns: re-aggregate already-aggregated rows (counts re-SUM). */
  private[plans] def mergeCols(aggs: Seq[AggSpec]): Seq[Column] = aggs.map { a =>
    (a.fn match {
      case "sum" | "count" => sum(col(a.alias))
      case "min" => min(col(a.alias))
      case "max" => max(col(a.alias))
    }).as(a.alias)
  }
}
