package graft.plans

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference, DenseRank, EqualTo, Expression, Rank, RowNumber}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Join, LogicalPlan, Project, Window}
import org.apache.spark.sql.graftbridge.PlanBridge

import graft.ops.ScaleOps

object WorkloadAdvisor {

  /** Retrain policy for one registered IVF index (the
    * [[graft.operators.IvfIndex.maintain]] parameters the tick replays). */
  final case class IvfPolicy(retrainShare: Double = 0.5, nCells: Int = 16,
      iters: Int = 5, sampleN: Int = 10000, seed: Long = 42L)

  /** One registered continuous store ↔ Iceberg sync. `direction` is
    * `"export"` (store → chain via [[graft.sources.IcebergExport.syncStore]])
    * or `"import"` (chain → store via
    * [[graft.sources.IcebergExport.syncFromTable]]). */
  final case class SyncMirror(storeRoot: String, tableDir: String,
      direction: String) {
    require(direction == "export" || direction == "import",
      s"sync direction must be export|import, got $direction")
  }


  /** A hot-key diagnosis the advisor can act on. `kind` is `join-salt`
    * (actionable via [[WorkloadAdvisor.saltedRewrite]]: re-plan the observed
    * join with [[graft.ops.ScaleOps.saltedEquiJoin]] so the hot key's rows
    * spread over `buckets` reducers) or `window-argmax` (recommendation: a
    * rank-style window partitioned on a skewed key serializes the hot
    * partition through one task — rewrite keep-latest/top-1 shapes as a
    * `max(struct(...))` aggregation, the q91 pattern, which partial-aggregates
    * map-side). `hotShare` is the heaviest key's share of the profiled side's
    * rows; `buckets` the recommended salt count; `side` names the hot join
    * input ("left"/"right" — salting is symmetric, and a hot key on the
    * right of an authored join is just as real as one on the left). */
  final case class SkewFinding(kind: String, fingerprint: String, key: String,
                               hotKey: String, hotShare: Double, buckets: Int,
                               seen: Long, side: String = "left")

  /** Serve floor for distribution-reuse shapes when AQE skew handling is on:
    * below this hot share, even a reuse shape defers. SKEWBENCH_r10 (two
    * independent 3-rep captures) shows the salt decisively ahead under
    * reuse at 60 % and 90 % shares (e.g. 4.41 s vs AQE's 9.01 s at 90 %)
    * but inside the noise band at 30 % (salted 4.02 vs AQE 4.65 in one
    * capture, 5.37 vs 4.09 in the other) — AQE's generic partition
    * coalescing already copes with a merely-warm key, so the advisor only
    * overrides it where the straggler is dominant and the win is
    * reproducible. */
  val ReuseServeShare: Double = 0.5
}

/** Autonomous reflection management (reference readme.md:381-389: the
  * enterprise engine "continuously monitors query workloads" to
  * "automatically create reflections for frequently queried views",
  * "refresh reflections based on data freshness needs", and "retire
  * reflections that are no longer useful").
  *
  * Spark-native shape: [[observe]] logs the canonical fingerprint of each
  * query's top aggregate subtree (the unit Dremio accelerates with an
  * aggregation reflection); [[autoMaterialize]] registers + refreshes a
  * materialization for every shape seen at least `minCount` times and
  * installs [[MaterializationSubstitution]], so the NEXT occurrence — or any
  * rollup/column-subset the substitution rule can derive from it — is served
  * from the materialized scan; [[retireStale]] drops reflections whose shape
  * stopped appearing. Observation is driver-side metadata only (a plan walk,
  * no data touched), so monitoring costs nothing at any data scale.
  *
  * The same monitor→act contract is applied to SKEW: [[observe]] also
  * records every single-key equi-join and every rank-style window subtree;
  * [[skewFindings]] profiles the recorded shapes' key distributions (one
  * bounded [[graft.ops.ScaleOps.keySkewProfile]] aggregation per shape — the
  * only data-touching step, and an explicit one) and diagnoses hot keys;
  * [[saltedRewrite]] acts on a join finding by re-planning it salted. At
  * 100 TB this closes the loop the reference's autonomous tier closes for
  * reflections: the engine notices the 30 %-hot-key join itself instead of a
  * human reading straggler task logs.
  */
final class WorkloadAdvisor(spark: SparkSession, mats: Materializations) {
  import WorkloadAdvisor.SkewFinding

  private val log = org.slf4j.LoggerFactory.getLogger(classOf[WorkloadAdvisor])

  /** One observed aggregate shape. Keeps the first sighting's DataFrame as
    * the definition (immutable plan; `classic.Dataset.ofRows` is
    * private[sql], and the frame IS the plan). */
  private final class Shape(val definition: DataFrame) {
    var seen: Long = 0L
    var lastSeenTick: Long = 0L
    var materializedAs: Option[String] = None
  }

  private val shapes = scala.collection.mutable.LinkedHashMap.empty[String, Shape]
  private var tick = 0L

  /** One observed saltable equi-join (the unit the skew advisor can salt):
    * the whole Join node (children, full condition, type, hints — the salted
    * re-plan keeps the condition intact, so extra non-equi conjuncts like J4
    * interval bounds survive) plus the equi-key attribute on each side. */
  private final class JoinShape(val join: Join,
                                val leftKey: AttributeReference,
                                val rightKey: AttributeReference) {
    var seen: Long = 0L
    var lastSeenTick: Long = 0L
    /** Some observed occurrence re-uses the join key's hash distribution
      * ABOVE the join (aggregate/window/repartition keyed on it) — the
      * shape class where AQE declines to split the skewed partition
      * (splitting would break the co-partitioning and force an extra
      * shuffle) and the pre-spread salt is the only effective weapon.
      * Sticky across sightings: one reusing consumer is enough to make the
      * naive plan's straggler real. */
    var distReused: Boolean = false
  }

  /** One observed rank-style window over a partition key (the serialize-one-
    * task-per-hot-key shape). */
  private final class WindowShape(val child: LogicalPlan,
                                  val partKey: AttributeReference) {
    var seen: Long = 0L
  }

  private val joinShapes =
    scala.collection.mutable.LinkedHashMap.empty[String, JoinShape]
  private val windowShapes =
    scala.collection.mutable.LinkedHashMap.empty[String, WindowShape]

  private def classic(df: DataFrame) =
    df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]

  /** Log the query's accelerable shape. The workload KEY is the canonical
    * topmost Aggregate subtree (the grain an aggregation reflection stores);
    * the recorded definition is the first sighting's frame. Returns `df`
    * unchanged so call sites can wrap transparently: `advisor.observe(q)`. */
  def observe(df: DataFrame): DataFrame = {
    synchronized { tick += 1 }
    val analyzed = classic(df).queryExecution.analyzed
    analyzed.collectFirst { case a: Aggregate => a }.foreach { agg =>
      val key = agg.canonicalized.toString
      synchronized {
        val s = shapes.getOrElseUpdate(key, new Shape(df))
        s.seen += 1
        s.lastSeenTick = tick
      }
    }
    observeSkewShapes(analyzed)
    observeStoreReads(analyzed)
    // Joins are fingerprinted on the OPTIMIZED plan: that is the form
    // [[SkewSaltSubstitution]] sees when it runs (extraOptimizations fire
    // after the main optimizer batches), so a fingerprint recorded here
    // matches the same query's join node at serve time. Driver-side plan
    // walk only — no data touched.
    observeJoinShapes(classic(df).queryExecution.optimizedPlan)
    df
  }

  // --- skew monitoring (monitor → diagnose → act, ScaleOps as the actuator) --

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(a, b) => conjuncts(a) ++ conjuncts(b)
    case x => Seq(x)
  }

  /** (leftKey, rightKey) for the first equi-conjunct between a bare column
    * on each side. Extra conjuncts (J4 interval bounds, composite residuals)
    * are FINE: the salted re-plan keeps the original condition and only adds
    * the salt equality, so remaining conjuncts re-apply as the join's
    * post-match filter — salting only needs the equi-key spread. */
  private def firstEquiKey(l: LogicalPlan, r: LogicalPlan, cond: Expression)
      : Option[(AttributeReference, AttributeReference)] =
    conjuncts(cond).collectFirst {
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if l.outputSet.contains(a) && r.outputSet.contains(b) => (a, b)
      case EqualTo(a: AttributeReference, b: AttributeReference)
          if r.outputSet.contains(a) && l.outputSet.contains(b) => (b, a)
    }

  /** Join types where salting the LEFT child (replicating the right) is
    * output-preserving: the replicated side must be neither null-preserved
    * (right/full outer over a B-replicated right emits every unmatched right
    * row B times) nor the preserved side of an existence join. Matches the
    * legal set `ScaleOps.saltedEquiJoin` enforces. */
  private def saltableLeft(jt: org.apache.spark.sql.catalyst.plans.JoinType): Boolean =
    jt match {
      case org.apache.spark.sql.catalyst.plans.Inner |
           org.apache.spark.sql.catalyst.plans.LeftOuter |
           org.apache.spark.sql.catalyst.plans.LeftSemi |
           org.apache.spark.sql.catalyst.plans.LeftAnti => true
      case _ => false
    }

  /** The mirror: salting the RIGHT child (replicating the left) is legal only
    * when the left is not preserved — inner and right-outer. A left-outer
    * join with a hot RIGHT key has no legal salted form under this scheme
    * (a replicated left would null-extend each unmatched left row once per
    * replica, and a matched left row's non-matching replicas would leak as
    * spurious null rows), so such joins stay AQE's problem. */
  private def saltableRight(jt: org.apache.spark.sql.catalyst.plans.JoinType): Boolean =
    jt match {
      case org.apache.spark.sql.catalyst.plans.Inner |
           org.apache.spark.sql.catalyst.plans.RightOuter => true
      case _ => false
    }

  /** Top-down walk recording every saltable join, carrying the set of
    * attributes whose hash distribution some ANCESTOR requires (aggregate
    * grouping keys, window partition keys, explicit repartition keys). A
    * join whose equi-key is in that set gets `distReused = true` — the
    * serve-policy signal that AQE's skew split won't fire on this shape
    * (see [[autoSalt]]). ExprId matching: the optimizer propagates the same
    * attribute instances from the join output to its consumers, so a
    * grouping key that IS the join key carries the join child's exprId.
    * Over-approximation by design (keys accumulate through intermediate
    * operators without reset): errs toward serving the salt, which is
    * row-identical either way. */
  private def observeJoinShapes(optimized: LogicalPlan): Unit = {
    def hashKeysOf(p: LogicalPlan): Seq[Long] = {
      val exprs: Seq[Expression] = p match {
        case a: Aggregate => a.groupingExpressions
        case w: Window => w.partitionSpec
        case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression =>
          r.partitionExpressions
        case _ => Nil
      }
      exprs.flatMap(_.collect { case ar: AttributeReference => ar.exprId.id })
    }
    def walk(p: LogicalPlan, keysAbove: Set[Long]): Unit = {
      val keys = keysAbove ++ hashKeysOf(p)
      p match {
        case j @ Join(l, r, jt, Some(cond), _)
            if !SkewSaltSubstitution.isSalted(cond) &&
              (saltableLeft(jt) || saltableRight(jt)) =>
          for ((lk, rk) <- firstEquiKey(l, r, cond))
            synchronized {
              val s = joinShapes.getOrElseUpdate(j.canonicalized.toString,
                new JoinShape(j, lk, rk))
              s.seen += 1
              s.lastSeenTick = tick
              if (keys.contains(lk.exprId.id) || keys.contains(rk.exprId.id))
                s.distReused = true
            }
        case _ =>
      }
      p.children.foreach(walk(_, keys))
    }
    walk(optimized, Set.empty)
  }

  private def observeSkewShapes(analyzed: LogicalPlan): Unit = analyzed.foreach {
    case w: Window
        if w.windowExpressions.exists(_.exists {
          case _: RowNumber | _: Rank | _: DenseRank => true
          case _ => false
        }) =>
      w.partitionSpec.headOption.collect { case a: AttributeReference => a }
        .foreach { pk =>
          synchronized {
            windowShapes.getOrElseUpdate(w.canonicalized.toString,
              new WindowShape(w.child, pk)).seen += 1
          }
        }
    case _ =>
  }

  /** Heaviest key value and its row share on `plan`, via ONE
    * `keySkewProfile` aggregation over the projected key column. */
  private def profileKey(plan: LogicalPlan, key: AttributeReference)
      : Option[(String, Double)] = {
    val projected = Project(Seq(Alias(key, "__k")()), plan)
    ScaleOps.keySkewProfile(PlanBridge.ofRows(spark, projected), "__k", topN = 1)
      .collect().headOption
      .map(r => (String.valueOf(r.get(0)), r.getDouble(r.fieldIndex("share"))))
  }

  /** Diagnose hot keys across every skew shape seen at least `minCount`
    * times: profiles BOTH inputs of each recorded join (on whichever sides a
    * salted rewrite is legal for its join type — a hot key on the right of
    * an authored join is just as real as one on the left, and join order is
    * author-chosen) and each window's child on its partition key, and
    * reports the shapes whose heaviest key holds ≥ `hotShare` of that
    * side's rows. A join with both sides hot reports its hotter side (the
    * replicated side must be the less-hot one for the rewrite to help). The
    * recommended `buckets` is clamped to [8, 64]: at least 8 so the hot
    * key's salt values spread over distinctly-hashed reducers even on small
    * clusters (fewer salts than partitions collide birthday-style), at most
    * 64 because the other side is replicated once per salt — a 64-way spread
    * already turns the one straggler into sub-2 % residual partitions, and
    * further replication costs more than it balances. This is the
    * data-touching step — one bounded aggregation per profiled side, run
    * when asked, like the reference's advisor jobs. */
  def skewFindings(hotShare: Double = 0.2, minCount: Int = 1): Seq[SkewFinding] = {
    val recorded = synchronized {
      joinShapes.toSeq.map { case (fp, s) =>
        val sides =
          (if (saltableLeft(s.join.joinType))
            Seq(("left", s.join.left, s.leftKey)) else Nil) ++
          (if (saltableRight(s.join.joinType))
            Seq(("right", s.join.right, s.rightKey)) else Nil)
        ("join-salt", fp, sides, s.seen)
      } ++ windowShapes.toSeq.map { case (fp, s) =>
        ("window-argmax", fp, Seq(("left", s.child, s.partKey)), s.seen)
      }
    }
    val par = math.max(2, spark.sparkContext.defaultParallelism)
    recorded.filter(_._4 >= minCount).flatMap {
      case (kind, fp, sides, seen) =>
        sides.flatMap { case (side, plan, key) =>
          profileKey(plan, key).collect {
            case (hk, share) if share >= hotShare => (side, key, hk, share)
          }
        }.sortBy(-_._4).headOption.map { case (side, key, hk, share) =>
          val buckets = math.max(8, math.min(64, math.ceil(share * par).toInt))
          SkewFinding(kind, fp, key.name, hk, share, buckets, seen, side)
        }
    }
  }

  /** ACT on a `join-salt` finding: re-plan the observed join via
    * [[SkewSaltSubstitution.saltedJoinPlan]] with the recommended bucket
    * count — identical rows, the hot key spread over `buckets` reducers
    * instead of serializing through one. Multi-conjunct conditions keep
    * their non-equi conjuncts (re-applied post-match). Output is the
    * using-join shape: the equi-key surfaces once (the duplicate right-side
    * key column is dropped; on every surviving row it equals the left key). */
  def saltedRewrite(f: SkewFinding): DataFrame = {
    require(f.kind == "join-salt", s"not a salt-actionable finding: ${f.kind}")
    val s = synchronized(joinShapes(f.fingerprint))
    val salted =
      SkewSaltSubstitution.saltedJoinPlan(s.join, f.buckets, f.side == "right")
    val pruned = Project(
      s.join.output.filterNot(_.exprId == s.rightKey.exprId), salted)
    PlanBridge.ofRows(spark, pruned)
  }

  /** Confirmed hot-key findings, keyed by join fingerprint — what
    * [[SkewSaltSubstitution]] consults at optimize time. */
  private val confirmedSalts =
    scala.collection.mutable.LinkedHashMap.empty[String, SkewFinding]

  private[plans] def confirmedSaltFor(fingerprint: String): Option[SkewFinding] =
    synchronized {
      val f = confirmedSalts.get(fingerprint)
      // a served occurrence counts as SEEN: the substitution guard hides the
      // salted plan from observeJoinShapes, so without this touch an
      // actively-served join would look idle to retireSalts
      if (f.isDefined) joinShapes.get(fingerprint).foreach(_.lastSeenTick = tick)
      f
    }

  /** Join-salt findings NOT served because the session's AQE skew-join
    * handling is expected to cover them — kept visible so operators can see
    * what the advisor decided and why (fingerprint → finding). */
  private val deferredSalts =
    scala.collection.mutable.LinkedHashMap.empty[String, SkewFinding]

  /** Findings the serve policy deferred to AQE on the last [[autoSalt]]. */
  def deferredToAqe: Seq[SkewFinding] = synchronized(deferredSalts.values.toSeq)

  /** The skew analog of [[autoMaterialize]]: diagnose every recorded join
    * shape ([[skewFindings]] — the one data-touching step), confirm the
    * hot-key ones, and install [[SkewSaltSubstitution]] so every FUTURE
    * occurrence of a confirmed join is served salted without the caller
    * changing anything. Returns the newly confirmed findings.
    *
    * SERVE POLICY (VERDICT r9 #3: don't force a salt where AQE's runtime
    * skew split is already the better weapon). A join finding is served
    * salted only when
    *  - the session has AQE skew-join handling OFF (salting is then the
    *    only weapon), or
    *  - the observed shape RE-USES the join key's hash distribution above
    *    the join (aggregate/window/repartition keyed on the equi-key) AND
    *    the hot share is ≥ [[WorkloadAdvisor.ReuseServeShare]] (below it
    *    the reuse-shape win is inside measurement noise — see that
    *    constant's doc):
    *    there AQE declines to split the skewed partition — splitting breaks
    *    the co-partitioning its parent needs and would force an extra
    *    shuffle — so the naive straggler survives AQE, while the salted
    *    plan's downstream agg still collapses the hot key MAP-SIDE before
    *    its shuffle.
    * Otherwise the finding is recorded in [[deferredToAqe]], not confirmed.
    *
    * This is shape-based, not hot-share-based, because the SKEWBENCH_r10
    * sweep (30M-row fact ⋈ 2M-row dim, hot shares 30/60/90 %, 3 reps, min)
    * measured AQE's runtime split ahead of the advisor's salted plan at
    * EVERY share when the distribution is free downstream (share 90 %:
    * AQE 2.10 s vs salted 5.95 s vs naive 11.59 s — the split costs no
    * replication and re-arbitrates each run), and the salt decisively ahead
    * when the join key's distribution is reused (share 90 %: salted 5.10 s
    * vs AQE 9.97 s ≈ naive 9.32 s — AQE refused the split, exactly as
    * designed). Window-argmax findings never defer — AQE cannot split a
    * window partition (they surface via [[skewFindings]] as rewrite
    * recommendations, the q91 max-struct pattern).
    *
    * The confirmed-set check and the rule install happen under ONE advisor
    * lock (ADVICE r9): a concurrent [[retireSalts]] can no longer uninstall
    * the rule between a fresh confirmation and its install. */
  def autoSalt(hotShare: Double = 0.2, minCount: Int = 1): Seq[SkewFinding] = {
    val confirmed = skewFindings(hotShare, minCount).filter(_.kind == "join-salt")
    val aqeSkewOn =
      spark.conf.get("spark.sql.adaptive.enabled", "true").toBoolean &&
        spark.conf.get("spark.sql.adaptive.skewJoin.enabled", "true").toBoolean
    val (defer, serve) = confirmed.partition { f =>
      aqeSkewOn &&
        !(f.hotShare >= WorkloadAdvisor.ReuseServeShare &&
          synchronized(joinShapes.get(f.fingerprint).exists(_.distReused)))
    }
    synchronized {
      defer.foreach(f => deferredSalts(f.fingerprint) = f)
      serve.foreach(f => deferredSalts.remove(f.fingerprint))
      val fresh = serve.filterNot(c => confirmedSalts.contains(c.fingerprint))
      fresh.foreach(c => confirmedSalts(c.fingerprint) = c)
      if (confirmedSalts.nonEmpty) SkewSaltSubstitution.install(spark, this)
      fresh
    }
  }

  // --- store-layout monitoring (the reference's "fully automated" table
  //     optimization, readme.md:393-401 — TableMaintenance as the actuator:
  //     observe which snapshot stores the workload reads, diagnose their
  //     layout from commit manifests alone, heal on the loop's tick) -------

  private final class StoreShape { var seen = 0L }

  /** Observed store roots → read counts. Bounded by the set of stores the
    * session's workload actually reads; a root whose store vanishes
    * (dropped table) is EVICTED on the next analyze touch, so one dead
    * root can never wedge the loop or be probed forever. */
  private val storeShapes =
    scala.collection.mutable.LinkedHashMap.empty[String, StoreShape]

  /** Record every snapshot store a query's plan reads (driver-side plan
    * walk — [[graft.sources.StoreReads]]; no data touched). */
  private def observeStoreReads(analyzed: LogicalPlan): Unit =
    graft.sources.StoreReads.rootsOf(analyzed).foreach { root =>
      synchronized {
        storeShapes.getOrElseUpdate(root, new StoreShape).seen += 1
      }
    }

  /** A store that genuinely VANISHED (dropped table, truncated log) vs a
    * transient failure — the eviction classifier shared by the monitoring
    * and healing paths. */
  private def isVanished(e: Throwable): Boolean = e match {
    case _: java.io.FileNotFoundException => true
    case _: java.nio.file.NoSuchFileException => true
    case ise: IllegalStateException =>
      ise.getMessage != null && ise.getMessage.startsWith("no snapshots")
    case _ => false
  }

  private def evictOrKeep(root: String, e: Throwable, what: String): Unit =
    if (isVanished(e)) {
      log.warn(s"store $root vanished since observation " +
        s"(${e.getClass.getSimpleName}: ${e.getMessage}); evicting from " +
        "the maintenance loop")
      synchronized { storeShapes.remove(root) }
    } else
      log.warn(s"transient $what failure for store $root " +
        s"(${e.getClass.getSimpleName}: ${e.getMessage}); keeping the " +
        "root — the next tick retries")

  /** `analyze` that treats a VANISHED store (dropped since observation) as
    * no-finding AND forgets the root — the loop must keep serving the
    * remaining stores, not crash on a stale observation forever — while a
    * TRANSIENT failure keeps the root for the next tick's retry (see
    * [[evictOrKeep]]). */
  private def analyzeOrEvict(root: String)
      : Option[graft.sources.TableMaintenance.Finding] =
    try graft.sources.TableMaintenance.analyze(spark, root)
    catch {
      case scala.util.control.NonFatal(e) =>
        evictOrKeep(root, e, "analyze")
        None
    }

  /** Layout diagnoses for every store the workload has read at least
    * `minCount` times ([[graft.sources.TableMaintenance.analyze]] —
    * manifests only, no data file opened): the monitoring view. */
  def storeFindings(minCount: Int = 3): Seq[graft.sources.TableMaintenance.Finding] =
    synchronized(storeShapes.toSeq)
      .collect { case (root, s) if s.seen >= minCount => root }
      .flatMap(analyzeOrEvict)

  private val ivfRoots =
    scala.collection.mutable.LinkedHashMap.empty[String, WorkloadAdvisor.IvfPolicy]

  /** Register a built [[graft.operators.IvfIndex]] for autonomous
    * maintenance: every [[maintenanceTick]] runs the index's own
    * observe→diagnose→act loop (`IvfIndex.maintain` — metadata-only drift
    * check, retrain when the appended share exceeds the policy, lifecycle
    * GC of superseded assignment snapshots + orphaned centroid
    * generations). The advisor already owns this loop for STORES; indexes
    * are derived state with the same operational needs. */
  def registerIvfIndex(root: String,
      policy: WorkloadAdvisor.IvfPolicy = WorkloadAdvisor.IvfPolicy()): Unit =
    synchronized { ivfRoots(root) = policy }

  def unregisterIvfIndex(root: String): Unit =
    synchronized { ivfRoots.remove(root) }

  private val syncMirrors =
    scala.collection.mutable.LinkedHashMap.empty[String, WorkloadAdvisor.SyncMirror]

  /** Register a continuous store ↔ Iceberg sync for the autonomous
    * cadence: every [[maintenanceTick]] mirrors the commits/snapshots
    * since the last sync (`direction = "export"` runs
    * [[graft.sources.IcebergExport.syncStore]] store → chain;
    * `"import"` runs [[graft.sources.IcebergExport.syncFromTable]]
    * chain → store). The advisor owns only the CADENCE — the sync
    * primitives own the O(delta) semantics and carry their own durable
    * cursors (chain properties / mirror records), so a tick is stateless
    * and idempotent: an up-to-date pair syncs nothing. */
  def registerSync(storeRoot: String, tableDir: String,
      direction: String = "export"): Unit = synchronized {
    syncMirrors(s"$storeRoot->$tableDir") =
      WorkloadAdvisor.SyncMirror(storeRoot, tableDir, direction)
  }

  def unregisterSync(storeRoot: String, tableDir: String): Unit =
    synchronized { syncMirrors.remove(s"$storeRoot->$tableDir") }

  /** One maintenance pass: the compacted stores, the orphans swept, the
    * registered IVF indexes retrained (root → new assignment version), and
    * the registered sync mirrors advanced (key → versions/snapshots
    * carried). */
  final case class MaintenanceTick(
      compacted: Seq[(String, Long)], orphansRemoved: Seq[(String, Seq[String])],
      indexesRetrained: Seq[(String, Long)] = Nil,
      mirrorsSynced: Seq[(String, Int)] = Nil)

  /** The store analog of [[autoMaterialize]]/[[autoSalt]] — ACT on the
    * observed workload's store findings with NO caller involvement:
    * rewrite each pathological store ([[graft.sources.TableMaintenance.maintain]]
    * — sort-order aware, so healing keeps the store's clustering) and sweep
    * aged crashed-writer orphans on every observed store. A commit conflict
    * (a writer landed mid-rewrite) skips that store until the next tick —
    * maintenance must never contend with ingest. Stateless and idempotent:
    * healthy stores produce no action. */
  def maintenanceTick(minCount: Int = 3,
      orphansOlderThanMillis: Long = 3L * 24 * 3600 * 1000): MaintenanceTick = {
    val roots = synchronized(storeShapes.toSeq)
      .collect { case (root, s) if s.seen >= minCount => root }
    // heal through TableMaintenance.maintain — the ONE place that encodes
    // how to heal (threshold logic, sort-order awareness, conflict policy),
    // and the ONE analyze per root per tick (maintain analyzes internally;
    // a second pre-analyze would double the metadata reads of the hot
    // loop). Failures are PER ROOT: a commit conflict (writer landed
    // mid-rewrite) is the documented skip-until-next-tick; a vanished
    // store evicts; any other store's error logs and continues — it must
    // not abort the rest of the tick or the orphan sweep.
    val compacted = roots.flatMap { root =>
      try graft.sources.TableMaintenance.maintain(spark, root).map(root -> _)
      catch {
        case _: graft.sources.SnapshotTable.CommitConflictException =>
          log.info(s"maintenance of $root lost to a concurrent writer; " +
            "retrying at the next tick")
          None
        case scala.util.control.NonFatal(e) =>
          evictOrKeep(root, e, "maintenance")
          None
      }
    }
    // the orphan sweep only visits roots that still exist (a vanished store
    // was evicted by the analyze pass above)
    val live = synchronized(storeShapes.keys.toSet)
    val orphans = roots.filter(live).flatMap { root =>
      try {
        val removed = graft.sources.TableMaintenance
          .removeOrphans(spark, root, orphansOlderThanMillis)
        if (removed.nonEmpty) Some(root -> removed) else None
      } catch {
        case scala.util.control.NonFatal(e) =>
          log.warn(s"orphan sweep of $root failed " +
            s"(${e.getClass.getSimpleName}: ${e.getMessage}); continuing")
          None
      }
    }
    // registered IVF indexes: same per-root isolation discipline — a
    // conflict (ingest wave landed mid-rebuild, the head validation's
    // purpose) skips until the next tick; any other failure logs and keeps
    // the registration (an index is derived state a later tick can heal)
    val retrained = synchronized(ivfRoots.toSeq).flatMap { case (root, p) =>
      try graft.operators.IvfIndex.maintain(spark, root, p.retrainShare,
        p.nCells, p.iters, p.sampleN, p.seed).map(root -> _)
      catch {
        case _: graft.sources.SnapshotTable.CommitConflictException =>
          log.info(s"IVF retrain of $root lost to a concurrent ingest wave; " +
            "retrying at the next tick")
          None
        case scala.util.control.NonFatal(e) =>
          log.warn(s"IVF maintenance of $root failed " +
            s"(${e.getClass.getSimpleName}: ${e.getMessage}); continuing")
          None
      }
    }
    // registered sync mirrors: the same per-registration isolation — a
    // failing pair (chain unreachable, store conflict) logs and keeps its
    // registration for the next tick; it must not stall other mirrors
    val mirrors = synchronized(syncMirrors.toSeq).flatMap { case (key, m) =>
      try {
        val carried =
          if (m.direction == "export")
            graft.sources.IcebergExport.syncStore(spark, m.storeRoot, m.tableDir)
          else
            graft.sources.IcebergExport.syncFromTable(spark, m.tableDir, m.storeRoot)
        if (carried.nonEmpty) Some(key -> carried.size) else None
      } catch {
        case scala.util.control.NonFatal(e) =>
          log.warn(s"sync mirror $key failed " +
            s"(${e.getClass.getSimpleName}: ${e.getMessage}); continuing")
          None
      }
    }
    MaintenanceTick(compacted, orphans, retrained, mirrors)
  }

  /** Shapes queried at least `minCount` times and not yet materialized —
    * what the autonomous engine would accelerate next. */
  def recommendations(minCount: Int = 3): Seq[(String, Long)] = synchronized {
    shapes.collect {
      case (key, s) if s.seen >= minCount && s.materializedAs.isEmpty =>
        key -> s.seen
    }.toSeq
  }

  /** Create + refresh a reflection for every recommendation, install the
    * substitution rule, and return the new reflection names. Subsequent
    * identical queries (and derivable rollups) hit the materialized scan. */
  def autoMaterialize(minCount: Int = 3): Seq[String] = {
    val created = synchronized {
      shapes.collect {
        case (key, s) if s.seen >= minCount && s.materializedAs.isEmpty =>
          val name = s"auto_rf_${math.abs(key.hashCode).toString}"
          s.materializedAs = Some(name)
          (name, s.definition)
      }.toSeq
    }
    created.foreach { case (name, definition) =>
      mats.register(name, () => definition)
      mats.refresh(name)
    }
    if (created.nonEmpty) MaterializationSubstitution.install(spark, mats)
    created.map(_._1)
  }

  /** Retire confirmed salts whose join shape hasn't been observed in the
    * last `maxIdleObservations` observe() calls — the skew mirror of
    * [[retireStale]] (the autonomous tier retires what it no longer needs:
    * a workload that stopped issuing the hot join should not keep paying
    * the rule's fingerprint probe, and a later re-occurrence after the data
    * distribution drifted should re-confirm against a fresh profile rather
    * than inherit a stale bucket count). Uninstalls the substitution rule
    * when no confirmed salts remain. Returns retired fingerprints. */
  def retireSalts(maxIdleObservations: Long): Seq[String] = synchronized {
    // staleness check, removal and (possible) uninstall under ONE lock
    // (ADVICE r9): a concurrent autoSalt can no longer confirm a salt and
    // have this uninstall strip its just-installed rule.
    val stale = confirmedSalts.keys.filter { fp =>
      joinShapes.get(fp).forall(s => tick - s.lastSeenTick > maxIdleObservations)
    }.toSeq
    stale.foreach(confirmedSalts.remove)
    deferredSalts.keys.filter { fp =>
      joinShapes.get(fp).forall(s => tick - s.lastSeenTick > maxIdleObservations)
    }.toSeq.foreach(deferredSalts.remove)
    if (confirmedSalts.isEmpty) SkewSaltSubstitution.uninstall(spark, this)
    stale
  }

  /** Retire auto-created reflections whose shape hasn't been observed in the
    * last `maxIdleObservations` observe() calls; returns retired names. */
  def retireStale(maxIdleObservations: Long): Seq[String] = synchronized {
    val retired = shapes.collect {
      case (_, s) if s.materializedAs.isDefined &&
          tick - s.lastSeenTick > maxIdleObservations =>
        val name = s.materializedAs.get
        s.materializedAs = None
        name
    }.toSeq
    retired.foreach(mats.retire)
    retired
  }

  /** (fingerprint hash, times seen, materialized name) — the advisor's
    * monitoring view, the analog of the reference's reflection dashboard. */
  def workload(): Seq[(Int, Long, Option[String])] = synchronized {
    shapes.toSeq.map { case (key, s) => (key.hashCode, s.seen, s.materializedAs) }
  }
}
