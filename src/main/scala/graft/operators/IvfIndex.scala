package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._
import graft.sources.SnapshotTable

/** PERSISTED, incrementally-maintained IVF ANN index — the standing-index
  * counterpart of the per-call [[Similarity.ivfTopK]], mirroring the dedup
  * side's `Dedup.dedupIndex` pattern (build once per corpus version,
  * maintain O(delta) per ingest wave, serve many queries from the standing
  * state).
  *
  * Layout (both halves are snapshot stores, so the index itself is
  * versioned, time-travelable, and maintained by the same commit protocol
  * as every other table — reference readme.md:393-401's "tables, not
  * files" discipline applied to index state):
  *
  *  - ASSIGNMENTS at `root`: one row per corpus vector `(id, vec, cell,
  *    gen)`, identity-PARTITIONED by `cell` and written one file per cell,
  *    so a serve that probes `nprobe` cells reads exactly those cells'
  *    files via the store's own manifest/partition pruning
  *    ([[SnapshotTable.readWhere]]) — never a full-corpus scan.
  *  - CENTROIDS at `root/_graft_ivf_centroids`: APPEND-ONLY generations of
  *    trained unit centroids `(gen, cell, vec)` — tiny (nCells rows per
  *    generation), loaded driver-side at serve time and inlined as plan
  *    literals exactly like [[Similarity.ivfTopK]].
  *
  * GENERATION PAIRING: cell ids are only meaningful relative to the
  * centroids that assigned them, and the two halves commit separately —
  * so every assignment row carries the content hash (`gen`) of its
  * centroid generation, and serves/appends load the centroids the STANDING
  * assignment actually references, never blindly the centroid head. A
  * crash between a (re)build's centroid append and its assignment commit
  * leaves only an unreferenced centroid generation — harmless — instead of
  * a silently mispaired index.
  *
  * At 100 TB the difference from `ivfTopK` is structural: `ivfTopK` re-trains
  * and re-assigns the whole corpus on EVERY call (a full scan per query
  * batch), while this index pays the assignment scan once per build,
  * extends it O(delta) per ingest wave ([[append]] assigns only the new
  * rows to the existing centroids), and every [[topK]] call reads only the
  * probed cells' files.
  */
object IvfIndex {

  /** The nested centroid store of an index rooted at `root`. The `_` prefix
    * keeps it invisible to the assignment store's data listing and orphan
    * sweep (both only consider `v=N` dirs). */
  private def centroidsRoot(root: String) = s"$root/_graft_ivf_centroids"

  /** Content hash of a centroid generation — the pairing key between the
    * two stores. Deterministic (no clock, no RNG), so identical retrains
    * pair identically. */
  private def genOf(centroids: Array[Array[Double]]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(8)
    centroids.foreach(_.foreach { d =>
      buf.clear(); buf.putDouble(d); md.update(buf.array())
    })
    md.digest().map("%02x".format(_)).mkString
  }

  /** Train centroids on `corpus` and commit the index: one new centroid
    * GENERATION (appended to the centroid store), then the assignments as
    * a fresh full snapshot partitioned by cell (one file per cell — the
    * layout [[topK]]'s pruning depends on), every row stamped with the
    * generation. Returns the assignment store's new version. Deterministic
    * for a given (corpus order, seed). */
  def build(corpus: DataFrame, root: String, idCol: String, vecCol: String,
            nCells: Int = 16, iters: Int = 5, sampleN: Int = 10000,
            seed: Long = 42L): Long =
    rebuild(corpus, root, idCol, vecCol, nCells, iters, sampleN, seed,
      expectedHead = None)

  private def rebuild(corpus: DataFrame, root: String, idCol: String,
      vecCol: String, nCells: Int, iters: Int, sampleN: Int, seed: Long,
      expectedHead: Option[Option[Long]]): Long = {
    val spark = corpus.sparkSession
    val centroids =
      Similarity.trainCentroids(corpus, vecCol, nCells, iters, sampleN, seed)
    val gen = genOf(centroids)
    import spark.implicits._
    // centroid generation FIRST: a crash before the assignment commit
    // leaves an unreferenced generation (harmless), never a mispaired index
    new SnapshotTable(spark, centroidsRoot(root)).commit(
      centroids.toSeq.zipWithIndex.map { case (v, i) => (gen, i, v.toSeq) }
        .toDF("gen", "cell", "vec"), op = "append")
    beforeAssignCommit()
    commitAssignments(corpus, root, idCol, vecCol, centroids, gen,
      op = "overwrite", expectedHead = expectedHead)
  }

  /** Test seam: invoked between a (re)build's centroid append and its
    * assignment commit — lets specs inject a concurrent ingest wave into
    * the window the head validation protects. Production: no-op. */
  private[operators] var beforeAssignCommit: () => Unit = () => ()

  /** O(delta) maintenance: assign ONLY `delta`'s rows to the STANDING
    * generation's centroids and append them to the assignment store (one
    * commit whose files hold just the delta, clustered by cell like the
    * base — the q92 dedup-index shape). The centroids do not move; call
    * [[maintain]] on a cadence to retrain when enough of the corpus
    * arrived after training. */
  def append(delta: DataFrame, root: String, idCol: String, vecCol: String): Long = {
    val spark = delta.sparkSession
    // head-validated against the snapshot the generation was READ from: a
    // maintain() rebuild landing between the gen read and this commit
    // would otherwise be appended onto with STALE-generation rows (mixed
    // generations = mispaired serves). A conflict re-reads the standing
    // generation and re-assigns — appends still commute with each other,
    // they just retry (bounded) when anything landed in between.
    var attempts = 0
    while (true) {
      attempts += 1
      val head = new SnapshotTable(spark, root).currentVersion
      val gen = standingGen(spark, root)
      try
        return commitAssignments(delta, root, idCol, vecCol,
          loadCentroids(spark, root, gen), gen, op = "append",
          expectedHead = Some(head))
      catch {
        case _: SnapshotTable.CommitConflictException if attempts < 5 =>
          () // something landed (another wave, or a rebuild): re-pair + retry
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def commitAssignments(df: DataFrame, root: String, idCol: String,
      vecCol: String, centroids: Array[Array[Double]], gen: String,
      op: String, expectedHead: Option[Option[Long]]): Long = {
    val spark = df.sparkSession
    val assigned = df
      .select(col(idCol).as("id"), asDouble(col(vecCol)).as("vec"))
      .withColumn("cell", Similarity.cellExpr(centroids)(col("vec")))
      .withColumn("gen", lit(gen))
    // one file per cell: every row of a cell hashes to one task, and each
    // task writes one file per cell dir it holds — so a probe of c cells
    // opens exactly c files of this commit
    new SnapshotTable(spark, root).commitPartitioned(
      assigned.repartition(centroids.length, col("cell")), Seq("cell"), op,
      expectedHead)
  }

  /** The centroid generation the STANDING assignment references (constant
    * across its rows — one tiny limit-1 lookup). */
  private def standingGen(spark: SparkSession, root: String): String =
    new SnapshotTable(spark, root).read().select("gen").limit(1)
      .collect().headOption.map(_.getString(0)).getOrElse(
        throw new IllegalStateException(s"no IVF index at $root — build() first"))

  /** Generation `gen`'s centroids, driver-side (nCells rows — tiny). */
  private def loadCentroids(spark: SparkSession, root: String,
      gen: String): Array[Array[Double]] =
    new SnapshotTable(spark, centroidsRoot(root)).read()
      .filter(col("gen") === gen)
      .orderBy(col("cell"))
      .select(col("vec"))
      .collect().map(_.getSeq[Double](0).toArray)

  /** Serve top-k from the STANDING index: each query probes its `nprobe`
    * nearest cells and the assignment store's scan prunes to exactly the
    * probed cells' files (see [[lastPruneStats]]). Centroids are loaded by
    * the generation the standing assignment references, so a half-landed
    * rebuild can never mispair the serve. Same output shape and scoring as
    * [[Similarity.ivfTopK]] — with `nprobe = nCells` the result equals
    * exact brute force. */
  def topK(spark: SparkSession, root: String, queries: DataFrame,
           idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val st = new SnapshotTable(spark, root)
    // Index METADATA memoized per root (the manifest-memo pattern): the
    // standing generation is constant for a given commit-log HEAD IDENTITY
    // (version + commit timestamp — robust against deleting and recreating
    // a store at the same path, where a bare version number would alias;
    // r21 review finding), and a generation's centroids are immutable by
    // construction (gen = content hash of the centroid array, so a gen
    // match IS a centroid match). Saves two driver-blocking jobs per warm
    // serve; any append/rebuild/GC changes the head and reads fresh. One
    // entry per root on both maps — bounded regardless of wave count.
    val head = st.headIdentity
    val cachedGen = IvfIndex.genMemo.get(root)
    val gen =
      if (cachedGen != null && cachedGen._1 == head) cachedGen._2
      else {
        val g = standingGen(spark, root)
        IvfIndex.genMemo.put(root, (head, g))
        g
      }
    val cachedCent = IvfIndex.centroidMemo.get(root)
    val centroids =
      if (cachedCent != null && cachedCent._1 == gen) cachedCent._2
      else {
        val c = loadCentroids(spark, root, gen)
        IvfIndex.centroidMemo.put(root, (gen, c))
        c
      }
    // the probed-cell UNION is bounded by nCells (small by construction) —
    // collecting it lets the store prune files BEFORE the scan plans; the
    // per-query cell join inside scoreProbed still bounds each query to its
    // own nprobe cells. Probing every cell needs no collect at all: the
    // probed union is 0..nCells-1 by construction.
    val probed =
      if (nprobe >= centroids.length) centroids.indices.toArray
      else queries
        .select(explode(Similarity.probeCellsExpr(centroids, nprobe)(
          asDouble(col(vecCol)))).as("cell"))
        .distinct().collect().map(_.getInt(0)).sorted
    val pruned = st.readWhere(col("cell").isin(probed.map(Int.box): _*))
    lastPruneStats = st.lastPruneStats
    val assigned = pruned
      .select(col("id").as("neighbor_id"), col("vec").as("__cv"), col("cell"))
    Similarity.scoreProbed(assigned, queries, idCol, vecCol, k, nprobe, centroids)
  }

  private val genMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Option[(Long, Long)], String)]()
  private val centroidMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Array[Array[Double]])]()

  /** (files scanned, files live) of the most recent [[topK]]'s assignment
    * scan — the audit observable proving a serve read only its probed
    * cells' files (mirror of [[SnapshotTable#lastPruneStats]]; like it, an
    * audit aid for specs and registry require()s, not a concurrent-safe
    * metric). */
  @volatile var lastPruneStats: (Long, Long) = (0L, 0L)

  /** Metadata-only retrain policy, the index analog of
    * [[graft.sources.TableMaintenance]]: when the rows appended SINCE the
    * last full (re)build exceed `retrainShare` of the base the centroids
    * were trained for, the spherical-k-means partition has drifted from the
    * corpus — rebuild from the store's own current content (retrain +
    * reassign + one fresh full snapshot, folding the delta chain). The
    * decision reads only the commit log (row counts per op); None = healthy,
    * nothing rewritten. The rebuild is HEAD-VALIDATED against the history
    * it read: an ingest wave landing mid-rebuild raises
    * [[SnapshotTable.CommitConflictException]] (retry at the next tick)
    * instead of being silently erased from the index. */
  def maintain(spark: SparkSession, root: String, retrainShare: Double = 0.5,
               nCells: Int = 16, iters: Int = 5, sampleN: Int = 10000,
               seed: Long = 42L): Option[Long] = {
    val st = new SnapshotTable(spark, root)
    val hist = st.history()
      .select(col("version"), col("operation"), col("row_count"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
      .sortBy(_._1)
    require(hist.nonEmpty, s"no IVF index at $root — build() first")
    val baseRows = hist.filter(_._2 == "overwrite").last._3
    val totalRows = hist.last._3 // every data op logs its resulting total
    val rebuilt =
      if (baseRows <= 0 || (totalRows - baseRows).toDouble / baseRows < retrainShare)
        None
      else
        Some(rebuild(st.read().select(col("id"), col("vec")), root,
          "id", "vec", nCells, iters, sampleN, seed,
          expectedHead = Some(Some(hist.last._1))))
    // lifecycle GC folds into every maintenance tick: a retrain just created
    // a superseded assignment snapshot + an orphaned centroid generation,
    // and a PREVIOUS crashed rebuild may have left centroid debris — both
    // heal here; when nothing is dead the pass is metadata-only no-ops
    gc(spark, root)
    rebuilt
  }

  /** Lifecycle GC for the two-store index — without it the centroid store
    * accrues one generation per retrain FOREVER and every superseded
    * assignment snapshot's files stay on disk. Expires dead ASSIGNMENT
    * versions through the store's own reachability expiry (the standing
    * chain — last full build + its delta appends — always survives) and
    * drops every centroid generation the standing assignment does NOT
    * reference (retrain leftovers, crashed-rebuild debris). Serving is
    * untouched: [[topK]] loads centroids BY the standing generation, which
    * GC keeps by construction. Returns (centroid generations dropped,
    * assignment log entries expired). */
  def gc(spark: SparkSession, root: String): (Int, Int) = {
    val gen = standingGen(spark, root)
    val st = new SnapshotTable(spark, root)
    val expired = st.expireSnapshots(keep = 1).size
    val cst = new SnapshotTable(spark, centroidsRoot(root))
    val gens = cst.read().select("gen").distinct()
      .collect().map(_.getString(0))
    val dropped =
      if (gens.length <= 1) 0
      else {
        cst.commit(cst.read().filter(col("gen") === gen), op = "overwrite")
        cst.expireSnapshots(keep = 1)
        gens.count(_ != gen)
      }
    (dropped, expired)
  }
}
