package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two tiers:
  *  - `bruteForceTopK` — exact baseline. The *query* set broadcasts (it is
  *    small by construction); the corpus never shuffles — each partition
  *    scores its rows against the broadcast queries, then a single top-k
  *    window per query reduces. Correct at any corpus size; cost is
  *    O(|corpus| × |queries|).
  *  - `lshTopK` — scale path: random-hyperplane signatures, banded buckets,
  *    equi-join corpus↔queries on (band, bucket) so only same-bucket rows are
  *    scored. Recall tunable via bands/bits; candidates verified with exact
  *    cosine so returned similarities are true values.
  */
object Similarity {

  /** Exact top-k cosine neighbors for each query row. Output:
    * query_id, neighbor_id, sim (rounded to 6), rank (1-based). */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame,
                     idCol: String, vecCol: String, k: Int): DataFrame = {
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("__cv"))
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("__qv"))
    topKTail(c.join(broadcast(q), col("neighbor_id") =!= col("query_id")), k)
  }

  /** Shared serve tail of every top-k neighbor search: exact cosine per
    * (query, candidate) pair, then the k best per query via the BOUNDED
    * two-phase `topk_min` aggregate (r21; guide §2.3 "aggregate before you
    * shuffle"). The previous `row_number()` window shuffled and sorted a
    * query's ENTIRE candidate set into one reducer task — for a hot query
    * over a 100 TB corpus that is the q97 hot-source pathology. The
    * aggregate's map-side partial keeps ≤ k entries per partition, the
    * shuffle carries only those partials, the merge is O(k), and no Sort
    * operator appears in the plan at all.
    *
    * Rows are IDENTICAL to the window form: the ordering key
    * (-sim with nulls mapped to +∞, neighbor_id) ascending is exactly
    * (sim DESC NULLS LAST, neighbor_id ASC) — the window's order — the key
    * is total (neighbor_id is unique per query in every caller), and the
    * array is emitted ascending, so posexplode's position + 1 reproduces
    * row_number. The raw sim rides in the struct tail and is rounded on
    * output, exactly as before. */
  private[operators] def topKTail(cands: DataFrame, k: Int): DataFrame = {
    val sim = graft.functions.NativeVectorExpressions
      .cosineFast(col("__qv"), col("__cv"))
    val key = struct(
      coalesce(-sim, lit(Double.PositiveInfinity)).as("ns"),
      col("neighbor_id").as("nid"),
      sim.as("s"))
    cands
      .groupBy(col("query_id"))
      .agg(graft.functions.TopKAggregate.topKMin(key, k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")).as(Seq("__pos", "__t")))
      .select(col("query_id"), col("__t.nid").as("neighbor_id"),
        round(col("__t.s"), 6).as("sim"), (col("__pos") + 1).as("rank"))
  }

  /** LSH-bucketed approximate top-k. Same output shape as bruteForceTopK;
    * a query's result may have fewer than k rows if its buckets are sparse. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, dim: Int, nBits: Int = 16,
              bands: Int = 4, seed: Long = 42L): DataFrame = {
    val bitsOf = graft.functions.NativeVectorExpressions.hyperplaneBitsFast _
    def banded(df: DataFrame, idAs: String, vecAs: String): DataFrame =
      df.select(col(idCol).as(idAs), asDouble(col(vecCol)).as(vecAs),
          bitsOf(asDouble(col(vecCol)), dim, nBits, seed).as("__bits"))
        .select(col(idAs), col(vecAs),
          explode(bandBuckets(col("__bits"), nBits, bands)).as("__bb"))
        .select(col(idAs), col(vecAs), col("__bb.band"), col("__bb.bucket"))
    val c = banded(corpus, "neighbor_id", "__cv")
    val q = banded(queries, "query_id", "__qv")
    val cands = c.join(q, Seq("band", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("__qv"), col("__cv"))
      .dropDuplicates("query_id", "neighbor_id")
    topKTail(cands, k)
  }

  /** IVF (inverted-file) ANN: coarse k-means quantization + nprobe search.
    *
    * Training collects a bounded sample to the driver (standard IVF practice
    * — centroids are tiny and training is O(sample), not O(corpus)), runs a
    * few seeded Lloyd iterations, then broadcasts the centroid list as plan
    * literals. Corpus rows are assigned to their nearest centroid (one pass,
    * map-side); each query probes its `nprobe` nearest centroid cells and
    * scores only those rows — the O(n²)→O(n·nprobe/k) scale path, with
    * exact cosine re-scoring inside the probed cells.
    */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, idCol: String,
              vecCol: String, k: Int, nCells: Int = 16, nprobe: Int = 4,
              iters: Int = 5, sampleN: Int = 10000, seed: Long = 42L): DataFrame = {
    // nprobe >= nCells probes EVERY cell, so the coarse quantizer is
    // algebraically a no-op: each corpus row sits in exactly one cell and
    // each query probes all of them, so every (query, corpus) pair meets
    // exactly once — precisely the exact broadcast pass. Serve it directly
    // and skip the training-sample collect, the nCells×dim assignment dots
    // over the whole corpus, and the probe explode (r21; rows pinned
    // identical to the cell path by SimilaritySpec's no-shortcut compare).
    if (nprobe >= nCells)
      return bruteForceTopK(corpus, queries, idCol, vecCol, k)
    val centroids =
      trainCentroids(corpus, vecCol, nCells, iters, sampleN, seed)
    val c = corpus.select(col(idCol).as("neighbor_id"), asDouble(col(vecCol)).as("__cv"))
      .withColumn("cell", cellExpr(centroids)(col("__cv")))
    scoreProbed(c, queries, idCol, vecCol, k, nprobe, centroids)
  }

  /** Train IVF coarse centroids on a bounded driver-side sample
    * (deterministic; standard IVF practice — centroids are tiny and
    * training is O(sample), not O(corpus)). SPHERICAL k-means: sample
    * vectors are L2-normalized and centroid means are renormalized each
    * iteration, so Euclidean argmin during training and dot-product argmax
    * during assignment give the SAME partition (for unit centroids, argmax
    * dot ≡ argmax cosine ≡ argmin L2 on the sphere). Shared by the per-call
    * [[ivfTopK]] and the persisted [[IvfIndex]]. */
  private[operators] def trainCentroids(corpus: DataFrame, vecCol: String,
      nCells: Int, iters: Int, sampleN: Int, seed: Long): Array[Array[Double]] = {
    val sample = corpus.select(asDouble(col(vecCol))).limit(sampleN)
      .collect().map(_.getSeq[Double](0).toArray)
      .map(normalize).filter(_ != null)
    require(sample.nonEmpty, "IVF training: empty corpus")
    val rnd = new scala.util.Random(seed)
    var centroids = Array.tabulate(math.min(nCells, sample.length))(i =>
      sample(rnd.nextInt(sample.length)).clone())
    (0 until iters).foreach { _ =>
      val sums = Array.fill(centroids.length)(new Array[Double](sample.head.length))
      val counts = new Array[Int](centroids.length)
      sample.foreach { v =>
        val c = nearestCentroid(v, centroids)
        counts(c) += 1
        var i = 0; while (i < v.length) { sums(c)(i) += v(i); i += 1 }
      }
      centroids = centroids.indices.map { c =>
        if (counts(c) == 0) centroids(c)
        else Option(normalize(sums(c))).getOrElse(centroids(c))
      }.toArray
    }
    centroids
  }

  private def negDot(v: Column, cVec: Array[Double]): Column = {
    val dot = graft.functions.NativeVectorExpressions.dotFast _
    // ONE ArrayType literal per centroid, not dim separate lit() nodes under
    // a CreateArray: cellExpr/probeCellsExpr inline nCells × dim of these —
    // at 16×64 that was ~2k expression nodes per plan, paid in every
    // analysis/optimization pass of every IVF query (driver time, guide
    // §7.3). Same values, same kernel, identical results.
    -dot(v, typedlit(cVec.toSeq))
  }

  /** Cell-assignment expression: argmax dot with UNIT centroids (map-side,
    * centroids inlined as plan literals). Plain negated dot, no division:
    * the row's own norm is constant across centroids so the ordering equals
    * cosine ordering, and zero vectors tie at 0 and deterministically take
    * the lowest cell id. */
  private[operators] def cellExpr(centroids: Array[Array[Double]])(
      v: Column): Column = {
    val dists = centroids.zipWithIndex.map { case (cVec, i) =>
      struct(negDot(v, cVec).as("negsim"), lit(i).as("cell"))
    }
    array_min(array(dists: _*)).getField("cell")
  }

  /** The `nprobe` nearest cells per query vector (the nprobe largest dots). */
  private[operators] def probeCellsExpr(centroids: Array[Array[Double]],
      nprobe: Int)(v: Column): Column = {
    val dists = centroids.zipWithIndex.map { case (cVec, i) =>
      struct(negDot(v, cVec).as("negsim"), lit(i).as("cell"))
    }
    slice(transform(array_sort(array(dists: _*)), s => s.getField("cell")), 1, nprobe)
  }

  /** Score a cell-assigned corpus frame (`neighbor_id`, `__cv`, `cell`)
    * against each query's probed cells — the shared serve tail of
    * [[ivfTopK]] and [[IvfIndex.topK]]. */
  private[operators] def scoreProbed(assigned: DataFrame, queries: DataFrame,
      idCol: String, vecCol: String, k: Int, nprobe: Int,
      centroids: Array[Array[Double]],
      exactShortcut: Boolean = true): DataFrame = {
    // all cells probed ⇒ the cell equi-join degenerates to "every query
    // meets every candidate once": serve the already-pruned candidate set
    // directly against the BROADCAST (bounded-by-contract) query batch and
    // skip the probe explode + cell key (same shortcut as ivfTopK;
    // `exactShortcut = false` lets SimilaritySpec pin cell-path ≡ direct).
    if (exactShortcut && nprobe >= centroids.length) {
      val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("__qv"))
      return topKTail(assigned.select(col("neighbor_id"), col("__cv"))
        .join(broadcast(q), col("neighbor_id") =!= col("query_id")), k)
    }
    val q = queries.select(col(idCol).as("query_id"), asDouble(col(vecCol)).as("__qv"))
      .withColumn("cell",
        explode(probeCellsExpr(centroids, nprobe)(col("__qv"))))
    topKTail(assigned.join(q, Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select(col("query_id"), col("neighbor_id"), col("__qv"), col("__cv")), k)
  }

  /** L2-normalize; null for the zero vector. */
  private def normalize(v: Array[Double]): Array[Double] = {
    var n = 0.0; var i = 0
    while (i < v.length) { n += v(i) * v(i); i += 1 }
    if (n == 0.0) null
    else {
      val s = math.sqrt(n); val out = new Array[Double](v.length)
      i = 0; while (i < v.length) { out(i) = v(i) / s; i += 1 }
      out
    }
  }

  private def nearestCentroid(v: Array[Double], cs: Array[Array[Double]]): Int = {
    var best = 0; var bestD = Double.MaxValue
    var c = 0
    while (c < cs.length) {
      var d = 0.0; var i = 0
      while (i < v.length) { val x = v(i) - cs(c)(i); d += x * x; i += 1 }
      if (d < bestD) { bestD = d; best = c }
      c += 1
    }
    best
  }

  /** All pairs with cosine ≥ threshold — embedding-based near-duplicate
    * detection. Exact (cross-product within id order). Ground-truth /
    * spec-oracle form only: use `cosinePairsAboveBlocked` (exact, distributed)
    * or `cosinePairsAboveLsh` (subquadratic, high thresholds) in pipelines. */
  def cosinePairsAbove(df: DataFrame, idCol: String, vecCol: String,
                       threshold: Double): DataFrame = {
    val cos = graft.functions.NativeVectorExpressions.cosineFast _
    val a = df.select(col(idCol).as("id_a"), asDouble(col(vecCol)).as("__va"))
    val b = df.select(col(idCol).as("id_b"), asDouble(col(vecCol)).as("__vb"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("sim", cos(col("__va"), col("__vb")))
      .filter(col("sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("sim"))
  }

  /** Exact threshold-cosine self-join, distributed as a BLOCKED equi-join.
    *
    * An exact similarity join over dense vectors at a low threshold is
    * provably Ω(n²) comparisons in the worst case (no filter is admissible
    * when true pairs sit barely above the random-pair background, as in the
    * synthetic corpus where matches score 0.40–0.60 over a ~N(0, 1/√dim)
    * background) — so the scale lever is not skipping comparisons but
    * DISTRIBUTING them: rows are hashed into `blocks` buckets, the B·(B+1)/2
    * unordered block pairs become a broadcast-joined driver table, and the
    * pairwise compare is a shuffle EQUI-join on (i, j). Every unordered row
    * pair is compared exactly once (cross-block pairs once by construction,
    * diagonal blocks under id_a < id_b). No CartesianProduct / BNLJ: each
    * block pair is an independent ~(n/B)²-comparison task, partitions are
    * memory-bounded, AQE can split stragglers, and B scales with the cluster.
    * For thresholds high enough to band (≳0.8) use `cosinePairsAboveLsh`.
    */
  def cosinePairsAboveBlocked(df: DataFrame, idCol: String, vecCol: String,
                              threshold: Double, blocks: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val cos = graft.functions.NativeVectorExpressions.cosineFast _
    val blockPairs =
      (for { i <- 0 until blocks; j <- i until blocks } yield (i, j)).toDF("i", "j")
    val vecs = df.select(col(idCol).as("__id"), asDouble(col(vecCol)).as("__v"),
      pmod(hash(col(idCol)), lit(blocks)).as("__blk"))
    // a row in block p serves as the LEFT side of pairs (p, *) and the RIGHT
    // side of pairs (*, p); joining each expansion on its own block column
    // keys both sides by the composite (i, j)
    val ls = vecs.join(broadcast(blockPairs), col("__blk") === col("i"))
      .select(col("i"), col("j"), col("__id").as("id_a"), col("__v").as("__va"))
    val rs = vecs.join(broadcast(blockPairs), col("__blk") === col("j"))
      .select(col("i"), col("j"), col("__id").as("id_b"), col("__v").as("__vb"))
    ls.join(rs, Seq("i", "j"))
      .filter(col("i") =!= col("j") || col("id_a") < col("id_b"))
      .withColumn("__sim", cos(col("__va"), col("__vb")))
      .filter(col("__sim") >= threshold)
      .select(least(col("id_a"), col("id_b")).as("id_a"),
        greatest(col("id_a"), col("id_b")).as("id_b"),
        round(col("__sim"), 6).as("sim"))
  }

  /** Subquadratic near-duplicate pairs for HIGH thresholds: hyperplane-LSH
    * banded candidates (equi-join on (band, bucket), same machinery as
    * `lshTopK`) verified with exact cosine, so every returned pair is a true
    * ≥-threshold pair; recall depends on bands/bits vs the threshold
    * (probability a true pair shares a band is 1-(1-(1-θ/π)^r)^bands — at
    * cosine 0.9 with 16 bands of 4 bits a pair is missed with p≈4e-6). The
    * scale path for dedup-style corpora where matches are genuinely close;
    * for low thresholds exactness needs `cosinePairsAboveBlocked`. */
  def cosinePairsAboveLsh(df: DataFrame, idCol: String, vecCol: String,
                          threshold: Double, dim: Int, nBits: Int = 64,
                          bands: Int = 16, seed: Long = 42L): DataFrame = {
    val cos = graft.functions.NativeVectorExpressions.cosineFast _
    val bitsOf = graft.functions.NativeVectorExpressions.hyperplaneBitsFast _
    val banded = df
      .select(col(idCol).as("__id"), asDouble(col(vecCol)).as("__v"),
        bitsOf(asDouble(col(vecCol)), dim, nBits, seed).as("__bits"))
      .select(col("__id"), col("__v"),
        explode(bandBuckets(col("__bits"), nBits, bands)).as("__bb"))
      .select(col("__id"), col("__v"), col("__bb.band"), col("__bb.bucket"))
    val a = banded.select(col("band"), col("bucket"),
      col("__id").as("id_a"), col("__v").as("__va"))
    val b = banded.select(col("band"), col("bucket"),
      col("__id").as("id_b"), col("__v").as("__vb"))
    a.join(b, Seq("band", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("__sim", cos(col("__va"), col("__vb")))
      .filter(col("__sim") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("__sim"), 6).as("sim"))
  }
}
