package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.VectorFunctions._

class SimilaritySpec extends SparkSpec {

  test("cosine matches hand-computed values") {
    import spark.implicits._
    val df = Seq((Seq(1.0f, 0.0f), Seq(0.0f, 1.0f)),
      (Seq(1.0f, 1.0f), Seq(1.0f, 1.0f)),
      (Seq(1.0f, 0.0f), Seq(-1.0f, 0.0f))).toDF("a", "b")
    val out = df.select(cosine(asDouble(col("a")), asDouble(col("b")))).as[Double].collect()
    assert(math.abs(out(0) - 0.0) < 1e-12)
    assert(math.abs(out(1) - 1.0) < 1e-12)
    assert(math.abs(out(2) + 1.0) < 1e-12)
  }

  test("bruteForceTopK returns k ranked neighbors excluding self") {
    val e = sf("embeddings")
    val out = Similarity.bruteForceTopK(e, e.filter(col("vec_id") < 3), "vec_id", "embedding", 5)
    val rows = out.collect()
    assert(rows.length === 15)
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    // ranks are 1..5 per query and sims are non-increasing within a query
    val byQ = rows.groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      val sorted = rs.sortBy(_.getInt(3))
      assert(sorted.map(_.getInt(3)).toSeq === (1 to 5))
      val sims = sorted.map(_.getDouble(2))
      assert(sims.zip(sims.tail).forall { case (a, b) => a >= b })
    }
  }

  test("lshTopK achieves reasonable recall against the exact baseline") {
    val e = sf("embeddings")
    val q = e.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val approx = Similarity.lshTopK(e, q, "vec_id", "embedding", 5, dim = 64,
      nBits = 16, bands = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.5, s"LSH recall $recall too low")
  }

  test("cosinePairsAbove is symmetric-free (a<b) and thresholded") {
    val out = Similarity.cosinePairsAbove(sf("embeddings"), "vec_id", "embedding", 0.3)
    val rows = out.collect()
    assert(rows.forall(r => r.getLong(0) < r.getLong(1)))
    assert(rows.forall(r => r.getDouble(2) >= 0.3))
  }

  test("cosinePairsAboveBlocked equals the all-pairs ground truth, with no cartesian") {
    val e = sf("embeddings")
    def asSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val truth = asSet(Similarity.cosinePairsAbove(e, "vec_id", "embedding", 0.4))
    val blocked = Similarity.cosinePairsAboveBlocked(e, "vec_id", "embedding", 0.4, blocks = 8)
    assert(asSet(blocked) === truth)
    val plan = blocked.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"blocked pair join must be an equi-join:\n$plan")
    // every unordered pair compared exactly once: a 1-block degenerate run
    // (pure diagonal) and a many-block run agree too
    assert(asSet(Similarity.cosinePairsAboveBlocked(e, "vec_id", "embedding", 0.4, blocks = 1)) === truth)
  }

  test("cosinePairsAboveLsh finds all high-threshold pairs (verified candidates)") {
    import spark.implicits._
    // synthetic corpus with seeded near-duplicates (cosine ≳ 0.97): base
    // vectors are deterministic pseudo-random; each dup adds a tiny offset
    val rnd = new scala.util.Random(7)
    val dim = 32
    val base = (0L until 200L).map { i =>
      (i, Seq.fill(dim)(rnd.nextGaussian().toFloat))
    }
    val dups = (0L until 40L).map { i =>
      val (_, v) = base(i.toInt)
      (1000L + i, v.map(x => x + 0.05f * rnd.nextGaussian().toFloat))
    }
    val df = (base ++ dups).toDF("vec_id", "embedding")
    def pairsOf(d: org.apache.spark.sql.DataFrame) =
      d.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = pairsOf(Similarity.cosinePairsAbove(df, "vec_id", "embedding", 0.9))
    assert(truth.size >= 40, s"fixture should seed ≥40 true pairs, got ${truth.size}")
    val lsh = Similarity.cosinePairsAboveLsh(df, "vec_id", "embedding", 0.9,
      dim = dim, nBits = 64, bands = 16)
    val got = pairsOf(lsh)
    // verified candidates → no false positives; banding at 0.9 → full recall here
    assert(got.subsetOf(truth), s"false positives: ${got.diff(truth)}")
    val recall = (got & truth).size.toDouble / truth.size
    assert(recall === 1.0, s"LSH pair recall $recall < 1.0 on a 0.97-sim corpus")
  }

  test("ivfTopK achieves reasonable recall and exact sims within probed cells") {
    val e = sf("embeddings")
    val q = e.filter(col("vec_id") < 20)
    val exact = Similarity.bruteForceTopK(e, q, "vec_id", "embedding", 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = Similarity.ivfTopK(e, q, "vec_id", "embedding", k = 5,
      nCells = 8, nprobe = 4)
    val rows = ivf.collect()
    assert(rows.forall(r => r.getLong(0) != r.getLong(1)))
    val approx = rows.map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"IVF recall $recall too low")
    // probing all cells = exact search. ivfTopK(nprobe = nCells) now serves
    // this directly via the exact shortcut, so pin the CELL PATH explicitly
    // (exactShortcut = false): cell assignment + probe-all join must still
    // reproduce brute force — the equivalence the shortcut relies on.
    import graft.functions.VectorFunctions.asDouble
    val centroids = Similarity.trainCentroids(e, "embedding", 8, 5, 10000, 42L)
    val assigned = e.select(col("vec_id").as("neighbor_id"),
        asDouble(col("embedding")).as("__cv"))
      .withColumn("cell", Similarity.cellExpr(centroids)(col("__cv")))
    val cellPath = Similarity.scoreProbed(assigned, q, "vec_id", "embedding",
      k = 5, nprobe = 8, centroids, exactShortcut = false)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(cellPath === exact)
    // and the shortcut serve returns the same set
    val full = Similarity.ivfTopK(e, q, "vec_id", "embedding", k = 5,
      nCells = 8, nprobe = 8)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(full === exact)
  }
}
