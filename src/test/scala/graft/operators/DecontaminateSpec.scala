package graft.operators

import graft.SparkSpec

class DecontaminateSpec extends SparkSpec {

  test("overlapReport flags eval docs sharing an n-gram, skips clean ones") {
    import spark.implicits._
    val train = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different training content here now")).toDF("id", "text")
    val eval = Seq(
      // shares the 5-gram "quick brown fox jumps over" (and more) with doc 1
      (10L, "a quick brown fox jumps over fences"),
      // clean: no 5-token run in common with any train doc
      (11L, "nothing in common with anything above at all")).toDF("id", "text")
    val out = Decontaminate.overlapReport(train, eval, "id", "text", n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.toSeq === Seq((10L, 1L, 1L)))
  }

  test("overlapReport counts multiple leaking train docs and shingles") {
    import spark.implicits._
    val train = Seq(
      (1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "omega alpha beta gamma delta epsilon")).toDF("id", "text")
    // contains "alpha beta gamma delta epsilon" (in both train docs) and
    // "beta gamma delta epsilon zeta" (train doc 1 only)
    val eval = Seq((10L, "alpha beta gamma delta epsilon zeta")).toDF("id", "text")
    val Array((d, nTrain, nSh)) = Decontaminate.overlapReport(train, eval, "id", "text", n = 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(d === 10L && nTrain === 2L && nSh === 2L)
  }

  test("short documents (< n tokens) produce no shingles and never match") {
    import spark.implicits._
    val train = Seq((1L, "tiny doc")).toDF("id", "text")
    val eval = Seq((10L, "tiny doc")).toDF("id", "text")
    assert(Decontaminate.overlapReport(train, eval, "id", "text", n = 5).count() === 0L)
  }

  test("overlapReportBloom is result-identical to overlapReport on real docs") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val train = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 5 =!= 0)
    val eval = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 5 === 0)
    val plain = Decontaminate.overlapReport(train, eval, "doc_id", "text", n = 3)
    val bloom = Decontaminate.overlapReportBloom(train, eval, "doc_id", "text", n = 3)
    assert(plain.count() > 0, "fixture must produce some overlap")
    assert(bloom.exceptAll(plain).isEmpty && plain.exceptAll(bloom).isEmpty)
  }

  test("overlapReportBloom plan probes the Bloom filter below the join") {
    import spark.implicits._
    val train = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("id", "text")
    val eval = Seq((10L, "alpha beta gamma delta epsilon zeta")).toDF("id", "text")
    val out = Decontaminate.overlapReportBloom(train, eval, "id", "text", n = 5)
    val plan = out.queryExecution.executedPlan.toString
    assert(plan.contains("graft_bloom_probe"),
      s"expected a graft_bloom_probe pre-filter in the physical plan:\n$plan")
    // the serialized filter must NOT ride the plan as an embedded literal
    // (reference-object contract, BloomFunctions.BloomProbe): a 1 MB filter
    // would otherwise reappear in every plan string / task binary
    assert(plan.length < 100000,
      s"plan unexpectedly large (${plan.length} chars) — filter bytes inlined?")
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      === Seq((10L, 1L, 2L)))
  }

  test("overlapReportBloom with an empty eval corpus returns no rows") {
    import spark.implicits._
    val train = Seq((1L, "alpha beta gamma delta epsilon zeta")).toDF("id", "text")
    val eval = Seq.empty[(Long, String)].toDF("id", "text")
    assert(Decontaminate.overlapReportBloom(train, eval, "id", "text").count() === 0L)
  }

  test("standing filter: reloaded filter yields the identical report") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(org.apache.spark.sql.functions.col("doc_id"),
        org.apache.spark.sql.functions.col("text"))
    val train = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 5 =!= 0)
    val eval = docs.filter(org.apache.spark.sql.functions.col("doc_id") % 5 === 0)
    val dir = java.nio.file.Files.createTempDirectory("bloom_store")
      .toFile.getAbsolutePath

    // first call builds + commits; it must equal the build-per-run path
    val built = Decontaminate.standingEvalFilter(spark, dir, "v1", eval,
      "doc_id", "text", n = 3)
    assert(built.isDefined, "eval corpus must yield shingles")
    val fresh = Decontaminate.overlapReportBloom(train, eval,
      "doc_id", "text", n = 3)

    // the reloaded bytes are the committed ones, NOT a rebuild: feeding a
    // poisoned eval df proves the eval scan is skipped entirely
    import spark.implicits._
    val poisoned = Seq((-1L, "should never be scanned")).toDF("doc_id", "text")
    val reloaded = Decontaminate.standingEvalFilter(spark, dir, "v1", poisoned,
      "doc_id", "text", n = 3)
    assert(reloaded.get.sameElements(built.get))

    val viaReloaded = Decontaminate.overlapReportWithFilter(train, eval,
      "doc_id", "text", 3, reloaded)
    assert(fresh.count() > 0, "fixture must produce overlap")
    assert(viaReloaded.exceptAll(fresh).isEmpty && fresh.exceptAll(viaReloaded).isEmpty)

    // a NEW eval version rebuilds; the empty-eval sentinel round-trips
    val emptyEval = Seq.empty[(Long, String)].toDF("doc_id", "text")
    val v2 = Decontaminate.standingEvalFilter(spark, dir, "v2", emptyEval,
      "doc_id", "text", n = 3)
    assert(v2 === None)
    assert(Decontaminate.loadEvalFilter(spark, dir, "v2") === Some(None))
  }

  test("semantic report: oversized eval trips the guard and the blocked fallback is report-identical") {
    val em = graft.Tables(spark, graft.SparkSpec.sfDir, "embeddings")
    val train = em.filter(Sampling.splitBucket(
      org.apache.spark.sql.functions.col("vec_id")) < 80)
    val eval = em.filter(Sampling.splitBucket(
      org.apache.spark.sql.functions.col("vec_id")) >= 80)

    def planOf(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.executedPlan.toString
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(_.toString).sorted.toSeq

    // default path: eval broadcasts (the q98 plan shape)
    val viaBroadcast =
      Decontaminate.semanticOverlapReport(train, eval, "vec_id", "embedding", 0.4)
    assert(planOf(viaBroadcast).contains("BroadcastNestedLoopJoin"))

    // guard trips: same eval now "oversized" via a tiny threshold — the
    // compare must degrade to the blocked equi-join (no broadcast of eval,
    // no cartesian), not OOM, and the report must be identical
    val viaBlocked = Decontaminate.semanticOverlapReport(
      train, eval, "vec_id", "embedding", 0.4,
      maxBroadcastEvalRows = 3, fallbackBuckets = 8)
    val p = planOf(viaBlocked)
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"oversized eval still broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"fallback went cartesian:\n$p")
    assert(rows(viaBlocked) === rows(viaBroadcast))
  }
}
