package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Edge cases for the native kernels: nulls, empty arrays, length
  * mismatches, and agreement with the declarative HOF formulations. */
class NativeExpressionsSpec extends SparkSpec {

  test("vec_cosine: agrees with HOF cosine bit-for-bit on real embeddings") {
    import VectorFunctions._
    val e = sf("embeddings").limit(50)
      .select(asDouble(col("embedding")).as("v"))
    val paired = e.withColumn("w", reverse(col("v")))
    val rows = paired.select(
      cosine(col("v"), col("w")).as("hof"),
      NativeVectorExpressions.cosineFast(col("v"), col("w")).as("native")).collect()
    rows.foreach(r => assert(r.getDouble(0) === r.getDouble(1)))
  }

  test("vec_cosine: null input → null, zero vector → null, length mismatch → min-length prefix") {
    import spark.implicits._
    val df = Seq(
      (Some(Seq(1.0, 2.0)), Some(Seq(1.0, 2.0))),
      (None, Some(Seq(1.0, 2.0))),
      (Some(Seq(0.0, 0.0)), Some(Seq(1.0, 2.0))),
      (Some(Seq(1.0, 0.0, 5.0)), Some(Seq(1.0, 0.0)))).toDF("a", "b")
    val out = df.select(NativeVectorExpressions.cosineFast(col("a"), col("b"))).collect()
    assert(math.abs(out(0).getDouble(0) - 1.0) < 1e-12)
    assert(out(1).isNullAt(0))
    assert(out(2).isNullAt(0))           // zero norm guarded
    assert(math.abs(out(3).getDouble(0) - 1.0) < 1e-12) // prefix [1,0]·[1,0]
  }

  test("shingle_hashes: empty and short strings yield empty arrays; dedup within doc") {
    import spark.implicits._
    val df = Seq("", "one two", "a b c a b c a b c").toDF("t")
      .select(NativeTextExpressions.shingleHashes(col("t"), 3).as("h"))
    val out = df.collect().map(_.getSeq[Long](0))
    assert(out(0).isEmpty)
    assert(out(1).isEmpty)               // 2 tokens < n=3
    // 7 raw 3-grams but only 3 distinct ("a b c","b c a","c a b")
    assert(out(2).length === 3)
  }

  test("minhash_sig: empty shingle set → sentinel signature; deterministic across calls") {
    import spark.implicits._
    import NativeTextExpressions.minhashSig
    val df = Seq((Seq.empty[Long], Seq(42L, 7L))).toDF("e", "h")
      .select(minhashSig(col("e"), 8, 42L).as("se"), minhashSig(col("h"), 8, 42L).as("sh"),
        minhashSig(col("h"), 8, 42L).as("sh2"))
    val r = df.head
    assert(r.getSeq[Long](0).forall(_ == 2147483647L))
    assert(r.getSeq[Long](1) === r.getSeq[Long](2))
  }

  test("long_set_jaccard agrees with the declarative string-set jaccard") {
    import spark.implicits._
    val df = Seq((Seq(1L, 2L, 3L), Seq(2L, 3L, 4L)),
      (Seq(1L, 1L, 2L), Seq(1L, 2L, 2L)),   // duplicates inside inputs
      (Seq.empty[Long], Seq.empty[Long])).toDF("x", "y")
    val out = df.select(NativeTextExpressions.longSetJaccard(col("x"), col("y")))
      .as[Double].collect()
    assert(out(0) === 0.5)
    assert(out(1) === 1.0)
    assert(out(2) === 0.0)
  }

  test("hyperplane_bits: native kernel is bit-identical to the HOF formulation") {
    import graft.functions.VectorFunctions
    val e = sf("embeddings").limit(100)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val both = e.select(
      NativeVectorExpressions.hyperplaneBitsFast(col("v"), 64, 64, 42L).as("native"),
      VectorFunctions.hyperplaneBits(col("v"), 64, 64, 42L).as("hof"))
    assert(both.filter(col("native") =!= col("hof")).count() === 0)
    // and nBits < 64 variants agree too
    val both16 = e.select(
      NativeVectorExpressions.hyperplaneBitsFast(col("v"), 64, 16, 7L).as("native"),
      VectorFunctions.hyperplaneBits(col("v"), 64, 16, 7L).as("hof"))
    assert(both16.filter(col("native") =!= col("hof")).count() === 0)
  }

  test("kernel columns built under one session evaluate in a never-active new session") {
    // A kernel column must carry its expression, not a name that only the
    // building session's registry resolves: build every kernel family while
    // session A is active, then evaluate on frames of A.newSession(), which
    // is never made active, and expect A's rows.
    import org.apache.spark.sql.{Row, SparkSession}
    val a = spark
    SparkSession.setActiveSession(a)
    val lang = TextFunctions.langId(col("text")).as("lang")
    val quality = TextFunctions.qualityScore(col("text")).as("quality")
    val sh = TextFunctions.textShingles(col("text"), 2).as("sh")
    val cos = NativeVectorExpressions.cosineFast(col("v"), col("w")).as("cos")
    val top = TopKAggregate.topKMin(col("doc_id"), 3).as("top")
    def rows(s: SparkSession): Seq[Seq[Row]] = {
      val docs = graft.Tables(s, graft.SparkSpec.sfDir, "documents")
      val vecs = graft.Tables(s, graft.SparkSpec.sfDir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
        .withColumn("w", reverse(col("v")))
      Seq(
        docs.select(col("doc_id"), lang, quality, sh).orderBy("doc_id").collect().toSeq,
        vecs.select(col("vec_id"), cos).orderBy("vec_id").collect().toSeq,
        docs.groupBy("source").agg(top).orderBy("source").collect().toSeq)
    }
    val underA = rows(a)
    val b = a.newSession()
    val underB = rows(b)
    assert(SparkSession.getActiveSession.contains(a), "B must never become active")
    assert(underA.forall(_.nonEmpty))
    underA.zip(underB).foreach { case (x, y) => assert(y === x) }
  }
}
