package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.ops.RelationalOps._
import graft.operators.Dedup

/** Property tests (SURVEY.md §5 test plan): algebraic invariants checked
  * over ScalaCheck-generated inputs (sampled with fixed seeds — runs are
  * deterministic; Spark job count bounded by the sample count).
  */
class PropertySpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("property: dedup is idempotent and keeps exactly one row per key") {
    import spark.implicits._
    val gen = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(1, 5), Gen.choose(0, 100), Gen.alphaStr.map(_.take(4))))
    samples(gen, 8).foreach { rows =>
      val df = rows.toDF("k", "v", "tag")
      val order = Seq(col("v").desc, col("tag").desc)
      val once = dedupKeepLatest(df, Seq("k"), order)
      val twice = dedupKeepLatest(once, Seq("k"), order)
      val o = once.collect().toSet
      assert(o === twice.collect().toSet)
      assert(o.size === rows.map(_._1).distinct.size)
    }
  }

  test("property: rate is always within [0,1]") {
    import spark.implicits._
    val gen = Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 3), Gen.oneOf(true, false)))
    samples(gen, 8).foreach { rows =>
      val r = rows.toDF("g", "f").groupBy(col("g")).agg(rate(col("f")).as("r"))
        .select("r").as[Double].collect()
      assert(r.forall(x => x >= 0.0 && x <= 1.0))
    }
  }

  test("property: jaccard symmetric, within [0,1], and 1 iff equal sets") {
    import spark.implicits._
    val strList = Gen.listOfN(6, Gen.oneOf("a", "b", "c", "d", "e"))
    samples(Gen.zip(strList, strList), 10).foreach { case (xs, ys) =>
      val df = Seq((xs, ys)).toDF("x", "y")
      val Array(j1, j2) = df.select(
        Dedup.jaccard(col("x"), col("y")), Dedup.jaccard(col("y"), col("x")))
        .head.toSeq.map(_.asInstanceOf[Double]).toArray
      assert(math.abs(j1 - j2) < 1e-12)
      assert(j1 >= 0.0 && j1 <= 1.0)
      if (xs.toSet == ys.toSet && xs.nonEmpty) assert(j1 === 1.0)
    }
  }

  test("property: native minhash signature slots only decrease when shingles are added") {
    import graft.functions.NativeTextExpressions.minhashSig
    import spark.implicits._
    val gen = Gen.nonEmptyListOf(Gen.choose(1L, 1000000L))
    samples(gen, 8).foreach { hashes =>
      val df = Seq((hashes, hashes ++ hashes.map(_ + 7))).toDF("a", "b")
        .select(minhashSig(col("a"), 16, 42L).as("sa"),
          minhashSig(col("b"), 16, 42L).as("sb"))
      val row = df.head
      val sa = row.getSeq[Long](0); val sb = row.getSeq[Long](1)
      assert(sa.zip(sb).forall { case (x, y) => y <= x })
    }
  }

  test("property: connectedComponents equals driver-side union-find on random graphs") {
    import spark.implicits._
    val edgeGen = Gen.nonEmptyListOf(
      Gen.zip(Gen.choose(0L, 20L), Gen.choose(0L, 20L))).map(_.filter(e => e._1 != e._2))
    samples(edgeGen, 8).filter(_.nonEmpty).foreach { edges =>
      // reference: textbook union-find with min-label components
      val parent = scala.collection.mutable.Map.empty[Long, Long]
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
      }
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      // union-find roots are not necessarily the component minimum; reduce
      val byRoot = nodes.groupBy(find).flatMap { case (_, ns) =>
        val m = ns.min; ns.map(_ -> m)
      }
      val got = Dedup.connectedComponents(edges.toDF("a", "b"), "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got === byRoot, s"edges=$edges")
    }
  }

  test("property: asofJoin equals the naive latest-at-or-before reference") {
    import spark.implicits._
    val leftGen = Gen.listOfN(6, Gen.zip(Gen.choose(1, 3), Gen.choose(0L, 30L)))
    val rightGen = Gen.listOfN(6, Gen.zip(Gen.choose(1, 3), Gen.choose(0L, 30L),
      Gen.choose(0.0, 9.0)))
    samples(Gen.zip(leftGen, rightGen), 10).foreach { case (ls, rs) =>
      // unique right (key, ts) so the match is well-defined without tiebreaks
      val rsu = rs.groupBy(t => (t._1, t._2)).values.map(_.head).toSeq
      val left = ls.zipWithIndex.map { case ((k, t), i) => (i.toLong, k, t) }
        .toDF("id", "k", "t")
      val right = rsu.toDF("k", "t", "v")
      val got = asofJoin(left, right, Seq("k"), "t", "t", Seq("v"))
        .collect().map(r => r.getLong(0) ->
          (Option(r.get(3)).map(_ => r.getLong(3)),
            Option(r.get(4)).map(_ => r.getDouble(4)))).toMap
      ls.zipWithIndex.foreach { case ((k, t), i) =>
        val expect = rsu.filter(r => r._1 == k && r._2 <= t)
          .sortBy(_._2).lastOption
        assert(got(i.toLong) === ((expect.map(_._2), expect.map(_._3))),
          s"left=($k,$t) right=$rsu")
      }
    }
  }

  test("property: hidden-partition pruning never changes results (soundness)") {
    // The optimizer rule derives day-granularity bounds; for ANY comparison
    // shape and bound, the pruned result must equal the same filter over an
    // unpartitioned copy of the identical data.
    import spark.implicits._
    val rows = samples(Gen.zip(Gen.choose(1, 28), Gen.choose(0, 23)), 40)
      .zipWithIndex.map { case ((day, hour), i) =>
        (i.toLong, java.sql.Timestamp.valueOf(f"2025-03-$day%02d $hour%02d:30:00"))
      }
    val df = rows.toDF("id", "ts")
    graft.sources.Catalog.ctasDayPartitioned(spark, "prop_hidden_day", df, "ts")
    try {
      val partitioned = spark.table("prop_hidden_day")
      val bounds = Seq("2025-03-05 11:00:00", "2025-03-14 00:00:00", "2025-03-27 23:59:59")
      val preds = for {
        b <- bounds
        p <- Seq(col("ts") >= b, col("ts") > b, col("ts") <= b, col("ts") < b,
          col("ts") === rows.head._2, col("ts") >= bounds(0) && col("ts") < bounds(1))
      } yield p
      preds.foreach { p =>
        val pruned = partitioned.filter(p).select("id").as[Long].collect().sorted.toSeq
        val plain = df.filter(p).select("id").as[Long].collect().sorted.toSeq
        assert(pruned === plain, s"pruning changed results for predicate $p")
      }
    } finally spark.sql("DROP TABLE IF EXISTS prop_hidden_day")
  }

  test("property: distributed greedy packing equals the sequential definition") {
    import graft.operators.Packing
    import spark.implicits._
    // random (shard, doc, tokens) corpora incl. oversized docs (tok > budget)
    val gen = Gen.zip(
      Gen.choose(20L, 200L), // budget
      Gen.nonEmptyListOf(Gen.zip(Gen.choose(0L, 3L), Gen.choose(1L, 250L))))
    samples(gen, 8).foreach { case (budget, rows) =>
      val data = rows.zipWithIndex.map { case ((shard, tok), i) => (shard, i.toLong, tok) }
      val got = Packing
        .packGreedy(data.toDF("shard", "doc_id", "n_tokens"),
          col("doc_id"), col("n_tokens"), col("shard"), budget)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(3)).toMap
      val want = data.groupBy(_._1).flatMap { case (shard, grp) =>
        var acc = 0L; var pack = 0L
        grp.sortBy(_._2).map { case (_, id, tok) =>
          if (acc > 0 && acc + tok > budget) { pack += 1; acc = 0L }
          acc += tok
          (shard, id) -> pack
        }
      }
      assert(got === want, s"budget=$budget rows=$data")
    }
  }
}
