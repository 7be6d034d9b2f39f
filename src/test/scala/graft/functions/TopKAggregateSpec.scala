package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Bounded top-K aggregate: the two-phase (partial → merge) serve path for
  * per-key capping, cross-checked against the window form it replaces. */
class TopKAggregateSpec extends SparkSpec {

  private def topk(e: org.apache.spark.sql.Column, k: Int) =
    TopKAggregate.topKMin(e, k)

  test("keeps the K smallest per group across many partitions, ascending") {
    // 40 input partitions force real partial buffers + a real merge phase
    val df = spark.range(0, 100000).repartition(40)
      .select((col("id") % 7).as("g"), ((col("id") * 2654435761L) % 100000).as("v"))
    val got = df.groupBy("g").agg(topk(col("v"), 5).as("top5"))
      .orderBy("g").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1))
    val expect = df.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.take(5).toSeq).toMap
    got.foreach { case (g, vs) => assert(vs === expect(g), s"group $g") }
  }

  test("k larger than the group returns the whole group sorted") {
    val df = spark.createDataFrame(Seq(("a", 3), ("a", 1), ("b", 9))).toDF("g", "v")
    val got = df.groupBy("g").agg(topk(col("v"), 10).as("t"))
      .orderBy("g").collect().map(_.getSeq[Int](1))
    assert(got.toSeq === Seq(Seq(1, 3), Seq(9)))
  }

  test("struct elements order lexicographically (the argmax-style packing)") {
    val df = spark.createDataFrame(Seq(
      ("x", "bb", 2L), ("x", "aa", 9L), ("x", "aa", 1L), ("x", "cc", 0L)
    )).toDF("g", "h", "id").repartition(3)
    val got = df.groupBy("g")
      .agg(topk(struct(col("h"), col("id")), 2).as("t"))
      .select(col("t")).head.getSeq[org.apache.spark.sql.Row](0)
    assert(got.map(r => (r.getString(0), r.getLong(1))) ===
      Seq(("aa", 1L), ("aa", 9L)))
  }

  test("nulls in the aggregated column are skipped") {
    val df = spark.createDataFrame(Seq(
      ("g", Some(5)), ("g", None), ("g", Some(2)))).toDF("g", "v")
    val got = df.groupBy("g").agg(topk(col("v"), 3).as("t"))
      .head.getSeq[Int](1)
    assert(got === Seq(2, 5))
  }

  test("topKMin matches the row_number window form on lineitem") {
    import org.apache.spark.sql.expressions.Window
    val li = sf("lineitem")
    val viaAgg = li.groupBy("l_returnflag")
      .agg(topk(col("l_extendedprice"), 3).as("t"))
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getSeq[java.math.BigDecimal](1)))
    val viaWindow = li
      .withColumn("rn", row_number().over(
        Window.partitionBy("l_returnflag").orderBy("l_extendedprice")))
      .filter(col("rn") <= 3)
      .groupBy("l_returnflag").agg(collect_list("l_extendedprice").as("t"))
      .orderBy("l_returnflag")
      .collect().map(r => (r.getString(0), r.getSeq[java.math.BigDecimal](1).sorted))
    assert(viaAgg.map(_._1).toSeq === viaWindow.map(_._1).toSeq)
    viaAgg.zip(viaWindow).foreach { case ((g, a), (_, w)) =>
      assert(a.toSeq === w.toSeq, s"group $g")
    }
  }

  test("the plan is two-phase aggregation — no window, partial state bounded") {
    val df = sf("documents").groupBy("source")
      .agg(topk(struct(md5(col("text")), col("doc_id")), 10).as("kept"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), s"topk plan grew a window:\n$plan")
    assert(plan.contains("ObjectHashAggregate") && plan.contains("partial_topk_min"),
      s"topk not a two-phase object aggregate:\n$plan")
  }
}
