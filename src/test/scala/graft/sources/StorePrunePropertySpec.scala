package graft.sources

import java.nio.file.{Files => JFiles}

import org.apache.spark.sql.{Column, Row}
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Property tests for the snapshot store's file pruning, the mirror of
  * [[IcebergPrunePropertySpec]]: over random partition specs (identity and
  * every transform, with one partition-spec evolution between two commits)
  * and random predicates (Or, IN, `!=`, null tests, decimal and cross-type
  * date/timestamp literals), both prune paths — the eager [[SnapshotTable
  * #readWhere]] and the lazy manifest file index behind `read().filter` —
  * must return exactly the rows the same filter keeps over the collected,
  * unpruned table. */
class StorePrunePropertySpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val specGen: Gen[Seq[String]] = Gen.oneOf(
    Seq("days(ts)"), Seq("months(ts)"), Seq("years(ts)"), Seq("hours(ts)"),
    Seq("bucket(3, id)"), Seq("truncate(2, s)"), Seq("truncate(10, id)"),
    Seq("s"), Seq("months(ts)", "bucket(3, id)"),
    Seq("s", "truncate(10, id)"), Nil)

  private val day0 = java.time.LocalDate.of(2023, 1, 1)

  private val leafGen: Gen[Column] = {
    val ops = Gen.oneOf("=", "!=", "<", "<=", ">", ">=", "in")
    for {
      c <- Gen.oneOf("id", "d", "ts", "s", "maybe", "amt")
      op <- if (c == "maybe") Gen.oneOf("isnull", "notnull") else ops
      vg = c match {
        case "id" => Gen.chooseNum(-5L, 45L).map(x => x: Any)
        // decimal literals at scales 1 and 3 against the scale-2 column
        case "amt" => Gen.chooseNum(-1200L, 1700L).flatMap(n =>
          Gen.oneOf(java.math.BigDecimal.valueOf(n, 1),
            java.math.BigDecimal.valueOf(n * 10 + 7, 3)).map(x => x: Any))
        // date literals against the timestamp column and timestamp
        // literals against the date column ride along
        case "d" | "ts" => Gen.chooseNum(0, 25 * 24).flatMap(h =>
          Gen.oneOf[Any](
            java.sql.Date.valueOf(day0.plusDays(h / 24L)),
            java.sql.Timestamp.valueOf(day0.atStartOfDay.plusHours(h.toLong))))
        case "s" => Gen.oneOf("aa", "ab", "ba", "bz", "ca").map(x => x: Any)
        case _ => Gen.const(null: Any)
      }
      v <- if (op == "in") Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, vg))
        else vg
    } yield {
      val x = col(c)
      op match {
        case "isnull" => x.isNull
        case "notnull" => x.isNotNull
        case "in" => x.isin(v.asInstanceOf[Seq[Any]]: _*)
        case "=" => x === lit(v)
        case "!=" => x =!= lit(v)
        case "<" => x < lit(v)
        case "<=" => x <= lit(v)
        case ">" => x > lit(v)
        case ">=" => x >= lit(v)
      }
    }
  }

  private val predGen: Gen[Column] = for {
    a <- leafGen
    b <- leafGen
    shape <- Gen.oneOf("and", "or", "leaf")
  } yield shape match {
    case "and" => a && b
    case "or" => a || b
    case _ => a
  }

  test("property: readWhere(p) == read().filter(p) == the filter over the " +
      "collected table, across random specs, one spec evolution and random " +
      "predicates") {
    import spark.implicits._
    val rows = Seq.tabulate(40) { i =>
      (i.toLong,
        java.sql.Date.valueOf(day0.plusDays(i * 7L % 23)),
        java.sql.Timestamp.valueOf(day0.atStartOfDay
          .plusDays(i * 11L % 19).plusHours(i % 3 * 5L)),
        Seq("aa", "ab", "ba", "bz", "ca")(i % 5),
        if (i % 4 == 0) null else s"m$i")
    }
    val df = rows.toDF("id", "d", "ts", "s", "maybe")
      .withColumn("amt",
        ((col("id") * lit(37) - lit(700)) / lit(8.0)).cast("decimal(12,2)"))

    val layouts = samples(Gen.zip(specGen, specGen), 6)
    val preds = samples(predGen, 36)
    var pruned = 0
    preds.grouped(6).toSeq.zip(layouts).foreach { case (ps, (specA, specB)) =>
      val root = JFiles.createTempDirectory("storeprop").toFile.getAbsolutePath
      val t = new SnapshotTable(spark, root)
      val first = df.filter(col("id") % 2 === 0).repartition(2)
      if (specA.isEmpty) t.commit(first) else t.commitPartitioned(first, specA)
      t.evolvePartition(specB)
      t.commit(df.filter(col("id") % 2 === 1).repartition(2), op = "append")
      val all = t.read()
      val collected = spark.createDataFrame(
        java.util.Arrays.asList(all.collect(): _*), all.schema)
      ps.foreach { p =>
        def ids(d: org.apache.spark.sql.DataFrame) =
          d.select("id").as[Long].collect().sorted.toSeq
        val want = ids(collected.filter(p))
        val got = ids(t.readWhere(p))
        val (kept, total) = t.lastPruneStats
        assert(kept <= total, s"kept $kept of $total")
        if (kept < total) pruned += 1
        assert(got === want, s"readWhere unsound for specs=($specA, $specB) " +
          s"pred=$p (kept $kept/$total)")
        assert(ids(t.read().filter(p)) === want,
          s"read().filter unsound for specs=($specA, $specB) pred=$p")
      }
    }
    assert(pruned > 5, s"pruning fired only $pruned times")
  }
}
