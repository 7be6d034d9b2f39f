package graft.sources

import java.nio.file.{Files => JFiles}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType, TimestampType}
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

/** Property tests for the Iceberg read path's file pruning: over random
  * data, random partition specs from the FULL transform family, and random
  * predicates, `readTable(preds)` must equal `readTable().filter(preds)`
  * EXACTLY — pruning (partition tuples, transform derivation, column
  * bounds, null metrics) may only skip files that cannot hold a matching
  * row. A single dropped row here is the corruption class data skipping
  * can introduce silently, so this is the soundness pin for the whole
  * transform/bounds/metrics stack. */
class IcebergPrunePropertySpec extends SparkSpec {

  private def samples[T](g: Gen[T], n: Int): Seq[T] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(i.toLong)))

  private val specGen: Gen[Seq[String]] = Gen.oneOf(
    Seq("days(ts)"), Seq("months(d)"), Seq("years(d)"), Seq("hours(ts)"),
    Seq("bucket(3, id)"), Seq("truncate(2, s)"), Seq("truncate(10, id)"),
    Seq("s"), Seq("months(d)", "bucket(2, id)"),
    Seq("years(d)", "truncate(3, s)"), Nil)

  private case class P(column: String, op: String, value: Any)

  private val predGen: Gen[Seq[P]] = {
    val ops = Gen.oneOf("=", "!=", "<", "<=", ">", ">=", "in")
    val one = for {
      col <- Gen.oneOf("id", "d", "ts", "s", "maybe", "amt")
      op <- if (col == "maybe") Gen.oneOf("isnull", "notnull") else ops
      vg = col match {
        case "id" => Gen.chooseNum(-5L, 70L).map(x => x: Any)
        // decimal literals at scales 1 and 3 — DELIBERATELY not the
        // column's scale 2, so the bounds compare has to be
        // scale-insensitive; range spans the column's negative values
        // (negative-unscaled two's-complement encodings)
        case "amt" => Gen.frequency(
          (2, Gen.chooseNum(-1200L, 1700L)
            .map(n => java.math.BigDecimal.valueOf(n, 1): Any)),
          (1, Gen.chooseNum(-120000L, 170000L)
            .map(n => java.math.BigDecimal.valueOf(n, 3): Any)))
        // timestamp literals against the date column (and date literals
        // against the timestamp column below): Spark compares them after a
        // cast, while the bounds are days vs micros — pruning must not
        // compare the two domains
        case "d" => Gen.frequency(
          (3, Gen.chooseNum(0, 900).map(n =>
            java.sql.Date.valueOf(java.time.LocalDate.of(2023, 1, 1)
              .plusDays(n.toLong)): Any)),
          (1, Gen.chooseNum(0, 400).map(n =>
            java.sql.Date.valueOf(java.time.LocalDate.of(1969, 12, 31)
              .minusDays(n.toLong)): Any)),
          (2, Gen.chooseNum(0, 900 * 24).map(h =>
            java.sql.Timestamp.valueOf(java.time.LocalDateTime
              .of(2023, 1, 1, 0, 0).plusHours(h.toLong)): Any)))
        case "ts" => Gen.frequency(
          (3, Gen.chooseNum(0, 900 * 24).map(h =>
            java.sql.Timestamp.valueOf(java.time.LocalDateTime
              .of(2023, 1, 1, 0, 30).plusHours(h.toLong)): Any)),
          // pre-1970 fractional-second instants: the negative-epoch
          // domain where toward-zero truncation diverges from floor
          // division (the r18 hour-transform defect class)
          (1, Gen.chooseNum(0, 200).map(h =>
            java.sql.Timestamp.from(java.time.Instant
              .parse("1969-12-31T23:59:59.500Z")
              .minus(java.time.Duration.ofHours(h.toLong))): Any)),
          (2, Gen.chooseNum(0, 900).map(n =>
            java.sql.Date.valueOf(java.time.LocalDate.of(2023, 1, 1)
              .plusDays(n.toLong)): Any)))
        case "s" => Gen.oneOf("aa", "ab", "ba", "bz", "ca").map(x => x: Any)
        case _ => Gen.const(null: Any)
      }
      v <- if (op == "in")
        Gen.chooseNum(1, 3).flatMap(n => Gen.listOfN(n, vg)).map(x => x: Any)
      else vg
    } yield P(col, op, v)
    Gen.listOfN(2, one).map(_.toSeq)
  }

  test("property: readTable(preds) == readTable().filter(preds) over random " +
      "specs (all transforms), random predicates, and nullable columns") {
    import spark.implicits._
    val base = java.time.LocalDate.of(2023, 1, 1)
    val rows = Seq.tabulate(60) { i =>
      (i.toLong,
        // every seventh date pre-1970: negative epoch days exercise the
        // floor-vs-truncate boundary in day/month/year derivations too
        if (i % 7 == 3)
          java.sql.Date.valueOf(java.time.LocalDate.of(1969, 12, 31)
            .minusDays(i * 11L % 400))
        else java.sql.Date.valueOf(base.plusDays(i * 17L % 900)),
        if (i % 7 == 3)
          java.sql.Timestamp.from(java.time.Instant
            .parse("1969-12-31T23:59:59.500Z")
            .minus(java.time.Duration.ofHours(i.toLong)))
        else java.sql.Timestamp.valueOf(java.time.LocalDateTime
          .of(2023, 1, 1, i % 24, 11).plusDays(i * 13L % 37)),
        Seq("aa", "ab", "ba", "bz", "ca")(i % 5),
        if (i % 4 == 0) null else s"m$i")
    }
    // a DECIMAL(12,2) amount column with NEGATIVE values: decimal bounds
    // serialize as minimal big-endian unscaled bytes (r20) and the negative
    // encodings are the easy ones to get wrong
    val df = rows.toDF("id", "d", "ts", "s", "maybe")
      .withColumn("amt",
        ((col("id") * lit(37) - lit(900)) / lit(8.0)).cast("decimal(12,2)"))

    // each table takes TWO independently drawn specs — equal draws exercise
    // the single-spec path, unequal ones SPEC EVOLUTION (r19): the second
    // snapshot re-partitions, files keep the spec they were written under,
    // and pruning must stay sound across the mixed layouts
    val cases = samples(Gen.zip(Gen.zip(specGen, specGen), predGen), 40)
    assert(cases.nonEmpty)
    val destBySpec =
      scala.collection.mutable.Map.empty[(Seq[String], Seq[String]), String]
    var pruned = 0
    var evolved = 0
    cases.foreach { case ((specA, specB), preds) =>
      if (specA != specB) evolved += 1
      val dest = destBySpec.getOrElseUpdate((specA, specB), {
        val d = JFiles.createTempDirectory("iceprop").toFile.getAbsolutePath
        // two snapshots → several files per partition cell, so pruning has
        // real file boundaries to get wrong
        IcebergExport.export(df.filter(col("id") % 2 === 0).repartition(2),
          d, partitionBy = specA)
        IcebergExport.export(df.filter(col("id") % 2 === 1).repartition(2),
          d, partitionBy = specB)
        d
      })
      val ps = preds.map(p => IcebergExport.Predicate(p.column, p.op, p.value))
      val got = IcebergExport.readTable(spark, dest, preds = ps)
        .select("id").as[Long].collect().sorted
      val (kept, total) = IcebergExport.lastPlanStats
      if (kept < total) pruned += 1
      val want = ps.foldLeft(IcebergExport.readTable(spark, dest)) {
        (acc, p) => acc.filter(p.op match {
          case "isnull" => col(p.column).isNull
          case "notnull" => col(p.column).isNotNull
          case "=" => col(p.column) === lit(p.value)
          case "!=" => col(p.column) =!= lit(p.value)
          case "in" =>
            col(p.column).isin(p.value.asInstanceOf[Seq[Any]]: _*)
          case "<" => col(p.column) < lit(p.value)
          case "<=" => col(p.column) <= lit(p.value)
          case ">" => col(p.column) > lit(p.value)
          case ">=" => col(p.column) >= lit(p.value)
        })
      }.select("id").as[Long].collect().sorted
      assert(got.toSeq === want.toSeq,
        s"prune soundness violated for specs=($specA, $specB) preds=$preds " +
          s"(kept $kept/$total)")
    }
    // the property is vacuous if nothing ever pruned / never evolved
    assert(pruned > 5, s"pruning fired only $pruned times across ${cases.size}")
    assert(evolved > 5, s"spec evolution drawn only $evolved times")
  }

  test("a timestamp literal against a date column keeps its files: " +
      "unpartitioned and under months(d) the pruned read equals the filter") {
    import spark.implicits._
    // d = 2023-01-01 + 10·i days: 24 of the 40 dates lie after June 1st
    val df = Seq.tabulate(40)(i => (i.toLong,
      java.sql.Date.valueOf(java.time.LocalDate.of(2023, 1, 1)
        .plusDays(10L * i)))).toDF("id", "d").repartition(4)
    val cut = java.sql.Timestamp.valueOf("2023-06-01 00:00:00")
    Seq(Nil, Seq("months(d)")).foreach { spec =>
      val dest = JFiles.createTempDirectory("iceprop_ts").toFile.getAbsolutePath
      IcebergExport.export(df, dest, partitionBy = spec)
      val got = IcebergExport.readTable(spark, dest,
        preds = Seq(IcebergExport.Predicate("d", ">", cut)))
        .select("id").as[Long].collect().sorted.toSeq
      val (kept, total) = IcebergExport.lastPlanStats
      val want = IcebergExport.readTable(spark, dest)
        .filter(col("d") > lit(cut)).select("id").as[Long].collect().sorted.toSeq
      assert(want.size === 24, s"spec $spec")
      assert(got === want, s"spec $spec kept $kept/$total")
    }
  }

  test("an integral literal outside an int column's range keeps its files " +
      "under truncate(10, x): the derived tuple literal must not wrap") {
    import spark.implicits._
    val df = Seq.tabulate(40)(i => (i.toLong, i * 7 - 140)).toDF("id", "x")
      .repartition(4)
    val dest = JFiles.createTempDirectory("iceprop_wide").toFile.getAbsolutePath
    IcebergExport.export(df, dest, partitionBy = Seq("truncate(10, x)"))
    // -3e9 wraps to +1294967296 as an int, 3e9 to -1294967296: a wrapped
    // derivation would prune every file
    Seq(">" -> -3000000000L, ">=" -> -3000000000L, "<" -> 3000000000L,
        "<=" -> 3000000000L).foreach { case (op, v) =>
      val got = IcebergExport.readTable(spark, dest,
        preds = Seq(IcebergExport.Predicate("x", op, v))).count()
      val (kept, total) = IcebergExport.lastPlanStats
      assert(got === 40L, s"x $op $v kept $kept/$total")
    }
  }

  test("an identity tuple on a timestamp column decodes in the column's " +
      "domain, so it pins the file like the bounds do") {
    val us = 1685577600000000L // 2023-06-01 00:00 UTC, as Avro hands it over
    assert(IcebergExport.tupleValue(us, TimestampType) === Some(us))
    assert(IcebergExport.tupleValue(19509, DateType) === Some(19509L))
    assert(IcebergExport.tupleValue(7L, LongType) === Some(7L))
    assert(IcebergExport.tupleValue(7, LongType) === Some(7L))
  }
}
