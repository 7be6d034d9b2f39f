package graft.sources

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, Attribute,
  BinaryComparison, Cast, EqualTo, Expression, GreaterThanOrEqual, In, InSet,
  IsNotNull, IsNull, LessThanOrEqual, Literal, Not, Or}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions.{col, date_add, datediff, encode, lit,
  month, pmod, rint, substring, to_date, udf, unix_micros, year}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The partition spec and the prune core both tables share: the snapshot
  * store and the Iceberg reader each decode their own file metadata into a
  * [[FileMetrics]] record, and everything about a partition spec is decided
  * here — one spec grammar ([[parseSpecEntry]]), one admission check
  * ([[validateSpecEntry]]), the spec's transforms as the write-side Column
  * ([[partColumn]]) and as literal evaluation ([[evalTransform]], bucket
  * included: both hash with the spec's seed-0 murmur3, Appendix B), their
  * inverse for the time transforms ([[sourceRange]]), one value domain
  * ([[compare]], [[domainValue]]), one inclusive evaluator ([[keep]], the
  * shape of Iceberg's InclusiveMetricsEvaluator: any uncertainty keeps the
  * file, pruning only optimizes over the residual filter) and one
  * derivation step from source-column to partition-tuple conjuncts
  * ([[deriveTuples]]). */
private[sources] object FilePruning {

  // ── the value domain ───────────────────────────────────────────────────

  /** Order of two values of one domain: Long for the integral family
    * (dates as epoch days, timestamps as epoch micros), Double for float
    * and double, BigDecimal for decimals, String in unsigned UTF-8 byte
    * order (the order parquet and Iceberg bounds use), Boolean. */
  def compare(a: Any, b: Any): Int = (a, b) match {
    case (x: Long, y: Long) => java.lang.Long.compare(x, y)
    // Spark's own order: -0.0 equals 0.0, NaN equals NaN and sorts last
    case (x: Double, y: Double) => SQLOrderingUtil.compareDoubles(x, y)
    case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
    case (x: String, y: String) =>
      UTF8String.fromString(x).binaryCompare(UTF8String.fromString(y))
    case (x: Boolean, y: Boolean) => java.lang.Boolean.compare(x, y)
    case _ => throw new IllegalStateException(s"value domain mismatch: $a vs $b")
  }

  /** The integral family, each type with its (min, max). */
  private val integralRange: Map[DataType, (Long, Long)] = Map(
    ByteType -> (Byte.MinValue, Byte.MaxValue), ShortType -> (Short.MinValue, Short.MaxValue),
    IntegerType -> (Int.MinValue, Int.MaxValue), LongType -> (Long.MinValue, Long.MaxValue))
  private def integral(t: DataType): Boolean = integralRange.contains(t)

  /** A Catalyst literal's value in the domain of a column of type `ct`, or
    * None when the literal's type does not fit the column's (a timestamp
    * literal on a date column would compare micros with days) or an
    * integral literal lies outside an integral column's range (a transform
    * of it would wrap). Numeric cross-type cases follow Spark's widening:
    * an integral literal on a float column compares as a float. */
  def domainValue(lit: Literal, ct: DataType): Option[Any] =
    (lit.value, lit.dataType, ct) match {
      case (null, _, _) => None
      case (v: Number, lt, _) if integral(lt) && integral(ct) =>
        Some(v.longValue).filter { x => val (lo, hi) = integralRange(ct); lo <= x && x <= hi }
      case (d: Int, DateType, DateType) => Some(d.toLong)
      case (us: Long, lt, _) if lt == ct &&
          (ct == TimestampType || ct == TimestampNTZType) => Some(us)
      case (v: Number, lt, FloatType | DoubleType) if integral(lt) =>
        Some(if (ct == FloatType) v.floatValue.toDouble else v.doubleValue)
      case (v: Number, FloatType | DoubleType, FloatType | DoubleType) =>
        Some(v.doubleValue)
      case (d: Decimal, _: DecimalType, _: DecimalType) => Some(d.toJavaBigDecimal)
      case (v: Number, lt, _: DecimalType) if integral(lt) =>
        Some(java.math.BigDecimal.valueOf(v.longValue))
      case (s: UTF8String, StringType, StringType) => Some(s.toString)
      case (b: Boolean, BooleanType, BooleanType) => Some(b)
      case _ => None
    }

  // ── the partition-spec grammar ─────────────────────────────────────────

  /** One partition-spec field: the grammar `entry`, the tuple column `name`
    * (Iceberg's `<src>_<kind>`), the Iceberg `transform` string ("identity",
    * "day", …, "bucket[N]", "truncate[W]") and its `source` column. */
  final case class SpecField(
      entry: String, name: String, transform: String, source: String) {
    def isIdentity: Boolean = transform == "identity"
    def kind: String = transform.takeWhile(_ != '[') // "day", "bucket", …
    def arg: Int = transform.substring(transform.indexOf('[') + 1, transform.length - 1).toInt
  }

  private val TimeRe = "(?i)^(day|month|year|hour)s?\\((\\w+)\\)$".r
  private val ArgRe = "(?i)^(bucket|truncate)\\((\\d+)\\s*,\\s*(\\w+)\\)$".r

  /** Parse `days(ts)` (or `day(ts)`), `months(…)`, `years(…)`, `hours(…)`,
    * `bucket(N, c)`, `truncate(W, c)`, or else an identity column. */
  def parseSpecEntry(entry: String): SpecField = entry.trim match {
    case TimeRe(k, src) =>
      val kind = k.toLowerCase
      SpecField(s"${kind}s($src)", s"${src}_$kind", kind, src)
    case ArgRe(k, n, src) =>
      val kind = k.toLowerCase
      val suffix = if (kind == "bucket") "bucket" else "trunc"
      SpecField(s"$kind($n, $src)", s"${src}_$suffix", s"$kind[$n]", src)
    case id => SpecField(id, id, "identity", id)
  }

  /** The grammar entry of an Iceberg (transform, source) pair. */
  def entryOf(transform: String, source: String): String =
    SpecField("", "", transform, source) match {
      case sf if sf.isIdentity => source
      case sf if Set("day", "month", "year", "hour")(sf.kind) => s"${sf.kind}s($source)"
      case sf if Set("bucket", "truncate")(sf.kind) => s"${sf.kind}(${sf.arg}, $source)"
      case sf => throw new IllegalArgumentException(
        s"iceberg read: unsupported partition transform ${sf.transform}")
    }

  /** One partition-spec entry admitted against `schema`: the one check the
    * store's commit and evolve paths and the Iceberg export share, so a
    * spec either side accepts is one both can write. The source column
    * must exist, and each transform must have an implementation over its
    * type: the time transforms over timestamp or date columns (hours over
    * timestamps only), bucket with a positive count over integral, date,
    * timestamp or string columns, truncate with a positive width over
    * integral or string columns. */
  def validateSpecEntry(schema: StructType, e: String): SpecField = {
    val sf = parseSpecEntry(e)
    val f = schema.fields.find(_.name.equalsIgnoreCase(sf.source))
    require(f.isDefined, s"partition spec entry '$e' names no column ${sf.source}")
    val dt = f.get.dataType
    def need(ok: Boolean, what: String) =
      require(ok, s"${sf.entry} needs $what, got ${dt.simpleString}")
    val integralOrString = integral(dt) || dt == StringType
    sf.kind match {
      case "day" | "month" | "year" =>
        need(dt == TimestampType || dt == DateType, "a timestamp/date column")
      case "hour" => need(dt == TimestampType, "a timestamp column")
      case "bucket" => need(sf.arg > 0 &&
        (integralOrString || dt == DateType || dt == TimestampType),
        "a positive count over an integral, date, timestamp or string column")
      case "truncate" => need(sf.arg > 0 && integralOrString,
        "a positive width over an integral or string column")
      case _ =>
    }
    sf
  }

  // ── the spec's transforms (spec §"Partition Transforms") ───────────────

  /** Partition tuple type of a spec field (spec transform result types:
    * day → date; month/year/hour/bucket → int; identity/truncate → the
    * source type). */
  def partResultType(sf: SpecField, srcType: DataType): DataType =
    sf.kind match {
      case "day" => DateType
      case "month" | "year" | "hour" | "bucket" => IntegerType
      case _ => srcType // identity, truncate
    }

  /** Canonical 32-bit murmur3 (Austin Appleby's public algorithm), seed 0
    * — the hash Iceberg's bucket transform REQUIRES (spec Appendix B).
    * Deliberately NOT Spark's `hash()` (murmur3 seed 42 over Catalyst's
    * own byte layouts): a foreign Iceberg engine recomputes bucket values
    * from the spec, so a written layout must match it exactly. */
  def murmur3x86(data: Array[Byte]): Int = {
    val c1 = 0xcc9e2d51; val c2 = 0x1b873593
    var h = 0
    val n4 = (data.length / 4) * 4
    var i = 0
    while (i < n4) {
      var k = (data(i) & 0xff) | ((data(i + 1) & 0xff) << 8) |
        ((data(i + 2) & 0xff) << 16) | ((data(i + 3) & 0xff) << 24)
      k *= c1; k = Integer.rotateLeft(k, 15); k *= c2
      h ^= k; h = Integer.rotateLeft(h, 13); h = h * 5 + 0xe6546b64
      i += 4
    }
    var k = 0
    val tail = data.length & 3
    if (tail == 3) k ^= (data(n4 + 2) & 0xff) << 16
    if (tail >= 2) k ^= (data(n4 + 1) & 0xff) << 8
    if (tail >= 1) {
      k ^= data(n4) & 0xff
      k *= c1; k = Integer.rotateLeft(k, 15); k *= c2; h ^= k
    }
    h ^= data.length
    h ^= h >>> 16; h *= 0x85ebca6b; h ^= h >>> 13; h *= 0xc2b2ae35
    h ^ (h >>> 16)
  }

  /** Iceberg bucket of a long-domain value (ints/longs as the long value,
    * dates as epoch days, timestamps as epoch micros — spec Appendix B):
    * murmur3 of the 8-byte little-endian value, positive mod N. */
  def bucketLong(v: Long, n: Int): Int = {
    val b = new Array[Byte](8)
    var x = v; var i = 0
    while (i < 8) { b(i) = (x & 0xff).toByte; x >>>= 8; i += 1 }
    (murmur3x86(b) & Int.MaxValue) % n
  }

  /** Iceberg bucket of a string: murmur3 of its UTF-8 bytes, positive
    * mod N. */
  def bucketString(s: String, n: Int): Int = bucketBytes(s.getBytes("UTF-8"), n)

  private def bucketBytes(b: Array[Byte], n: Int): Int = (murmur3x86(b) & Int.MaxValue) % n

  /** The write-side Column computing a spec field's partition tuple from
    * its source column of type `srcType` (a [[validateSpecEntry]]-admitted
    * pair): the hive-dir value both the store and the Iceberg export lay
    * files out by. Spark's partitionBy drops it from file contents, so data
    * files keep the SOURCE column (hidden partitioning). Time transforms
    * are UTC: a timestamp is an instant, and a session-zone date would
    * mis-place rows against [[evalTransform]]'s epoch math. */
  def partColumn(sf: SpecField, srcType: DataType): Column = {
    val c = col(sf.source)
    // exact floor division of the source's micros, matching evalTransform's
    // Math.floorDiv: the numerator is an exact multiple of `unit`, so the
    // double quotient lies within 2^-20 of an int and rint recovers it
    // (a plain cast truncates, and |micros| can exceed 2^53). A decimal
    // quotient is exact too, but several times slower per row.
    def microsFloor(unit: Long): Column =
      rint((unix_micros(c) - pmod(unix_micros(c), lit(unit))) / lit(unit)).cast("int")
    // the UTC calendar date of the source (dates are zone-free)
    def utcDate: Column =
      if (srcType == DateType) c
      else date_add(to_date(lit("1970-01-01")), microsFloor(86400000000L))
    sf.kind match {
      case "identity" => c
      case "day" => utcDate
      case "month" =>
        ((year(utcDate) - lit(1970)) * lit(12) + month(utcDate) - lit(1)).cast("int")
      case "year" => (year(utcDate) - lit(1970)).cast("int")
      case "hour" => microsFloor(3600000000L)
      case "bucket" =>
        val n = sf.arg
        val hashLong = udf((v: java.lang.Long) =>
          if (v == null) null else Int.box(bucketLong(v, n)))
        srcType match {
          case StringType =>
            udf((b: Array[Byte]) => if (b == null) null else Int.box(bucketBytes(b, n)))
              .apply(encode(c, "UTF-8"))
          case DateType => hashLong(datediff(c, to_date(lit("1970-01-01"))).cast("long"))
          case TimestampType => hashLong(unix_micros(c))
          case _ => hashLong(c.cast("long"))
        }
      case _ => // truncate
        val w = sf.arg
        srcType match {
          case StringType => substring(c, 1, w)
          case LongType =>
            // Java long arithmetic (wraps silently at Long.MinValue, like
            // Iceberg's TruncateLong): an ANSI-mode Column subtraction
            // would THROW on the wrap cell instead
            udf((v: java.lang.Long) => if (v == null) null
              else java.lang.Long.valueOf(v - Math.floorMod(v, w.toLong))).apply(c)
          case _ =>
            // the int family truncates in 32-bit arithmetic and wraps at
            // Int.MinValue like Iceberg's TruncateInteger (byte and short
            // values never overflow an int)
            udf((v: java.lang.Long) => if (v == null) null
              else Int.box(v.toInt - Math.floorMod(v.toInt, w))).apply(c.cast("long"))
        }
    }
  }

  /** The Iceberg transform of a source value `v` in the domain of
    * `srcType` (UTC calendar), None when not derivable: [[partColumn]]'s
    * tuple for one value. */
  def evalTransform(sf: SpecField, srcType: DataType, v: Any): Option[Any] = {
    def utcDate = (srcType, v) match {
      case (DateType, d: Long) => Some(java.time.LocalDate.ofEpochDay(d))
      case (TimestampType, us: Long) =>
        Some(java.time.LocalDate.ofEpochDay(Math.floorDiv(us, 86400000000L)))
      case _ => None
    }
    (sf.kind, srcType, v) match {
      case ("identity", _, _) => Some(v)
      case ("day", _, _) => utcDate.map(_.toEpochDay)
      case ("month", _, _) =>
        utcDate.map(d => ((d.getYear - 1970) * 12 + d.getMonthValue - 1).toLong)
      case ("year", _, _) => utcDate.map(d => (d.getYear - 1970).toLong)
      case ("hour", TimestampType, us: Long) => Some(Math.floorDiv(us, 3600000000L))
      // ints hash as their long value, dates as epoch days, timestamps as
      // epoch micros: exactly the long domain domainValue maps them to
      case ("bucket", _, x: Long) => Some(bucketLong(x, sf.arg).toLong)
      case ("bucket", StringType, s: String) => Some(bucketString(s, sf.arg).toLong)
      // code points, the spec's (and Spark substring's) unit
      case ("truncate", StringType, s: String) =>
        val cps = s.codePoints().toArray
        Some(new String(cps, 0, math.min(sf.arg, cps.length)))
      // as written: long arithmetic for long sources, 32-bit arithmetic
      // for the int family (each wraps at its own minimum)
      case ("truncate", LongType, x: Long) => Some(x - Math.floorMod(x, sf.arg.toLong))
      case ("truncate", ByteType | ShortType | IntegerType, x: Long) =>
        Some((x.toInt - Math.floorMod(x.toInt, sf.arg)).toLong)
      case _ => None
    }
  }

  /** The inverse of a time transform: the inclusive source range a tuple
    * `t` covers (epoch days for a date source, epoch micros for a
    * timestamp), None for the other transforms. A layout pins each file's
    * source column to it, so a range predicate on the source prunes with
    * its own bounds rather than a relaxed tuple comparison. */
  def sourceRange(sf: SpecField, srcType: DataType, t: Long): Option[(Long, Long)] = {
    val epoch = java.time.LocalDate.ofEpochDay(0)
    val days: Option[(Long, Long)] = sf.kind match {
      case "day" => Some((t, t))
      case "month" => val s = epoch.plusMonths(t)
        Some((s.toEpochDay, s.plusMonths(1).toEpochDay - 1))
      case "year" => val s = epoch.plusYears(t)
        Some((s.toEpochDay, s.plusYears(1).toEpochDay - 1))
      case _ => None
    }
    val day = 86400000000L
    (sf.kind, srcType) match {
      case ("hour", TimestampType) => Some((t * 3600000000L, (t + 1) * 3600000000L - 1))
      case (_, DateType) => days
      case (_, TimestampType) => days.map { case (lo, hi) => (lo * day, (hi + 1) * day - 1) }
      case _ => None
    }
  }

  // ── the inclusive evaluator ────────────────────────────────────────────

  /** Lower-cased column name → type: the evaluator's view of a schema. */
  def typesOf(schema: StructType): Map[String, DataType] =
    schema.fields.map(f => f.name.toLowerCase -> f.dataType).toMap

  /** What one data file is known to hold, looked up by lower-cased column
    * name: (min, max) in the value domain (partition tuples as min = max
    * pins) plus the null and value counts a layout records. Lookups, so a
    * layout decodes only the columns the conjuncts name. */
  final case class FileMetrics(range: String => Option[(Any, Any)],
      nullCount: String => Option[Long] = _ => None,
      valueCount: String => Option[Long] = _ => None)

  /** The column a conjunct side names, looking through integral WIDENING
    * casts: a filter pushed through an ALTER COLUMN TYPE reader arrives as
    * `cast(col) op lit`, and the widenings share one Long domain. */
  private def attrName(e: Expression): Option[String] = e match {
    case u: UnresolvedAttribute if u.nameParts.length == 1 => Some(u.nameParts.head)
    case a: Attribute => Some(a.name)
    case c: Cast if scala.util.Try(integral(c.child.dataType) && integral(c.dataType) &&
        c.child.dataType.defaultSize <= c.dataType.defaultSize).getOrElse(false) =>
      attrName(c.child)
    case _ => None
  }

  private val flipped = Map("=" -> "=", "<" -> ">", "<=" -> ">=", ">" -> "<", ">=" -> "<=")

  /** `column op literal`, the literal on either side; `<=>` excluded. */
  private object Comparison {
    def unapply(e: Expression): Option[(Expression, String, Literal)] = e match {
      case b: BinaryComparison if flipped.contains(b.symbol) => (b.left, b.right) match {
        case (l: Literal, a) => Some((a, flipped(b.symbol), l))
        case (a, l: Literal) => Some((a, b.symbol, l))
        case _ => None
      }
      case _ => None
    }
  }

  /** An IN list's members as literals (InSet holds internal values). */
  private object Members {
    def unapply(e: Expression): Option[(Expression, Seq[Literal])] = e match {
      case In(a, vs) if vs.forall(_.isInstanceOf[Literal]) =>
        Some((a, vs.map(_.asInstanceOf[Literal])))
      case InSet(a, hset) => Some((a, hset.toSeq.map(v => Literal(v, a.dataType))))
      case _ => None
    }
  }

  /** Might a file with metrics `m` hold a row matching every conjunct?
    * Understood: And, Or, range comparisons and equality against a
    * literal, In/InSet, IsNull, IsNotNull and Not(EqualTo); anything else
    * keeps the file. `types` covers tuple columns too. */
  def keep(types: Map[String, DataType], m: FileMetrics,
      conjuncts: Seq[Expression]): Boolean = {
    def column(a: Expression) = attrName(a).map(_.toLowerCase)
    def range(a: Expression, l: Literal): Option[(Any, Any, Any)] = for {
      c <- column(a); ct <- types.get(c); (lo, hi) <- m.range(c)
      v <- domainValue(l, ct)
    } yield (lo, hi, v)
    def eval(e: Expression): Boolean = e match {
      // an Or prunes as the union of its disjuncts' verdicts
      case And(l, r) => eval(l) && eval(r)
      case Or(l, r) => eval(l) || eval(r)
      case Literal(false, BooleanType) => false
      // a null literal never compares true
      case Comparison(_, _, l) if l.value == null => false
      case Comparison(a, op, l) => range(a, l).forall { case (lo, hi, v) =>
        op match {
          case "=" => compare(lo, v) <= 0 && compare(v, hi) <= 0
          case ">" => compare(hi, v) > 0
          case ">=" => compare(hi, v) >= 0
          case "<" => compare(lo, v) < 0
          case "<=" => compare(lo, v) <= 0
        }
      }
      case Members(a, ls) => ls.exists(l => eval(EqualTo(a, l)))
      case IsNull(a) => column(a).flatMap(m.nullCount).forall(_ > 0)
      case IsNotNull(a) => (for {
        c <- column(a); vc <- m.valueCount(c); nc <- m.nullCount(c)
      } yield vc > nc).getOrElse(true)
      // only a file whose every value IS the literal is excluded (null
      // rows never satisfy `!=` either)
      case Not(Comparison(a, "=", l)) => range(a, l).forall { case (lo, hi, v) =>
        compare(lo, v) != 0 || compare(hi, v) != 0
      }
      case _ => true
    }
    conjuncts.forall(eval)
  }

  // ── partition-tuple derivation ─────────────────────────────────────────

  /** `conjuncts` with each comparison or IN on a partition field's SOURCE
    * column ANDed with the conjunct it implies on the field's tuple column
    * (`SpecField.name`). Identity needs none (layouts record its tuple
    * under the source column); the monotone transforms keep equality and
    * relax `<`/`>` to their inclusive forms (rows below `v` may share `v`'s
    * day); bucket derives equality only; truncate over int or long wraps
    * at the type minimum, so a range literal in that cell derives nothing
    * and other range derivations also admit the wrapped tuple. */
  def deriveTuples(conjuncts: Seq[Expression], fields: Seq[SpecField],
      types: Map[String, DataType]): Seq[Expression] = {
    def tuple(sf: SpecField, srcType: DataType, op: String,
        l: Literal): Option[Expression] = {
      val t = UnresolvedAttribute(Seq(sf.name))
      val wrap = wrapCell(sf, srcType)
      if (sf.kind == "bucket" && op != "=") None
      else for {
        v <- domainValue(l, srcType)
        if op == "=" || !wrap.exists(_._1 == Math.floorDiv(v.asInstanceOf[Long], sf.arg.toLong))
        tv <- evalTransform(sf, srcType, v)
      } yield {
        val tl = tv match {
          case s: String => Literal(UTF8String.fromString(s), StringType)
          case x: Long if sf.kind == "day" => Literal(x.toInt, DateType)
          case x => Literal(x)
        }
        val relaxed = if (op == "=") EqualTo(t, tl)
          else if (op.startsWith("<")) LessThanOrEqual(t, tl) else GreaterThanOrEqual(t, tl)
        wrap.filter(_ => op != "=").fold[Expression](relaxed)(w =>
          Or(relaxed, EqualTo(t, Literal(w._2))))
      }
    }
    def implied(leaf: Expression, sf: SpecField, srcType: DataType) = {
      def onSource(a: Expression) = attrName(a).exists(_.equalsIgnoreCase(sf.source))
      leaf match {
        case Comparison(a, op, l) if onSource(a) => tuple(sf, srcType, op, l)
        case Members(a, ls) if ls.nonEmpty && onSource(a) =>
          val eqs = ls.map(tuple(sf, srcType, "=", _))
          if (eqs.exists(_.isEmpty)) None else Some(eqs.flatten.reduce(Or(_, _)))
        case _ => None
      }
    }
    def derive(e: Expression): Expression = e match {
      case And(l, r) => And(derive(l), derive(r))
      case Or(l, r) => Or(derive(l), derive(r))
      case leaf => fields.filterNot(_.isIdentity).flatMap(sf =>
          types.get(sf.source.toLowerCase).flatMap(implied(leaf, sf, _)))
        .foldLeft(leaf)(And(_, _))
    }
    conjuncts.map(derive)
  }

  /** A truncate's wrap cell over int or long: (the cell index of the type
    * minimum, the tuple that cell is written as), None when nothing wraps. */
  private def wrapCell(sf: SpecField, srcType: DataType): Option[(Long, Long)] = {
    val min = srcType match {
      case IntegerType => Int.MinValue.toLong
      case LongType => Long.MinValue
      case _ => 0L // never wraps
    }
    if (sf.kind != "truncate" || Math.floorMod(min, sf.arg.toLong) == 0L) None
    else evalTransform(sf, srcType, min).collect { case t: Long =>
      (Math.floorDiv(min, sf.arg.toLong), t) }
  }
}
