package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native text kernels for the dedup pipeline.
  *
  * The declarative formulation (nested `transform`/`array_min` higher-order
  * functions) evaluates interpreted per element: k=32 permutations × ~50
  * shingles × rows was ~100 s for 5.5k docs — unusable at scale. These
  * expressions do the same math in one tight primitive-array loop per row
  * (~µs/row).
  *
  * Each implements `doGenCode` as a reference-object call into the
  * JIT-compiled kernel (ONE virtual call per row): children stay inside
  * whole-stage codegen — no interpreted re-evaluation of inputs, and
  * Catalyst's subexpression elimination applies, so a projection computing
  * both `shingle_hashes(text)` and `minhash_sig(shingle_hashes(text))`
  * hashes the shingles ONCE per row.
  *
  * The Column builders at the end wrap each expression directly, so a
  * kernel column resolves in whatever session evaluates it.
  *
  * Hashing is FNV-1a64 (public-domain constant set) — stable across engines
  * and JVMs; MinHash permutations are universal hashes in a 31-bit domain
  * (no long overflow under ANSI).
  */
object NativeTextExpressions {

  private[functions] def fnv1a64(s: String): Long = graft.util.Hashing.fnv1a64(s)

  /** word-n-gram shingle hashes of a string: lowercase, whitespace tokenize,
    * hash each n-gram, distinct, order of first appearance. */
  case class WordShingleHashes(child: Expression, n: Int)
      extends UnaryExpression {

    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "shingle_hashes"

    override def nullSafeEval(input: Any): Any = {
      val text = input.asInstanceOf[UTF8String].toString
      val toks = text.toLowerCase.trim.split("\\s+")
      if (toks.length < n) new GenericArrayData(Array.empty[Long])
      else {
        val seen = new java.util.LinkedHashSet[java.lang.Long]()
        var i = 0
        while (i <= toks.length - n) {
          val sb = new java.lang.StringBuilder(toks(i))
          var j = 1
          while (j < n) { sb.append(' ').append(toks(i + j)); j += 1 }
          seen.add(fnv1a64(sb.toString))
          i += 1
        }
        val out = new Array[Long](seen.size)
        val it = seen.iterator(); var k = 0
        while (it.hasNext) { out(k) = it.next(); k += 1 }
        new GenericArrayData(out)
      }
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("shingleKernel", this, classOf[WordShingleHashes].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.nullSafeEval($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** k-permutation MinHash signature over an array<long> of shingle hashes:
    * sig[j] = min over shingles of ((h mod p) * a_j + b_j) mod p,
    * p = 2^31-1. Empty shingle set → array of p (sentinel max). */
  case class MinHashSig(child: Expression, k: Int, seed: Long)
      extends UnaryExpression {

    override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<long>, got $t")
    }
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "minhash_sig"

    private val p = 2147483647L // 2^31 - 1

    @transient private lazy val (as, bs) = {
      val rnd = new scala.util.Random(seed)
      (Array.fill(k)(rnd.nextInt(Int.MaxValue - 1).toLong + 1),
        Array.fill(k)(rnd.nextInt(Int.MaxValue).toLong))
    }

    override def nullSafeEval(input: Any): Any = {
      val hashes = input.asInstanceOf[ArrayData].toLongArray()
      val mins = Array.fill(k)(p)
      var i = 0
      while (i < hashes.length) {
        val h = ((hashes(i) % p) + p) % p
        var j = 0
        while (j < k) {
          val v = (h * as(j) + bs(j)) % p
          if (v < mins(j)) mins(j) = v
          j += 1
        }
        i += 1
      }
      new GenericArrayData(mins)
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("minhashKernel", this, classOf[MinHashSig].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.nullSafeEval($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Exact Jaccard between two array<long> hash sets (sorted-merge-free:
    * hash-set probe of the smaller side). */
  case class LongSetJaccard(left: Expression, right: Expression)
      extends BinaryExpression {
    override def checkInputDataTypes(): TypeCheckResult =
      if (Seq(left, right).forall(_.dataType match {
        case ArrayType(LongType, _) => true; case _ => false
      })) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName requires array<long> inputs")
    override def dataType: DataType = org.apache.spark.sql.types.DoubleType
    override def prettyName: String = "long_set_jaccard"

    override def nullSafeEval(a: Any, b: Any): Any = {
      val xs = a.asInstanceOf[ArrayData].toLongArray()
      val ys = b.asInstanceOf[ArrayData].toLongArray()
      if (xs.isEmpty && ys.isEmpty) 0.0
      else {
        val set = new java.util.HashSet[java.lang.Long](xs.length * 2)
        xs.foreach(set.add(_))
        val nx = set.size
        var inter = 0
        val seenY = new java.util.HashSet[java.lang.Long](ys.length * 2)
        ys.foreach { y => if (seenY.add(y) && set.contains(y)) inter += 1 }
        val union = nx + seenY.size - inter
        if (union == 0) 0.0 else inter.toDouble / union
      }
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("jaccardKernel", this, classOf[LongSetJaccard].getName)
      nullSafeCodeGen(ctx, ev, (a, b) =>
        s"${ev.value} = ((java.lang.Double) $self.nullSafeEval($a, $b)).doubleValue();")
    }

    override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): Expression =
      copy(left = newLeft, right = newRight)
  }

  /** One-pass language/quality profile of a raw text column — the fused
    * kernel behind `TextFunctions.langId` / `qualityScore` / `tokenCount`.
    *
    * The declarative formulation paid one interpreted higher-order `filter`
    * + per-token `array_contains` scan PER LANGUAGE (plus separate regex
    * passes for punctuation/CJK and a separate split for the token count).
    * This expression tokenizes ONCE and computes every feature in the same
    * pass: token count, per-language marker-occurrence counts (one hash
    * lookup per token), the argmax language, CJK presence, punctuation
    * count and code-point length. Output struct:
    *   (n_tok, s0 = markers.head count, best = first-max lang index or -1
    *    when all counts are 0, cjk, n_punct, n_char).
    *
    * Semantics are pinned to the declarative forms it replaces (and fuzzed
    * against them in LangProfileParitySpec):
    *  - tokens = split(trim(lower(text)), "\s+") with Spark's exact rules.
    *    Lower and StringTrim are reproduced EXACTLY by calling the same
    *    UTF8String.toLowerCase/.trim they are implemented with (trim strips
    *    ASCII 0x20 only; lower takes the ASCII fast path else default-locale
    *    String.toLowerCase). Java-regex \s (no UNICODE flag) matches exactly
    *    the six ASCII bytes 0x09-0x0D and 0x20 — and multi-byte UTF-8
    *    sequences never contain ASCII bytes — so split("\s+", -1) pieces are
    *    byte runs between whitespace runs: n_tok = ws-runs + 1 (limit -1
    *    keeps the trailing empty piece a trailing tab produces, and [""] for
    *    the empty string);
    *  - marker counts count every occurrence (not distinct), exactly like
    *    size(filter(toks, t -> array_contains(markers, t))); marker words
    *    are short lowercase ASCII, so a token matches via one packed-long
    *    open-addressed table probe — no per-token String allocation;
    *  - best is the FIRST maximal language — the (score, -index) argmax
    *    tie-break of langIdDeclarative;
    *  - n_char counts code points (Spark's length()), n_punct counts
    *    [.,!?;:] code points (the regexp_replace-based punctCount), cjk is
    *    "any code point in [0x4e00,0x9fff]" (length(regexp_replace(..)) > 0
    *    on the raw, un-lowered text; those code points are exactly the
    *    3-byte UTF-8 sequences with lead byte 0xE4..0xE9 whose decoded value
    *    is in range).
    */
  case class LangProfile(child: Expression, markers: Seq[(String, Seq[String])])
      extends UnaryExpression {
    import org.apache.spark.sql.types.{BooleanType, StructField, StructType}

    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")
    override def dataType: DataType = StructType(Seq(
      StructField("n_tok", IntegerType, nullable = false),
      StructField("s0", IntegerType, nullable = false),
      StructField("best", IntegerType, nullable = false),
      StructField("cjk", BooleanType, nullable = false),
      StructField("n_punct", IntegerType, nullable = false),
      StructField("n_char", IntegerType, nullable = false)))
    override def prettyName: String = "lang_profile"

    /** Open-addressed long->bitmask table: each marker word (≤7 lowercase
      * ASCII bytes) packs big-endian into a long key WITH ITS LENGTH in the
      * top byte — without the length tag, a token with leading NUL bytes
      * packs to the same long as the marker it shadows ("\0with" = "with";
      * caught by LangProfileParitySpec's fuzz). The value is the bitmask of
      * language indices listing the word. Empty slot ⇔ mask 0 (all real
      * masks are nonzero). */
    @transient private lazy val (tblKeys, tblMasks, maxWordLen) = {
      require(markers.nonEmpty && markers.length <= 31,
        s"lang_profile supports 1..31 languages, got ${markers.length}")
      val byWord = new java.util.LinkedHashMap[String, Integer]()
      markers.zipWithIndex.foreach { case ((_, ws), i) =>
        ws.foreach { w =>
          require(w.nonEmpty && w.length <= 7 &&
            w.forall(c => c < 0x80 && !(c >= 'A' && c <= 'Z')),
            s"lang_profile marker words must be 1..7 lowercase ASCII chars, got '$w'")
          val prev = byWord.get(w)
          byWord.put(w, (if (prev == null) 0 else prev.intValue()) | (1 << i))
        }
      }
      var cap = 16
      while (cap < byWord.size * 4) cap <<= 1
      val keys = new Array[Long](cap)
      val masks = new Array[Int](cap)
      var maxLen = 0
      val it = byWord.entrySet().iterator()
      while (it.hasNext) {
        val e = it.next()
        val w = e.getKey
        maxLen = math.max(maxLen, w.length)
        var key = 0L
        var k = 0
        while (k < w.length) { key = (key << 8) | (w.charAt(k) & 0xFFL); k += 1 }
        key |= w.length.toLong << 56
        var slot = slotOf(key, cap)
        while (masks(slot) != 0) slot = (slot + 1) & (cap - 1)
        keys(slot) = key
        masks(slot) = e.getValue.intValue()
      }
      (keys, masks, maxLen)
    }

    @inline private def slotOf(key: Long, cap: Int): Int = {
      val h = key * -7046029254386353131L // Fibonacci-style mix
      ((h ^ (h >>> 32)).toInt) & (cap - 1)
    }

    @inline private def isWs(b: Byte): Boolean =
      b == 0x20 || (b >= 0x09 && b <= 0x0D)

    /** Add the token tb[st,en)'s language bitmask into counts (no-op for
      * empty, over-long, or non-ASCII tokens — none can match a marker). */
    private def countToken(tb: Array[Byte], st: Int, en: Int,
                           counts: Array[Int]): Unit = {
      if (en - st < 1 || en - st > maxWordLen) return
      var key = 0L
      var k = st
      while (k < en) {
        val b = tb(k)
        if (b < 0) return
        key = (key << 8) | (b & 0xFFL)
        k += 1
      }
      key |= (en - st).toLong << 56
      val cap = tblKeys.length
      var slot = slotOf(key, cap)
      while (tblMasks(slot) != 0 && tblKeys(slot) != key)
        slot = (slot + 1) & (cap - 1)
      var m = tblMasks(slot) // 0 on miss (probe stopped at an empty slot)
      var li = 0
      while (m != 0) {
        if ((m & 1) != 0) counts(li) += 1
        m >>>= 1
        li += 1
      }
    }

    override def nullSafeEval(input: Any): Any = {
      val raw = input.asInstanceOf[UTF8String]
      // raw-text features (the declarative regexes run over un-lowered text)
      val rb = raw.getBytes
      var nPunct = 0
      var cjk = false
      var i = 0
      while (i < rb.length) {
        val b = rb(i)
        if (b >= 0) {
          if (b == '.' || b == ',' || b == '!' || b == '?' || b == ';' || b == ':')
            nPunct += 1
          i += 1
        } else {
          val ub = b & 0xFF
          if (ub >= 0xE4 && ub <= 0xE9 && i + 2 < rb.length) {
            val cp = ((ub & 0x0F) << 12) | ((rb(i + 1) & 0x3F) << 6) | (rb(i + 2) & 0x3F)
            if (cp >= 0x4E00 && cp <= 0x9FFF) cjk = true
          }
          i += (if (ub >= 0xF0) 4 else if (ub >= 0xE0) 3 else if (ub >= 0xC0) 2 else 1)
        }
      }
      val nChar = raw.numChars()
      // tokens of trim(lower(text)): one byte scan, ws runs are separators
      val tb = raw.toLowerCase.trim.getBytes
      val counts = new Array[Int](markers.length)
      var nTok = 1
      var st = 0
      var j = 0
      while (j < tb.length) {
        if (isWs(tb(j))) {
          countToken(tb, st, j, counts)
          nTok += 1
          j += 1
          while (j < tb.length && isWs(tb(j))) j += 1
          st = j
        } else j += 1
      }
      countToken(tb, st, tb.length, counts)
      var best = -1
      var bestC = 0
      var li = 0
      while (li < counts.length) {
        if (counts(li) > bestC) { bestC = counts(li); best = li }
        li += 1
      }
      new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](nTok, counts(0), best, cjk, nPunct, nChar))
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("langProfileKernel", this, classOf[LangProfile].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.InternalRow) $self.nullSafeEval($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Word n-gram shingle STRINGS of a raw text column — the native form of
    * `shingles(tokens(text), n)` (which q96's explode and q44's distinct
    * consume literally, so parity must be with the DECLARATIVE pipeline,
    * not with [[WordShingleHashes]]' slightly different legacy
    * tokenization). Tokenization is byte-exact with [[LangProfile]]:
    * UTF8String.toLowerCase/.trim (Lower/StringTrim's own implementations),
    * pieces = byte runs between \s+ runs with limit -1 semantics (leading/
    * trailing separators produce empty pieces, "" tokenizes to [""]).
    * Fewer than n tokens → empty array, like the when() guard it replaces.
    * The declarative form paid an interpreted arrays_zip + transform +
    * concat_ws per row; this emits each shingle as one byte-copy of the
    * already-lowered buffer. Fuzz-pinned by LangProfileParitySpec. */
  case class WordShingles(child: Expression, n: Int)
      extends UnaryExpression {
    require(n >= 1, s"word_shingles: n must be >= 1, got $n")

    override def checkInputDataTypes(): TypeCheckResult =
      if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
      else TypeCheckResult.TypeCheckFailure(s"$prettyName requires string input")
    override def dataType: DataType = ArrayType(StringType, containsNull = false)
    override def prettyName: String = "word_shingles"

    @inline private def isWs(b: Byte): Boolean =
      b == 0x20 || (b >= 0x09 && b <= 0x0D)

    override def nullSafeEval(input: Any): Any = {
      val tb = input.asInstanceOf[UTF8String].toLowerCase.trim.getBytes
      // token spans under split("\s+", -1) semantics
      val starts = new java.util.ArrayList[Integer]()
      val ends = new java.util.ArrayList[Integer]()
      var st = 0
      var j = 0
      while (j < tb.length) {
        if (isWs(tb(j))) {
          starts.add(st); ends.add(j)
          j += 1
          while (j < tb.length && isWs(tb(j))) j += 1
          st = j
        } else j += 1
      }
      starts.add(st); ends.add(tb.length)
      val nTok = starts.size()
      if (nTok < n) new GenericArrayData(Array.empty[Any])
      else {
        val out = new Array[Any](nTok - n + 1)
        var i = 0
        while (i <= nTok - n) {
          var len = n - 1
          var g = 0
          while (g < n) { len += ends.get(i + g) - starts.get(i + g); g += 1 }
          val bytes = new Array[Byte](len)
          var pos = 0
          g = 0
          while (g < n) {
            if (g > 0) { bytes(pos) = 0x20; pos += 1 }
            val s0 = starts.get(i + g); val e0 = ends.get(i + g)
            System.arraycopy(tb, s0, bytes, pos, e0 - s0)
            pos += e0 - s0
            g += 1
          }
          out(i) = UTF8String.fromBytes(bytes)
          i += 1
        }
        new GenericArrayData(out)
      }
    }

    override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val self = ctx.addReferenceObj("wordShinglesKernel", this, classOf[WordShingles].getName)
      nullSafeCodeGen(ctx, ev, c =>
        s"${ev.value} = (org.apache.spark.sql.catalyst.util.ArrayData) $self.nullSafeEval($c);")
    }

    override protected def withNewChildInternal(newChild: Expression): Expression =
      copy(child = newChild)
  }

  /** Distinct word-`n`-gram hashes of `text` ([[WordShingleHashes]]). */
  def shingleHashes(text: Column, n: Int): Column =
    column(WordShingleHashes(expression(text), n))

  /** `k`-slot MinHash signature of a hash set ([[MinHashSig]]). */
  def minhashSig(hashes: Column, k: Int, seed: Long): Column =
    column(MinHashSig(expression(hashes), k, seed))

  /** Exact Jaccard of two hash sets ([[LongSetJaccard]]). */
  def longSetJaccard(a: Column, b: Column): Column =
    column(LongSetJaccard(expression(a), expression(b)))

  /** The fused text-profile struct over the DEFAULT marker table. Identical
    * subtrees in one projection are deduplicated by codegen subexpression
    * elimination, so langId + qualityScore + tokenCount over the same column
    * tokenize once. */
  def langProfile(text: Column): Column =
    column(LangProfile(expression(text), TextFunctions.defaultMarkers))

  /** Word-`n`-gram shingle strings of `text` ([[WordShingles]]). */
  def wordShingles(text: Column, n: Int): Column =
    column(WordShingles(expression(text), n))
}
