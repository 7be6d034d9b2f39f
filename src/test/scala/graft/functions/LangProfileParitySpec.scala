package graft.functions

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Parity pin for the fused `lang_profile` kernel (r21): langId /
  * qualityScore / tokenCount over the kernel must be IDENTICAL to the
  * declarative formulations they replaced (which the DuckDB oracle mirrors
  * in SQL), on adversarial fuzz input and on the real corpus.
  *
  * The fuzz alphabet deliberately hits every semantic seam the kernel
  * re-implements: Spark trim (0x20 only) vs other whitespace, the six
  * Java-regex \s chars vs NBSP/ideographic space (NOT separators), ASCII vs
  * locale lowercasing (İ, ß, É), CJK range boundaries (U+4DFF/U+4E00/
  * U+9FFF/U+A000), supplementary code points (emoji — 2 chars, 1 code
  * point), marker words glued to junk (no match) and repeated (occurrence
  * counts, not distinct), 8-byte-boundary tokens, NUL bytes, empty strings
  * and nulls.
  */
class LangProfileParitySpec extends SparkSpec {

  private def fuzzDocs: Seq[String] = {
    val rnd = new scala.util.Random(20260819L)
    val markerWords = TextFunctions.defaultMarkers.flatMap(_._2)
    val pieces: IndexedSeq[String] = (
      markerWords ++
      markerWords.map(_.toUpperCase) ++
      markerWords.map(w => w.head.toUpper + w.tail) ++
      Seq("䷿", "一", "鿿", "ꀀ", "中文",
        ".", ",", "!", "?", ";", ":", "-", "'", "\"",
        " ", "\t", "\n", "\r", "\f", "\u000B", " ", "　",
        "😀", "É", "ß", "İ", "STRASSE", "Σ", "ΣΣ",
        "zzzzzzzz", "zzzzzzzzz", "qqq", "x", "\u0000x",
        "the.", ".the", "the,and", "theÉ", "th e", "\u0000", "a\u0000b")
    ).toIndexedSeq
    val docs = (1 to 600).map { _ =>
      val n = rnd.nextInt(30)
      val sb = new StringBuilder
      (1 to n).foreach { _ =>
        sb.append(pieces(rnd.nextInt(pieces.length)))
        if (rnd.nextInt(3) != 0) sb.append(" ")
      }
      sb.toString
    }
    docs ++ Seq("", " ", "  ", "\t", "\t ", " \t", "the", "THE", " the ",
      "the the und und", "el el el", "le la de que", "und la", null)
  }

  test("lang_profile: langId/qualityScore/tokenCount match the declarative forms on fuzz input") {
    import spark.implicits._
    val df = fuzzDocs.toDF("text")
    // sanity: the kernel is actually in the plan (not silently fallen back)
    val plan = df.select(TextFunctions.langId(col("text"))).queryExecution
      .analyzed.toString
    assert(plan.contains("lang_profile"), s"kernel missing from plan:\n$plan")
    val rows = df.select(
      col("text"),
      TextFunctions.langId(col("text")).as("lang_k"),
      TextFunctions.langIdDeclarative(col("text"),
        TextFunctions.defaultMarkers).as("lang_d"),
      TextFunctions.qualityScore(col("text")).as("q_k"),
      TextFunctions.qualityScoreDeclarative(col("text")).as("q_d"),
      TextFunctions.tokenCount(col("text")).as("nt_k"),
      size(TextFunctions.tokens(col("text"))).as("nt_d")).collect()
    rows.foreach { r =>
      val doc = Option(r.getString(0)).map(_.take(80)).orNull
      assert(r.get(1) == r.get(2), s"langId mismatch on <$doc>: ${r.get(1)} vs ${r.get(2)}")
      assert(r.get(3) == r.get(4), s"qualityScore mismatch on <$doc>: ${r.get(3)} vs ${r.get(4)}")
      assert(r.get(5) == r.get(6), s"tokenCount mismatch on <$doc>: ${r.get(5)} vs ${r.get(6)}")
    }
  }

  test("lang_profile: parity on the real sf corpus") {
    val mismatches = sf("documents").select(
      TextFunctions.langId(col("text")).as("lang_k"),
      TextFunctions.langIdDeclarative(col("text"),
        TextFunctions.defaultMarkers).as("lang_d"),
      TextFunctions.qualityScore(col("text")).as("q_k"),
      TextFunctions.qualityScoreDeclarative(col("text")).as("q_d"),
      TextFunctions.tokenCount(col("text")).as("nt_k"),
      size(TextFunctions.tokens(col("text"))).as("nt_d"))
      .filter(!(col("lang_k") <=> col("lang_d")) ||
        !(col("q_k") <=> col("q_d")) || !(col("nt_k") <=> col("nt_d")))
      .count()
    assert(mismatches === 0L)
  }

  test("lang_profile: known-value spot checks (tie-break, zero hits, CJK, null)") {
    import spark.implicits._
    val df = Seq(
      ("the und", "en"),            // 1-1 tie → earliest language wins
      ("und the the", "en"),        // en 2 beats de 1
      ("xyz qqq", "unknown"),       // zero marker hits
      ("the 中文", "zh"),   // any CJK code point → zh regardless
      ("", "unknown")
    ).toDF("text", "expect")
    df.select(TextFunctions.langId(col("text")).as("got"), col("expect"))
      .collect().foreach(r => assert(r.getString(0) === r.getString(1)))
    val nulls = Seq[Option[String]](None).toDF("text")
      .select(TextFunctions.langId(col("text")), TextFunctions.qualityScore(col("text")),
        TextFunctions.tokenCount(col("text"))).collect()(0)
    assert(nulls.getString(0) === "unknown") // when(null) → otherwise branch
    // least/greatest SKIP nulls, so null text scores 0.4*0 + 0.3*0 + 0.3*1
    // on both the kernel and the declarative path (fuzz pins the equality)
    assert(nulls.getDouble(1) === 0.3)
    assert(nulls.isNullAt(2))
  }

  test("word_shingles: position-for-position parity with shingles(tokens(text), n) on fuzz input") {
    import spark.implicits._
    val df = fuzzDocs.toDF("text")
    Seq(1, 2, 3, 5).foreach { n =>
      val rows = df.select(
        col("text"),
        NativeTextExpressions.wordShingles(col("text"), n).as("k"),
        TextFunctions.shingles(TextFunctions.tokens(col("text")), n).as("d")).collect()
      rows.foreach { r =>
        val doc = Option(r.getString(0)).map(_.take(60)).orNull
        assert(r.get(1) == r.get(2),
          s"word_shingles(n=$n) mismatch on <$doc>: ${r.get(1)} vs ${r.get(2)}")
      }
    }
    // real corpus, the two consumed arities
    Seq(2, 3).foreach { n =>
      val bad = sf("documents").select(
        NativeTextExpressions.wordShingles(col("text"), n).as("k"),
        TextFunctions.shingles(TextFunctions.tokens(col("text")), n).as("d"))
        .filter(!(col("k") <=> col("d"))).count()
      assert(bad === 0L, s"n=$n corpus mismatches: $bad")
    }
  }
}
