package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Dremio→Spark dialect shims (SURVEY.md §4.2.3) — the small function-surface
  * gaps when porting the reference's SQL to Spark semantics.
  */
object DremioDialect {

  /** Translate Dremio/Oracle-style datetime format tokens to Java time
    * patterns: YYYY→yyyy, DD→dd, HH24→HH, HH12→hh, MI→mm, SS→ss, "T"→'T'
    * (reference usage: semantic_example.sql:112-124 `YYYY/MM/DD HH24:MI:SS`).
    * Order matters: multi-char tokens first. */
  def translateFormat(dremio: String): String = {
    var s = dremio
    val repl = Seq(
      "HH24" -> "HH", "HH12" -> "hh", "YYYY" -> "yyyy", "YY" -> "yy",
      "DD" -> "dd", "MI" -> "mm", "SS" -> "ss", "FFF" -> "SSS")
    repl.foreach { case (a, b) => s = s.replace(a, b) }
    // Dremio double-quotes literal text; Java patterns single-quote it.
    s.replace("\"", "'")
  }

  /** The reference's mixed-format timestamp sniffing CASE
    * (semantic_example.sql:110-128): four formats distinguished by
    * REGEXP_LIKE anchors, with an epoch-seconds branch. Returns NULL for
    * unrecognized garbage (the raw layer keeps it; silver filters). */
  def toTimestampMulti(c: Column): Column =
    when(c.rlike("^[0-9]{4}/[0-9]{2}/[0-9]{2} "),
      try_to_timestamp(c, lit("yyyy/MM/dd HH:mm:ss")))
      .when(c.rlike("^[0-9]{4}-[0-9]{2}-[0-9]{2}T"),
        try_to_timestamp(c, lit("yyyy-MM-dd'T'HH:mm:ss'Z'")))
      .when(c.rlike("^[0-9]{2}-[0-9]{2}-[0-9]{4} "),
        try_to_timestamp(c, lit("dd-MM-yyyy HH:mm")))
      .when(c.rlike("^[0-9]{9,10}$"), timestamp_seconds(c.cast("long")))
      .otherwise(lit(null).cast("timestamp"))

  /** Dremio DATEDIFF(end, start) → whole days, end-first, day granularity
    * on timestamps (clinicdata.sql:267 comment documents the order). */
  def datediffDays(end: Column, start: Column): Column =
    datediff(to_date(end), to_date(start))

  /** Dremio DDL type spellings Spark's parser rejects: bare `VARCHAR`
    * (no length — Dremio's canonical string type, clinicdata.sql:43-49)
    * becomes STRING. `VARCHAR(n)` stays as-is (Spark accepts it). */
  def rewriteDdlTypes(stmt: String): String =
    stmt.replaceAll("(?i)\\bVARCHAR\\b(?!\\s*\\()", "STRING")

  /** Strip `/* … */` block comments (semantics.sql:1-7 headers each
    * statement with one); single-quoted strings pass through intact. */
  def stripBlockComments(s: String): String = {
    val sb = new StringBuilder
    var i = 0; var inS = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inS) { sb += c; if (c == '\'') inS = false; i += 1 }
      else if (c == '\'') { inS = true; sb += c; i += 1 }
      else if (c == '/' && i + 1 < s.length && s.charAt(i + 1) == '*') {
        val end = s.indexOf("*/", i + 2)
        i = if (end < 0) s.length else end + 2
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  /** ANSI/Dremio double-quoted identifiers (`SELECT 1 AS "id"`,
    * recipes.sql:5-8; manufacturing.sql's `"value"` column) → Spark
    * backticks. Single-quoted strings pass through intact. */
  def rewriteQuotedIdentifiers(s: String): String = {
    val sb = new StringBuilder
    var i = 0; var inS = false
    while (i < s.length) {
      val c = s.charAt(i)
      if (inS) { sb += c; if (c == '\'') inS = false; i += 1 }
      else if (c == '\'') { inS = true; sb += c; i += 1 }
      else if (c == '"') {
        val end = s.indexOf('"', i + 1)
        if (end < 0) { sb += c; i += 1 }
        else { sb += '`'; sb ++= s.substring(i + 1, end); sb += '`'; i = end + 1 }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  /** `ARRAY['a','b']` / `ARRAY [ … ]` literals (recipes.sql:7,19;
    * ai_classify_examples.sql) → Spark's `array(…)` function call.
    * Bracket- and quote-aware; nested ARRAY[…] handled by re-scan. */
  def rewriteArrayLiterals(s: String): String =
    "(?i)\\bARRAY\\s*\\[".r.findFirstMatchIn(s) match {
      case None => s
      case Some(m) =>
        val open = s.indexOf('[', m.start)
        var i = open + 1; var depth = 1; var inS = false
        while (i < s.length && depth > 0) {
          val c = s.charAt(i)
          if (inS) { if (c == '\'') inS = false }
          else c match {
            case '\'' => inS = true
            case '[' => depth += 1
            case ']' => depth -= 1
            case _ =>
          }
          i += 1
        }
        if (depth != 0) s
        else rewriteArrayLiterals(s.substring(0, m.start) + "array(" +
          s.substring(open + 1, i - 1) + ")" + s.substring(i))
    }

  /** Dremio function names Spark spells differently:
    * ARRAY_TO_STRING → array_join (recipes.sql:19). */
  def rewriteFunctionNames(s: String): String =
    s.replaceAll("(?i)\\bARRAY_TO_STRING\\s*\\(", "array_join(")

  /** Dremio `TO_TIMESTAMP`/`TO_DATE` with a format literal: translate the
    * format tokens (Dremio `YYYY-MM-DD` would silently mean Java week-year /
    * day-of-year), and map the 3-arg replace-error-with-null form
    * (semantic_example.sql:112-124) onto Spark's `try_to_*`. 1-arg calls
    * pass through untouched. */
  def rewriteToTimestamp3(stmt: String): String =
    rewriteDateTimeFrom(stmt, 0)

  private def rewriteDateTimeFrom(stmt: String, from: Int): String = {
    "(?i)\\bTO_(TIMESTAMP|DATE)\\s*\\(".r.findFirstMatchIn(stmt.substring(from)) match {
      case None => stmt
      case Some(m) =>
        val mStart = m.start + from
        val kind = m.group(1).toLowerCase
        val open = stmt.indexOf('(', mStart)
        var i = open + 1; var depth = 1; var inS = false
        val argBreaks = scala.collection.mutable.ArrayBuffer.empty[Int]
        while (i < stmt.length && depth > 0) {
          val c = stmt.charAt(i)
          if (inS) { if (c == '\'') inS = false }
          else c match {
            case '\'' => inS = true
            case '(' | '[' => depth += 1
            case ')' | ']' => depth -= 1
            case ',' if depth == 1 => argBreaks += i
            case _ =>
          }
          i += 1
        }
        if (depth != 0) return stmt
        val close = i - 1
        if (argBreaks.isEmpty || argBreaks.length > 2)
          return rewriteDateTimeFrom(stmt, close + 1)
        val a0 = stmt.substring(open + 1, argBreaks(0)).trim
        val a1End = if (argBreaks.length == 2) argBreaks(1) else close
        val a1 = stmt.substring(argBreaks(0) + 1, a1End).trim
        val fmt =
          if (a1.startsWith("'") && a1.endsWith("'")) {
            val t = translateFormat(a1.substring(1, a1.length - 1))
            // translated Java patterns single-quote literal text ('T');
            // re-wrap those in a double-quoted SQL literal (Spark accepts
            // both quote styles for strings)
            if (t.contains("'")) "\"" + t + "\"" else "'" + t + "'"
          } else a1
        // 3-arg = Dremio's replaceErrorWithNull → Spark try_ variants
        val fn = if (argBreaks.length == 2) s"try_to_$kind" else s"to_$kind"
        val rewritten = stmt.substring(0, mStart) +
          s"$fn($a0, $fmt)" + stmt.substring(close + 1)
        rewriteDateTimeFrom(rewritten, mStart + fn.length)
    }
  }

  /** Rewrite every `AI_GENERATE(<prompt-expr> WITH SCHEMA ROW(f T, ...))`
    * (logistics_AI.sql:126-141, media_ai.sql:94-107 — a DIFFERENT ROW per
    * call site) into Spark SQL:
    * `from_json(ai_generate_json(<prompt-expr>, '<ddl>'), '<ddl>')`.
    * Quote- and paren-aware scan, so `||`-assembled prompts containing
    * parens/quotes pass through intact. 2-arg AI_GENERATE(prompt, file)
    * calls have no WITH SCHEMA clause and are left alone. A TUPLE prompt
    * `('text', file)` (ai_generate.sql:8-12's multimodal form) becomes
    * `concat(text, ': ', cast(file as string))` — prompt plus the file
    * handle, the shape the pluggable backend receives. */
  def rewriteAiGenerate(stmt: String): String = rewriteAiGenerateFrom(stmt, 0)

  /** `('prompt text', file)` → `concat('prompt text', ': ', cast(file as
    * string))`: Dremio's multimodal tuple prompt collapsed to the single
    * string the registered ai_generate_json UDF takes. Non-tuple prompts
    * return unchanged. */
  private def tuplePromptToConcat(prompt: String): String = {
    if (!(prompt.startsWith("(") && prompt.endsWith(")"))) return prompt
    val body = prompt.substring(1, prompt.length - 1)
    var depth = 0; var inS = false; var topComma = -1
    body.zipWithIndex.foreach { case (c, j) =>
      if (inS) { if (c == '\'') inS = false }
      else c match {
        case '\'' => inS = true
        case '(' | '[' => depth += 1
        case ')' | ']' => depth -= 1
        case ',' if depth == 0 && topComma < 0 => topComma = j
        case _ =>
      }
    }
    if (topComma < 0) prompt
    else {
      val p = body.substring(0, topComma).trim
      val f = body.substring(topComma + 1).trim
      s"concat($p, ': ', cast($f as string))"
    }
  }

  private def rewriteAiGenerateFrom(stmt: String, from: Int): String = {
    val marker = "(?i)AI_GENERATE\\s*\\(".r
    marker.findFirstMatchIn(stmt.substring(from)).map(m => (m.start + from)) match {
      case None => stmt
      case Some(mStart) =>
        val open = stmt.indexOf('(', mStart)
        var i = open + 1
        var depth = 1
        var inS = false
        var withSchema = -1 // position of WITH SCHEMA at depth 1
        var rowOpen = -1; var rowClose = -1
        while (i < stmt.length && depth > 0) {
          val c = stmt.charAt(i)
          if (inS) { if (c == '\'') inS = false }
          else c match {
            case '\'' => inS = true
            case '(' =>
              depth += 1
              if (withSchema >= 0 && rowOpen < 0) rowOpen = i
            case ')' =>
              depth -= 1
              if (rowOpen >= 0 && rowClose < 0 && depth == 1) rowClose = i
            case 'W' | 'w' if depth == 1 && withSchema < 0 &&
                stmt.regionMatches(true, i, "WITH", 0, 4) &&
                "(?is)^WITH\\s+SCHEMA\\s+ROW\\s*\\(".r
                  .findPrefixOf(stmt.substring(i)).isDefined =>
              withSchema = i
            case _ =>
          }
          i += 1
        }
        if (depth != 0 || withSchema < 0 || rowOpen < 0 || rowClose < 0)
          // malformed or schema-less call: skip past it, try later sites
          return if (depth == 0) rewriteAiGenerateFrom(stmt, i) else stmt
        val close = i - 1
        val promptExpr = tuplePromptToConcat(
          stmt.substring(open + 1, withSchema).trim)
        val rowBody = stmt.substring(rowOpen + 1, rowClose)
        // split fields on commas OUTSIDE parens (DECIMAL(10,2) stays whole)
        val fields = scala.collection.mutable.ArrayBuffer.empty[String]
        var d2 = 0; var last = 0
        rowBody.zipWithIndex.foreach {
          case ('(', _) => d2 += 1
          case (')', _) => d2 -= 1
          case (',', j) if d2 == 0 => fields += rowBody.substring(last, j); last = j + 1
          case _ =>
        }
        fields += rowBody.substring(last)
        val ddl = fields.map(_.trim).filter(_.nonEmpty).map { f =>
          // "name TYPE" → Spark DDL; VARCHAR→STRING is the only gap
          f.replaceAll("(?i)\\bVARCHAR\\b", "STRING")
        }.mkString(", ").replace("'", "''")
        val rewritten = stmt.substring(0, mStart) +
          s"from_json(ai_generate_json($promptExpr, '$ddl'), '$ddl')" +
          stmt.substring(close + 1)
        rewriteAiGenerateFrom(rewritten, mStart) // handle further call sites
    }
  }
}
