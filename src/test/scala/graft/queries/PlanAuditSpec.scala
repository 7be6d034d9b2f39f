package graft.queries

import graft.{SparkEntry, SparkSpec}

/** Plan-level guardrails over the whole query registry: the properties that
  * make these queries viable at 100 TB are asserted on the optimized
  * physical plans, so a regression (a lost equi-key, a filter that stops
  * pushing down) fails CI before it becomes a runtime cliff.
  */
class PlanAuditSpec extends SparkSpec {

  private val sfDir = graft.SparkSpec.sfDir

  /** Queries whose semantics REQUIRE a non-equi pair join (exact O(n²)
    * baselines over the small embeddings table — documented in
    * ARCHITECTURE.md; the LSH/IVF variants are their scale path). */
  private val intendedNonEqui = Set(
    "q46_ann_bruteforce",   // corpus × broadcast queries, id <> id
    // q48 is a blocked equi-join since round 3 — no longer whitelisted
    "q47_ann_lsh",          // embeds the exact baseline for its recall audit
    "q49_ann_ivf",          // nprobe = nCells ⇒ exact serve: corpus ×
                            // BROADCAST query batch (bounded by the serve
                            // contract), id <> id — the same deliberate
                            // shape as q46/q98 (r21 all-cells shortcut)
    "q49b_ann_ivf_recall",  // embeds the exact baseline for its recall audit
    "q126_ann_index",       // probe-all serve row takes the same exact
                            // shortcut: pruned cells × broadcast queries
    "q131_semantic_hybrid_search", // its vector leg serves nprobe = nCells
                            // → same exact-serve broadcast shape
    "q98_semantic_decontam", // train × BROADCAST eval: |eval| bounded, the
                            // compare is map-only over the train scan — the
                            // deliberate exact-recall decontamination design
    "q101_rollback",        // × a ONE-ROW scalar (the commit log's rollback
                            // count) — a broadcast of a single row, constant
                            // cost at any table size
    "q103_branch_wap",      // × a ONE-ROW scalar (the tag's row count) —
                            // same constant-cost single-row broadcast
    "q107_vacuum_retention", // × TWO one-row scalars (tagged count, version
                            // count) — constant-cost single-row broadcasts
    "q108_schema_evolution", // × a ONE-ROW scalar (the v0 time-travel count)
                            // — same constant-cost single-row broadcast
    "q111_mor_update",      // × a ONE-ROW scalar (the commit log's recorded
                            // row count) — constant-cost single-row broadcast
    "q112_stream_append",   // × a ONE-ROW scalar (the append-commit count)
                            // — constant-cost single-row broadcast
    "q114_type_widening",   // × a ONE-ROW scalar (the v0 time-travel sum)
                            // — constant-cost single-row broadcast
    "q115_mor_merge"        // × a ONE-ROW scalar (the head commit's op name)
                            // — constant-cost single-row broadcast
  )

  test("no query plan contains an unintended cartesian or nested-loop join") {
    val offenders = SparkEntry.allQueries.flatMap { q =>
      val plan =
        try q.run(spark, sfDir).queryExecution.executedPlan.toString
        catch { case e: Throwable => fail(s"${q.name} failed to plan: ${e.getMessage}") }
      val bad = plan.contains("CartesianProduct") ||
        plan.contains("BroadcastNestedLoopJoin")
      if (bad && !intendedNonEqui.contains(q.name)) Some(q.name) else None
    }
    assert(offenders.isEmpty,
      s"unintended cartesian/nested-loop joins in: ${offenders.mkString(", ")}")
  }

  test("scan-heavy fact queries push their filters into the parquet scan") {
    val q01 = SparkEntry.queries("q01_pricing_summary")(spark, sfDir)
    val plan = q01.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"shipdate filter not pushed:\n$plan")
    val q26 = SparkEntry.queries("q26_between_in")(spark, sfDir)
    val plan26 = q26.queryExecution.executedPlan.toString
    assert(plan26.contains("PushedFilters") && plan26.contains("GreaterThanOrEqual(o_orderdate"),
      s"between bounds not pushed:\n$plan26")
  }

  test("round-9 curation operators keep their scale-sane physical shapes") {
    // q96: heavy-hitter top-k = TakeOrdered over a hash aggregate — never a
    // global sort of the n-gram inventory, never a window
    val q96 = SparkEntry.queries("q96_top_ngrams")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(q96.contains("TakeOrderedAndProject"), s"q96 lost TakeOrdered:\n$q96")
    assert(!q96.contains("Window"), s"q96 grew a window:\n$q96")
    // q97: the cap is a two-phase bounded top-K aggregate — NO window at
    // all (r10: the per-source window serialized a hot source through one
    // task; partial_topk_min keeps ≤K elements map-side, so the shuffle
    // carries partials, not the source's row set)
    val q97 = SparkEntry.queries("q97_source_cap")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(!q97.contains("Window"), s"q97 regressed to a window:\n$q97")
    assert(q97.contains("ObjectHashAggregate") && q97.contains("partial_topk_min"),
      s"q97 not a two-phase bounded aggregate:\n$q97")
    // q98: the eval side must BROADCAST (the design that keeps the exact
    // cosine pass linear in the train corpus) — the nested-loop join is the
    // intended shape here, whitelisted above
    val q98 = SparkEntry.queries("q98_semantic_decontam")(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(q98.contains("BroadcastNestedLoopJoin"), s"q98 eval not broadcast:\n$q98")
    assert(!q98.contains("CartesianProduct"), s"q98 fell back to cartesian:\n$q98")
  }

  test("curation rows run their native kernels") {
    // Each row's executed plan must name the kernel its operator builds, so
    // a slide back to a declarative formulation fails here rather than only
    // in a benchmark. q72/q90/q92 evaluate their pair pipeline while the
    // frame is built (their plans are local-relation tails); the near-dup
    // pipeline test below pins that subplan's kernels instead.
    val kernels = Seq(
      "q42_dedup_minhash_lsh" -> Seq("shingle_hashes", "minhash_sig", "long_set_jaccard"),
      "q44_ngram_jaccard" -> Seq("word_shingles"),
      "q46_ann_bruteforce" -> Seq("vec_cosine", "partial_topk_min"),
      "q47_ann_lsh" -> Seq("hyperplane_bits", "vec_cosine", "partial_topk_min"),
      "q48_embedding_neardup" -> Seq("vec_cosine"),
      "q49_ann_ivf" -> Seq("vec_cosine", "partial_topk_min"),
      "q49b_ann_ivf_recall" -> Seq("vec_dot", "vec_cosine", "partial_topk_min"),
      "q51_lang_quality" -> Seq("lang_profile"),
      "q52_source_profile" -> Seq("lang_profile"),
      "q76_curation_pipeline" -> Seq("lang_profile"),
      "q79_neardup_lsh" -> Seq("hyperplane_bits", "vec_cosine"),
      "q93_bloom_decontamination" -> Seq("graft_bloom_probe"),
      "q96_top_ngrams" -> Seq("word_shingles"),
      "q97_source_cap" -> Seq("partial_topk_min"),
      "q98_semantic_decontam" -> Seq("vec_cosine"),
      "q126_ann_index" -> Seq("vec_cosine", "partial_topk_min"),
      "q131_semantic_hybrid_search" -> Seq("vec_cosine", "partial_topk_min"))
    kernels.foreach { case (name, want) =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      val missing = want.filterNot(plan.contains)
      assert(missing.isEmpty, s"$name: kernels ${missing.mkString(", ")} not in plan:\n$plan")
    }
  }

  test("round-10 row-level DML reads keep their scale-sane physical shapes") {
    // The merge-on-read equality-delete resolves as a BROADCAST anti-join
    // over the base scan — the delete file is small by the mode's own
    // selection criterion, so the base data side must never shuffle to
    // apply it (a takedown delete's read cost at 100 TB is one map-side
    // probe, not a join shuffle). q99's LATEST version is a full base again
    // (the MERGE materialized the outstanding deletes — the lifecycle
    // working as designed), so the shape is pinned on the mid-lifecycle
    // version that still carries the delete file.
    val (root, _, _) = DataPipelineQueries.dmlFixture(spark, sfDir)
    val st = new graft.sources.SnapshotTable(spark, root)
    val morV = st.history().orderBy("version").collect()
      .filter(_.getString(2) == "mor-delete").map(_.getLong(0)).last
    val plan = st.read(Some(morV)).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"mor-delete read not a broadcast anti-join:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"mor-delete read shuffled the base side:\n$plan")
    // and the full-lifecycle latest read is back to a bare scan: no join
    // residue after the merge rewrote a full base.
    val latest = st.read().queryExecution.executedPlan.toString
    assert(!latest.contains("Join"), s"post-merge latest read kept a join:\n$latest")
  }

  test("dimension joins broadcast instead of shuffling the fact side") {
    Seq("q11_customer_spend", "q12_region_revenue", "q13_interval_join").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), s"$name: no broadcast join:\n$plan")
      assert(!plan.contains("SortMergeJoin"), s"$name: unexpected SMJ at this scale")
    }
  }

  test("the near-dup pair pipeline keeps its budgeted shuffle shape") {
    // PLAN_BUDGETS can no longer see the q72/q92 pairs pipeline: the CC
    // small-graph probe evaluates it at DataFrame-construction time, so the
    // recorded executedPlan is just the local-relation tail (r20 review
    // finding). Guard the heavy subplan directly: candidate generation +
    // Jaccard verify must stay a banded equi-join chain — 6 shuffle
    // exchanges (index fan-out, 2 band-join sides, pair distinct, 2 verify
    // join sides) and no sort (AQE broadcasts replace the verify shuffles at
    // runtime; the static plan is the upper bound the budget pins).
    import org.apache.spark.sql.functions._
    import graft.operators.Dedup
    spark.catalog.clearCache()
    val d = graft.Tables(spark, sfDir, "documents")
    val seeded = d.unionAll(
      d.filter(col("doc_id") % 10 === 0)
        .withColumn("doc_id", col("doc_id") + lit(1000000L))
        .withColumn("text", concat(col("text"), lit(" appended marker token"))))
    val pairs = Dedup.nearDupPairs(seeded, "doc_id", "text", threshold = 0.5,
      k = 128, bands = 32)
    val plan = pairs.queryExecution.executedPlan.toString
    val (sh, so) = graft.plans.PlanCounts.shuffleSortCounts(plan)
    assert(sh <= 6 && so <= 1,
      s"near-dup pair pipeline grew shuffles/sorts: $sh/$so (budget 6/1):\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"near-dup pair pipeline lost its equi-join shape:\n$plan")
    Seq("shingle_hashes", "minhash_sig", "long_set_jaccard").foreach { k =>
      assert(plan.contains(k), s"near-dup pair pipeline lost its $k kernel:\n$plan")
    }
    spark.catalog.clearCache()
  }

  test("q70's per-case fuzz plans keep their shuffle budget") {
    // q70's registry plan is a union over per-case results materialized at
    // construction time (r21 pooling), so PLAN_BUDGETS records 0 exchanges
    // for it — the ratchet went blind to the 30 plans that actually run.
    // Pin them directly: every generated case must stay within the measured
    // 2-shuffle / 2-sort budget and keep equi-join shapes.
    val cases = graft.tools.Fuzz.gen(FuzzQueries.Seed, FuzzQueries.N,
      singleAgg = true)
    cases.zipWithIndex.foreach { case (c, i) =>
      val plan = graft.tools.Fuzz.normalizedDf(spark, sfDir, c)
        .queryExecution.executedPlan.toString
      val (sh, so) = graft.plans.PlanCounts.shuffleSortCounts(plan)
      assert(sh <= 2 && so <= 2,
        s"fuzz case $i grew shuffles/sorts: $sh/$so (budget 2/2):\n$plan")
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"),
        s"fuzz case $i lost its equi-join shape:\n$plan")
    }
  }

  test("every oracle query has matching column names on both sides (static check)") {
    // static guard: every AS alias in the oracle's FINAL top-level SELECT
    // list appears in the Spark result's schema, catching alias drift before
    // the driver's hash compare. The select list is located with a
    // paren-depth scan (CTE bodies and subqueries are at depth > 0).
    def finalSelectList(sql: String): String = {
      val s = sql
      var depth = 0
      var lastSelect = -1
      var i = 0
      while (i < s.length) {
        s.charAt(i) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case 'S' | 's' if depth == 0 && s.regionMatches(true, i, "SELECT", 0, 6) =>
            lastSelect = i
          case _ =>
        }
        i += 1
      }
      if (lastSelect < 0) return ""
      // cut at the matching top-level FROM
      var j = lastSelect; depth = 0; var end = s.length
      while (j < s.length && end == s.length) {
        s.charAt(j) match {
          case '(' => depth += 1
          case ')' => depth -= 1
          case 'F' | 'f' if depth == 0 && s.regionMatches(true, j, "FROM", 0, 4) => end = j
          case _ =>
        }
        j += 1
      }
      s.substring(lastSelect, end)
    }
    val typeNames = Set("double", "integer", "bigint", "varchar", "date",
      "timestamp", "decimal")
    SparkEntry.allQueries.filter(_.oracle.isDefined).foreach { q =>
      val cols = q.run(spark, sfDir).columns.map(_.toLowerCase).toSet
      val aliases = "(?i)AS\\s+([a-z_][a-z0-9_]*)".r
        .findAllMatchIn(finalSelectList(q.oracle.get))
        .map(_.group(1).toLowerCase).toSet
        .diff(typeNames) // CAST(x AS <type>) false positives
      val missing = aliases.diff(cols)
      assert(missing.isEmpty,
        s"${q.name}: oracle aliases $missing not in Spark columns ${cols.mkString(",")}")
    }
  }
}
