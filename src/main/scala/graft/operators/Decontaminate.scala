package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._

/** Train/eval decontamination — the overlap check every LLM training
  * pipeline runs before shipping a split: an eval document that shares a
  * long-enough n-gram with any training document leaks the benchmark into
  * the training set (reference behavior class: the workshop's
  * quality/reconciliation gates, applied to the ML-data domain).
  *
  * Scale design (100 TB): both corpora project to (docId, distinct shingle
  * HASH) map-side — 8-byte keys, never shingle strings — then ONE shuffle
  * equi-join on the hash keyed by shingle. No all-pairs document compare
  * exists anywhere: cost is linear in total shingle count, like the
  * MinHash bucket joins ([[Dedup]]). A 64-bit hash collision could in
  * principle link two unrelated docs (~n²/2⁶⁴ for n distinct shingles);
  * flagged docs are meant for removal or manual review, where a
  * false-positive rate of that order is immaterial.
  */
object Decontaminate {

  /** Shingle-hash projection: one row per (id, distinct n-gram hash). */
  private def grams(df: DataFrame, idCol: String, textCol: String,
                    n: Int, idAs: String): DataFrame =
    // shingle + per-gram hashing is compute-dense; an under-split scan
    // (e.g. one parquet file) serializes it — fan out first (identity at
    // real scan widths; see ScaleOps.fanOutForKernels)
    graft.ops.ScaleOps.fanOutForKernels(df)
      .select(col(idCol).as(idAs),
        explode(array_distinct(transform(
          shingles(tokens(col(textCol)), n), g => xxhash64(g)))).as("__g"))

  /** For each eval doc sharing at least one n-token shingle with the
    * training corpus: how many train docs it collides with and how many
    * distinct shingles leak. Eval docs with no overlap are absent (clean). */
  def overlapReport(train: DataFrame, eval: DataFrame, idCol: String,
                    textCol: String, n: Int = 5): DataFrame = {
    val tr = grams(train, idCol, textCol, n, "__train_id")
    val te = grams(eval, idCol, textCol, n, "__eval_id")
    te.join(tr, "__g")
      .groupBy(col("__eval_id").as("eval_doc"))
      .agg(countDistinct(col("__train_id")).as("n_train_docs"),
        countDistinct(col("__g")).as("n_shared_shingles"))
  }

  /** Serialized Bloom filter over the eval side's distinct shingle hashes:
    * `Some(bytes)` = the filter, `numBits/8` bytes, independent of train
    * volume; `None` = the eval corpus yields no shingles, so nothing can
    * overlap. One eager pass over the (small by premise) eval side —
    * nothing is cached, so there is no persist lifecycle to manage. */
  def evalShingleFilter(eval: DataFrame, idCol: String, textCol: String,
                        n: Int = 5, expectedEvalShingles: Long = 1L << 20,
                        bitsPerItem: Int = 8): Option[Array[Byte]] = {
    import graft.functions.BloomFunctions
    val agg = BloomFunctions.bloomAgg(col("__g"), expectedEvalShingles,
      expectedEvalShingles * bitsPerItem)
    Option(grams(eval, idCol, textCol, n, "__eval_id")
      .select(agg).head.getAs[Array[Byte]](0))
  }

  /** [[overlapReport]] with a prebuilt eval-side filter (from
    * [[evalShingleFilter]] or [[standingEvalFilter]]) probed map-side on the
    * train shingles BEFORE the shuffle; a `None` filter (empty eval
    * corpus) yields no rows. */
  def overlapReportWithFilter(train: DataFrame, eval: DataFrame,
                              idCol: String, textCol: String, n: Int,
                              filter: Option[Array[Byte]]): DataFrame = {
    import graft.functions.BloomFunctions
    val tr = grams(train, idCol, textCol, n, "__train_id")
    val te = grams(eval, idCol, textCol, n, "__eval_id")
    val filtered = filter match {
      case None => tr.limit(0) // empty eval: nothing can overlap
      case Some(bytes) =>
        // reference-object probe: the ~1 MB serialized filter must NOT ride
        // the plan as a literal (driver-side plan handling cost, see
        // BloomFunctions.BloomProbe)
        tr.filter(BloomFunctions.probe(bytes, col("__g")))
    }
    te.join(filtered, "__g")
      .groupBy(col("__eval_id").as("eval_doc"))
      .agg(countDistinct(col("__train_id")).as("n_train_docs"),
        countDistinct(col("__g")).as("n_shared_shingles"))
  }

  /** [[overlapReport]] with a Bloom pre-filter on the TRAIN side — the
    * 100 TB formulation. The plain report shuffles every train shingle
    * hash into the equi-join, but decontamination is wildly asymmetric:
    * eval benchmarks are MBs–GBs while the training corpus is the 100 TB
    * side, and almost none of its shingles match anything. Building a
    * Bloom filter over the EVAL shingle hashes (size `numBits/8` bytes —
    * independent of train volume) and probing it map-side BEFORE the
    * shuffle cuts the train-side shuffle from |train shingles| rows to
    * |true overlap| + fpp·|train shingles|.
    *
    * Results are IDENTICAL to [[overlapReport]]: a false positive merely
    * sends one extra row into the exact equi-join, where it fails to
    * match. q93 registers this path under q80's oracle, so the identity
    * is driver-hash-checked, not just asserted.
    *
    * The driver collects only the serialized filter (bounded by
    * `expectedEvalShingles` — like IVF's bounded training sample, never
    * data-proportional).
    */
  def overlapReportBloom(train: DataFrame, eval: DataFrame, idCol: String,
                         textCol: String, n: Int = 5,
                         expectedEvalShingles: Long = 1L << 20,
                         bitsPerItem: Int = 8): DataFrame =
    overlapReportWithFilter(train, eval, idCol, textCol, n,
      evalShingleFilter(eval, idCol, textCol, n,
        expectedEvalShingles, bitsPerItem))

  // --- Standing filter state ------------------------------------------------
  //
  // Eval benchmarks change rarely; training waves arrive continuously. The
  // filter is a pure function of (eval corpus version, shingle n, sizing),
  // so it is built ONCE per eval version, persisted, and reloaded per train
  // wave — the same _COMMIT-last crash-safe layout as DedupStream state:
  // `dir/bloom_<version>/{filter.bin,_COMMIT}`, all through the Hadoop FS
  // API so the store may live on file://, hdfs:// or s3a:// alike. An empty
  // eval corpus commits a zero-length filter.bin (real serialized filters
  // are never empty).

  private def fsOf(spark: org.apache.spark.sql.SparkSession, dir: String) =
    new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Persist a built filter under `dir` for `version` (`None`, the empty
    * eval corpus, commits the zero-length sentinel). */
  def saveEvalFilter(spark: org.apache.spark.sql.SparkSession, dir: String,
                     version: String, filter: Option[Array[Byte]]): Unit = {
    val fs = fsOf(spark, dir)
    val vDir = s"$dir/bloom_$version"
    val marker = new org.apache.hadoop.fs.Path(s"$vDir/_COMMIT")
    fs.delete(marker, false) // retract before rewrite, as DedupStream does
    val out = fs.create(new org.apache.hadoop.fs.Path(s"$vDir/filter.bin"), true)
    try out.write(filter.getOrElse(Array.emptyByteArray))
    finally out.close()
    require(fs.createNewFile(marker), s"commit $marker")
  }

  /** Read back a committed filter for `version`: `None` = never committed;
    * `Some(None)` = committed empty-eval sentinel; `Some(Some(bytes))` =
    * the filter. */
  def loadEvalFilter(spark: org.apache.spark.sql.SparkSession, dir: String,
                     version: String): Option[Option[Array[Byte]]] = {
    val fs = fsOf(spark, dir)
    val vDir = s"$dir/bloom_$version"
    if (!fs.exists(new org.apache.hadoop.fs.Path(s"$vDir/_COMMIT"))) None
    else {
      val p = new org.apache.hadoop.fs.Path(s"$vDir/filter.bin")
      val len = fs.getFileStatus(p).getLen.toInt
      if (len == 0) Some(None)
      else {
        val buf = new Array[Byte](len)
        val in = fs.open(p)
        try in.readFully(0, buf) finally in.close()
        Some(Some(buf))
      }
    }
  }

  /** SEMANTIC decontamination: the embedding-space analog of the n-gram
    * overlap report — catches paraphrased/reworded eval leakage that shares
    * no 5-gram with the eval set. Per eval vector: how many train vectors
    * sit above the cosine `threshold`, and the closest one's similarity.
    *
    * Scale shape (the reason this is EXACT, not LSH): eval benchmarks are
    * tiny and the training corpus is the 100 TB side, so the eval vectors
    * BROADCAST and the compare is one map-only pass over the train scan —
    * O(|train|·|eval|) with |eval| bounded ⇒ linear in the corpus, no
    * shuffle of train rows at all (the only exchange is the per-eval-vec
    * aggregation of hit counts, bounded by |eval|). An LSH prefilter would
    * only save compute at the cost of recall on the exact class of pair
    * this report exists to catch (barely-above-threshold paraphrases).
    *
    * GUARD (VERDICT r9 #5): the broadcast is correct only while eval is
    * small — its defining property, but nothing used to enforce it, and an
    * oversized "eval" frame would OOM the driver/executors rather than
    * degrade. Eval's row count is now probed with a bounded
    * `limit(max+1).count()` (never a full scan of a huge frame); past
    * `maxBroadcastEvalRows` the compare falls back to a BLOCKED exact
    * equi-join (the `cosinePairsAboveBlocked` pattern): train rows hash
    * into `fallbackBuckets` buckets (each train row in exactly one bucket,
    * so every pair is compared exactly once), eval is replicated once per
    * bucket, and the pairwise compare becomes a shuffled equi-join on the
    * bucket id — train is still read once, per-task state spills instead
    * of OOMing, and the report is identical. */
  def semanticOverlapReport(train: DataFrame, eval: DataFrame, idCol: String,
                            vecCol: String, threshold: Double,
                            maxBroadcastEvalRows: Long = 1000000L,
                            fallbackBuckets: Int = 64): DataFrame = {
    import graft.functions.VectorFunctions.asDouble
    val cos = graft.functions.NativeVectorExpressions.cosineFast _
    val tr = train.select(col(idCol).as("__tid"), asDouble(col(vecCol)).as("__tv"))
    val ev = eval.select(col(idCol).as("eval_vec"), asDouble(col(vecCol)).as("__ev"))
    val probeLimit = math.min(maxBroadcastEvalRows, Int.MaxValue - 1L).toInt + 1
    val evalRows = ev.limit(probeLimit).count()
    val paired =
      if (evalRows <= maxBroadcastEvalRows) tr.crossJoin(broadcast(ev))
      else {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"semanticOverlapReport: eval side exceeds $maxBroadcastEvalRows rows; " +
            s"using the blocked equi-join fallback ($fallbackBuckets buckets) " +
            "instead of broadcasting")
        val trB = tr.withColumn("__b",
          pmod(hash(col("__tid")), lit(fallbackBuckets)))
        val evB = ev.withColumn("__b",
          explode(sequence(lit(0), lit(fallbackBuckets - 1))))
        trB.join(evB, Seq("__b")).drop("__b")
      }
    paired
      .withColumn("__sim", cos(col("__tv"), col("__ev")))
      .filter(col("__sim") >= threshold)
      .groupBy(col("eval_vec"))
      .agg(count(lit(1)).as("n_train_hits"),
        round(max(col("__sim")), 6).as("max_sim"))
  }

  /** Load the committed filter for `version`, or build it from `eval` and
    * commit it. `None` = the empty eval corpus. */
  def standingEvalFilter(spark: org.apache.spark.sql.SparkSession,
                         dir: String, version: String, eval: DataFrame,
                         idCol: String, textCol: String, n: Int = 5,
                         expectedEvalShingles: Long = 1L << 20,
                         bitsPerItem: Int = 8): Option[Array[Byte]] =
    loadEvalFilter(spark, dir, version).getOrElse {
      val built = evalShingleFilter(eval, idCol, textCol, n,
        expectedEvalShingles, bitsPerItem)
      saveEvalFilter(spark, dir, version, built)
      built
    }
}
