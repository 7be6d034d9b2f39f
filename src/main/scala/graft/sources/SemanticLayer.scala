package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's semantic/context layer (readme.md:420-466, X4): per-dataset
  * wikis and labels, discoverability via semantic search ("surface relevant
  * datasets … even if the keywords don't exactly match the table names" —
  * readme.md:455-459), and dataset lineage (the relationship metadata the MCP
  * server exposes, readme.md:439-452).
  *
  * Spark-first shape: the wiki/label store is session-scoped governance
  * metadata (like [[Catalog.grant]]); search runs as a declarative DataFrame
  * computation over a harvested entry table, so it scales to catalogs with
  * millions of datasets the same way every other query here scales — and the
  * data files themselves are never touched (metadata only).
  *
  * Search semantics: a query matches a dataset through ANY of its name,
  * column names, wiki text, or labels — the wiki/label store is what makes
  * the search "semantic": a search for `client` finds `customer` when the
  * wiki documents it as client master data, exactly the
  * keywords-don't-match-names contract of the reference. Token overlap is
  * exact and deterministic (ANSI-expressible, DuckDB-checkable); a trigram
  * fuzzy score breaks ties for near-miss spellings (`custmer` still ranks
  * `customer` first).
  */
object SemanticLayer {

  private val wikis = scala.collection.mutable.LinkedHashMap.empty[String, String]
  private val labelStore = scala.collection.mutable.LinkedHashMap.empty[String, Seq[String]]

  /** Attach / replace the wiki markdown of a dataset or folder path. */
  def setWiki(path: String, markdown: String): Unit =
    synchronized { wikis(path) = markdown }

  def wiki(path: String): Option[String] = synchronized(wikis.get(path))

  /** Attach labels (tags) to a dataset or folder path, deduplicated. */
  def addLabels(path: String, ls: String*): Unit = synchronized {
    labelStore(path) = (labelStore.getOrElse(path, Nil) ++ ls).distinct
  }

  def clear(): Unit = synchronized { wikis.clear(); labelStore.clear() }

  /** lower-cased a-z0-9 word tokens of a column, empty strings dropped. */
  private def tokens(c: Column): Column =
    filter(split(lower(c), "[^a-z0-9]+"), t => length(t) > 0)

  /** Entry table for an explicit dataset list: one row per dataset with its
    * schema-derived column names plus any attached wiki/labels. */
  def entries(spark: SparkSession, datasets: Seq[(String, DataFrame)]): DataFrame = {
    import spark.implicits._
    synchronized {
      datasets.map { case (path, df) =>
        (path, df.schema.fieldNames.toSeq,
          wikis.getOrElse(path, ""), labelStore.getOrElse(path, Seq.empty[String]))
      }
    }.toDF("path", "columns", "wiki", "labels")
  }

  /** Entry table harvested from the session catalog (current database's
    * tables and temp views), with columns from the catalog's own metadata. */
  def entriesFromCatalog(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val rows = spark.catalog.listTables().collect().toSeq.map { t =>
      val cols =
        try spark.catalog.listColumns(t.name).collect().toSeq.map(_.name)
        catch { case _: Exception => Seq.empty[String] }
      val path = (Option(t.namespace).map(_.toSeq).getOrElse(Nil) :+ t.name).mkString(".")
      synchronized {
        (path, cols, wikis.getOrElse(path, wikis.getOrElse(t.name, "")),
          labelStore.getOrElse(path, labelStore.getOrElse(t.name, Seq.empty[String])))
      }
    }
    rows.toDF("path", "columns", "wiki", "labels")
  }

  /** Exact relevance: distinct-token overlap between the query and the
    * dataset's pooled name/column/wiki/label text. Deterministic integers —
    * the oracle-checkable core of the search. */
  def scored(entries: DataFrame, query: String): DataFrame = {
    val qTokens = query.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty).distinct
    entries
      .withColumn("pool", array_distinct(concat(
        tokens(col("path")),
        tokens(array_join(col("columns"), " ")),
        tokens(col("wiki")),
        tokens(array_join(col("labels"), " ")))))
      .withColumn("score", size(array_intersect(col("pool"), lit(qTokens))))
      .drop("pool")
  }

  /** Character-trigram Jaccard between the query and the dataset name —
    * the fuzzy tie-break that still surfaces `customer` for `custmer`. */
  private def trigramSim(name: Column, query: String): Column = {
    def grams(c: Column): Column = {
      val s = regexp_replace(lower(c), "[^a-z0-9]+", " ")
      array_distinct(filter(
        transform(sequence(lit(0), greatest(length(s) - 3, lit(0))),
          i => substring(s, lit(1) + i, lit(3))),
        g => length(g) === 3))
    }
    val q = grams(lit(query))
    val n = grams(name)
    when(size(n) === 0 || size(q) === 0, lit(0.0))
      .otherwise(size(array_intersect(n, q)).cast("double") /
        size(array_union(n, q)).cast("double"))
  }

  /** Semantic search: rank by exact token overlap, trigram-fuzzy tie-break,
    * path as the final deterministic order. */
  def search(entries: DataFrame, query: String, topK: Int = 10): DataFrame =
    scored(entries, query)
      .withColumn("fuzzy", round(trigramSim(col("path"), query), 6))
      .filter(col("score") > 0 || col("fuzzy") > 0.2)
      .orderBy(col("score").desc, col("fuzzy").desc, col("path"))
      .limit(topK)
      .select(col("path"), col("score"), col("fuzzy"))

  // ── embedding semantic search (the IvfIndex path) ────────────────────────
  //    q67's token+trigram search is the LEXICAL floor of the reference's
  //    semantic-discovery promise (readme.md:455-459); this is the embedding
  //    path on top: the wiki/label texts are embedded (deterministic stub —
  //    no model ships in this sandbox), indexed in a STANDING persisted
  //    [[graft.operators.IvfIndex]], and `semanticSearch` serves every query
  //    from that index merged with the lexical score. At catalog scale
  //    (millions of datasets) the index is the difference between a
  //    per-query full embedding scan and a probed-cells file read; at q131's
  //    scale it is exact (probe-all) and DuckDB-recomputable.

  /** Deterministic STUB embedder — dim-D bag of token lengths: component j
    * counts the distinct tokens whose length ≡ j (mod D). A stand-in for a
    * real text-embedding model (none ships in this sandbox) that keeps the
    * full index/serve plumbing real AND is ANSI-expressible, so the q131
    * oracle recomputes the identical vectors in DuckDB. */
  def stubEmbed(text: Column, dim: Int = 8): Column =
    transform(sequence(lit(0), lit(dim - 1)), j =>
      size(filter(array_distinct(tokens(text)),
        t => pmod(length(t), lit(dim)) === j)).cast("double"))

  /** The text an entry's embedding indexes: the wiki + labels documentation
    * layer (the part of an entry whose words need NOT match any physical
    * name — exactly what the embedding path exists to bridge). */
  private def wikiLabelText: Column =
    concat_ws(" ", col("wiki"), array_join(col("labels"), " "))

  /** Build (or rebuild) the STANDING embedding index for an entry table at
    * `indexRoot` — a persisted [[graft.operators.IvfIndex]] (two snapshot
    * stores: cell-partitioned assignments + centroid generations), so it is
    * versioned, O(delta)-maintainable, and GC'd like every other index. */
  def buildSemanticIndex(spark: SparkSession, entries: DataFrame,
      indexRoot: String, dim: Int = 8, nCells: Int = 4): Long =
    graft.operators.IvfIndex.build(
      entries.select(col("path").as("id"), stubEmbed(wikiLabelText, dim).as("vec")),
      indexRoot, "id", "vec", nCells = nCells)

  /** HYBRID semantic search: exact lexical token overlap ([[scored]])
    * merged with embedding cosine served from the standing index at
    * `indexRoot`. `hybrid = score + semantic` — the integer lexical score
    * dominates, the cosine breaks ties AND surfaces documentation-only
    * matches the tokens miss. `nprobe = nCells` serves exact cosine (the
    * oracle setting); smaller probes trade recall for reading only the
    * probed cells' files. */
  def semanticSearch(spark: SparkSession, entries: DataFrame,
      indexRoot: String, query: String, topK: Int = 10, dim: Int = 8,
      nprobe: Int = 4): DataFrame = {
    import spark.implicits._
    val lex = scored(entries, query).select(col("path"), col("score"))
    val qdf = Seq(query).toDF("qtext")
      .select(lit("__query__").as("qid"), stubEmbed(col("qtext"), dim).as("vec"))
    val sem = graft.operators.IvfIndex
      .topK(spark, indexRoot, qdf, "qid", "vec", k = topK, nprobe = nprobe)
      .select(col("neighbor_id").as("path"), col("sim").as("semantic"))
    lex.join(sem, Seq("path"), "left")
      .withColumn("semantic", coalesce(col("semantic"), lit(0.0)))
      .withColumn("hybrid",
        round(col("score").cast("double") + col("semantic"), 6))
      .filter(col("hybrid") > 0)
      .orderBy(col("hybrid").desc, col("path"))
      .limit(topK)
      .select(col("path"), col("score"), col("semantic"), col("hybrid"))
  }

  /** Dataset lineage: (dataset, depends_on) edges, from each named dataset's
    * analyzed plan leaves — the relationship metadata the reference's MCP
    * server serves (readme.md:443-452). Leaves are file relations (reported
    * as their location) or catalog tables (reported by name). */
  def lineage(spark: SparkSession, datasets: Seq[String]): DataFrame = {
    import spark.implicits._
    val edges = datasets.flatMap { name =>
      val plan = spark.table(name)
        .asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
        .queryExecution.analyzed
      plan.collectLeaves().flatMap {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case h: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              h.location.rootPaths.map(p => name -> p.toString)
            case other => Seq(name -> other.toString)
          }
        case dsv2: org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation =>
          Seq(name -> dsv2.table.name())
        case leaf => Seq(name -> leaf.nodeName)
      }.distinct
    }
    edges.toDF("dataset", "depends_on")
  }

  /** The reference workshop's own documentation layer, re-expressed: wikis +
    * labels for the test warehouse tables (readme.md:461-466 — "document
    * table purpose, usage, and business definitions"). Lowercase prose so
    * token search is tokenizer-stable. Shared with q67's DuckDB oracle,
    * which interpolates the same literals. */
  val referenceWikiSeed: Seq[(String, String, Seq[String])] = Seq(
    ("region", "geographic sales regions reference data", Seq("dimension", "geo")),
    ("nation", "nations within each region reference data", Seq("dimension", "geo")),
    ("customer", "client master data with market segment and account balance", Seq("dimension", "sales")),
    ("supplier", "vendor master data for procurement", Seq("dimension", "procurement")),
    ("part", "product catalog with brand and retail price", Seq("dimension", "catalog")),
    ("orders", "purchase history one row per client order with status and total price", Seq("fact", "sales")),
    ("lineitem", "order line detail revenue quantity discount and tax per shipment", Seq("fact", "sales")),
    ("events", "clickstream activity history user sessions and funnels", Seq("fact", "behavioral")),
    ("documents", "text corpus for training data curation and deduplication", Seq("unstructured", "nlp")),
    ("embeddings", "vector representations for similarity search over the corpus", Seq("unstructured", "ml")))

  /** Install [[referenceWikiSeed]] into the store. Idempotent. */
  def seedReferenceWikis(): Unit = synchronized {
    referenceWikiSeed.foreach { case (path, w, ls) =>
      wikis(path) = w
      labelStore(path) = ls
    }
  }
}
