package graft.api

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.etl.{Enrich, Staging, UrlFunctions}
import graft.model.EdgeTypes
import graft.query.GraphQueries
import graft.store.GraphStore

/** The reference's serving surface (EP2/EP3 — every Flask route in
  * dockerapp/app/main.py) as a Scala facade over the engine. A user
  * of the reference maps each route 1:1:
  *
  *   GET  /            → [[index]]            (main.py:181-215)
  *   GET  /graph_data  → [[graphData]]        (main.py:435-484)
  *   POST /upload_csv  → [[uploadCsv]]        (main.py:217-356)
  *   POST /add_link    → [[addLink]]          (main.py:358-433)
  *   POST /delete_link → [[deleteLink]]       (main.py:486-498)
  *
  * Writes are micro-batch upserts (set-oriented J7/J6), not row
  * loops; the duplicate pre-check (J4) runs as an anti-join *before*
  * the expensive enrich stages, preserving the reference's
  * cost-hiding order (SURVEY §4).
  */
final class GraphService(
    spark: SparkSession,
    store: GraphStore,
    fetcher: Enrich.Fetcher,
    cleaner: Enrich.Cleaner,
    classifier: Enrich.Classifier,
    /** When set, every mutation ends with a 7-col CSV snapshot to this
      * path — the reference calls save_to_csv() after each write
      * (main.py:350,:427,:492). */
    snapshotPath: Option[String] = None,
    /** When set, the corpus-scale tables (link nodes, both edge sets)
      * live hash-partitioned into this many buckets and each upsert
      * rewrites ONLY the buckets the batch touches — O(touched
      * partitions) ingest I/O instead of the flat layout's O(store)
      * full rewrite per micro-batch. The dimension tables (category,
      * keyword: bounded vocabularies) stay flat single-footer datasets
      * so Catalyst keeps broadcast-joining them for free. Results are
      * bit-identical to the flat path — same J7 merge semantics, the
      * layout column never escapes the store. */
    storeBuckets: Option[Int] = None) {

  import spark.implicits._

  private def snapshot(): Unit = snapshotPath.foreach(saveToCsv)

  /** GET / : the 10-col link listing (with the reference's display
    * fallbacks applied, main.py:186-196) plus cross-category
    * interconnections — the two queries the reference serves from a
    * warm embedded database. Both are a [[GraphStore.cachedRead]] per
    * `interconnectionLimit`: repeated calls between two writes return
    * the same persisted frames, and the next write of a table they
    * read drops them. */
  def index(interconnectionLimit: Int = 100): (DataFrame, DataFrame) = {
    val Seq(listing, inter) = store.cachedRead(s"index/$interconnectionLimit",
        labels = Seq("link", "category"),
        relTypes = Seq(EdgeTypes.BelongsTo, EdgeTypes.HasKeyword)) {
      Seq(displayListing(), GraphQueries.interconnections(
        store.edges(EdgeTypes.HasKeyword), store.edges(EdgeTypes.BelongsTo),
        canonicalPairs = false, limit = interconnectionLimit))
    }
    (listing, inter)
  }

  /** GET /graph_data : typed node + edge lists for the visualizer,
    * with the duplicate-id sanity check (A6) run over the cached node
    * list. Cached like [[index]]. */
  def graphData(): (DataFrame, DataFrame, DataFrame) = {
    val Seq(nodes, edges, dups) = store.cachedRead("graphData",
        labels = Seq("link", "category", "keyword"),
        relTypes = Seq(EdgeTypes.BelongsTo, EdgeTypes.HasKeyword)) {
      val nodes = GraphQueries.vizNodes(
        store.nodes("link"), store.nodes("category"), store.nodes("keyword"))
      val edges = GraphQueries.vizEdges(
        store.edges(EdgeTypes.BelongsTo), store.edges(EdgeTypes.HasKeyword))
      Seq(nodes, edges, GraphQueries.duplicateIds(nodes, "id"))
    }
    (nodes, edges, dups)
  }

  /** POST /upload_csv : header-sniffing dispatcher (main.py:236-241).
    * A CSV whose header carries all 7 metadata columns takes the
    * preload path; anything else must at least have `url` and takes
    * the scrape+clean+classify path — same `is_metadata_csv` /
    * `required_fields` rule as the reference. */
  def uploadCsv(csv: DataFrame, batchSize: Int = 5): Long = {
    val metadataFields = Seq("url", "title", "content", "category",
      "keyword", "category_explanation", "keyword_explanation")
    val header = csv.columns.toSet
    require(header.contains("url"), "CSV must contain a 'url' column")
    if (metadataFields.forall(header)) uploadMetadataCsv(csv, batchSize)
    else uploadUrls(csv.select("url"), batchSize)
  }

  /** GET / listing with the reference's per-field display fallbacks
    * (main.py:186-196): falsy (null/empty) fields render as 'None' /
    * 'Failed to fetch content' / 'Failed to clean content' / 'none'. */
  def displayListing(): DataFrame = {
    def fb(c: org.apache.spark.sql.Column, default: String) =
      when(c.isNull || c === "", lit(default)).otherwise(c)
    GraphQueries.linkListing(
        store.nodes("link"), store.edges(EdgeTypes.BelongsTo), store.nodes("category"))
      .select(
        col("url"), col("title"), col("name").as("category"),
        col("rawCategory").as("raw_category"),
        fb(col("suggestedCategory"), "None").as("suggested_category"),
        fb(col("rawContent"), "Failed to fetch content").as("raw_content"),
        fb(col("cleanedContent"), "Failed to clean content").as("cleaned_content"),
        fb(Staging.keywordString(col("keywords")), "none").as("keywords"),
        fb(col("categoryExplanation"), "None").as("category_explanation"),
        fb(col("keywordExplanation"), "None").as("keyword_explanation"))
  }

  /** POST /upload_csv, metadata variant: 7-col CSV batch → upsert.
    * `batchSize` caps the ingest like the reference's form default
    * (main.py:229). */
  def uploadMetadataCsv(meta: DataFrame, batchSize: Int = 5): Long = {
    val batch = meta
      .withColumn("url", UrlFunctions.normalizeUrl(col("url")))
      .limit(batchSize)
    val novel = GraphQueries.novel(batch, store.nodes("link"), "url")
    upsertStaged(Staging.linksFromMetadata(Staging.validRows(novel)))
  }

  /** POST /upload_csv, bare-URL variant: scrape + clean + classify
    * only the urls that are NOT already stored (J4 pre-check before
    * the expensive stages), then upsert. */
  def uploadUrls(urls: DataFrame, batchSize: Int = 5): Long = {
    val batch = urls
      .withColumn("url", UrlFunctions.normalizeUrl(col("url")))
      .limit(batchSize)
    val novel = GraphQueries.novel(batch, store.nodes("link"), "url")
    val fetched = Enrich.fetchStage(spark, novel, fetcher).filter($"failureReason".isNull)
    val cleaned = Enrich.cleanStage(spark, fetched, cleaner)
    val classified = Enrich.classifyStage(spark, cleaned, classifier).toDF()
    upsertStaged(Staging.linksFromMetadata(Staging.validRows(classified)))
  }

  /** POST /add_link : single-url ingest is just a 1-row upload. */
  def addLink(url: String): Long =
    uploadUrls(Seq(url).toDF("url"), batchSize = 1)

  /** POST /delete_link : DETACH DELETE + orphan cleanup. */
  def deleteLink(url: String): Unit = {
    val key = Seq(url).toDF("url")
      .select(UrlFunctions.normalizeUrl(col("url")).as("url"))
    store.detachDelete("link", "url", key,
      Seq(EdgeTypes.BelongsTo, EdgeTypes.HasKeyword))
    store.cleanOrphans("category", EdgeTypes.BelongsTo)
    store.cleanOrphans("keyword", EdgeTypes.HasKeyword)
    snapshot()
  }

  /** Graph → 7-col CSV snapshot after every mutation
    * (save_to_csv, main.py:157-178). */
  def saveToCsv(path: String): Unit =
    Staging.writeCsvSingle(
      store.nodes("link").select(
        col("url"), col("title"), col("cleanedContent").as("content"),
        col("category"),
        Staging.keywordString(col("keywords")).as("keyword"),
        col("categoryExplanation").as("category_explanation"),
        col("keywordExplanation").as("keyword_explanation")),
      path)

  /** Upsert a micro-batch from its lazy LINK frame (the
    * [[graft.etl.Staging.linksFromMetadata]] output). The signature
    * takes just the link frame — the four dimension/edge tables are
    * ALWAYS re-derived here via [[graft.etl.Staging.stageFromLinks]]
    * (the same derivation stageMetadata composes), so there is no
    * StagedGraph parameter whose non-link frames could be silently
    * discarded (ADVICE r12). */
  private def upsertStaged(lazyLinks: org.apache.spark.sql.DataFrame): Long = {
    // sever lineage from the store files before overwriting them —
    // the staged plans reference the current store via the novel
    // anti-join and would re-read replaced files otherwise. Pin the
    // link frame ONCE and re-derive the four downstream tables from
    // the pinned copy: materializing all five lazy frames re-ran the
    // shared upstream chain (url normalize, novel anti-join, validity
    // filter, dedup window) once per table.
    val links = GraphStore.materialize(spark, lazyLinks)
    // empty-batch short-circuit: every staged table derives from
    // `links`, and merging an empty batch is the identity (mergeByKey
    // keeps existing rows; mergeEdges unions nothing) — so skip the
    // merge + full-table rewrite cycle entirely. At 100 TB this is
    // the difference between an O(store) rewrite and a no-op when an
    // upload carries zero novel valid rows; the snapshot side-contract
    // (save_to_csv after every write) still runs. One stated
    // consequence (ADVICE r12): with storeBuckets set, an empty upsert
    // on a still-flat table no longer triggers upsertNodesPartitioned's
    // one-time flat→bucketed layout migration — migration is deferred
    // to the first NON-empty batch. Reads are layout-agnostic
    // (dropLayout), so no reader observes the difference.
    val loaded = links.count()
    if (loaded == 0) { snapshot(); return 0L }
    val derived = graft.etl.Staging.stageFromLinks(links)
    // The four derived tables are independent projections of the
    // pinned link frame — materialize them CONCURRENTLY (guide §2.6
    // overlap-independent-jobs: actions are only sequential because
    // driver code calls them sequentially). Each is a small job; run
    // serially they stack four driver/job latencies per micro-batch,
    // which the ingest profile showed as pure wall time.
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val Seq(cats, kws, bel, hkw) = Await.result(
      Future.sequence(Seq(derived.categories, derived.keywords,
        derived.belongsTo, derived.hasKeyword)
        .map(f => Future(GraphStore.materialize(spark, f)))), Duration.Inf)
    val staged = graft.etl.StagedGraph(links, cats, kws, bel, hkw)
    // The five table writes touch DISJOINT paths (each merge reads only
    // its own table plus the pinned staged frame; each table commit
    // stages through its own temp dir), so they run concurrently —
    // guide §2.6 again: five sequential write actions stack five
    // job+FS-commit latencies per micro-batch for no ordering reason.
    // Single-writer discipline is unchanged (one client, one batch).
    val writes: Seq[() => Unit] = (storeBuckets match {
      case Some(b) => Seq(
        // partition-pruned path: only buckets the batch touches are
        // rewritten; dimensions below still take the (small) flat merge
        () => store.upsertNodesPartitioned("link", staged.links, "url", b),
        () => store.upsertEdgesPartitioned(EdgeTypes.BelongsTo, staged.belongsTo, b),
        () => store.upsertEdgesPartitioned(EdgeTypes.HasKeyword, staged.hasKeyword, b))
      case None => Seq(
        () => store.writeNodes("link",
          GraphStore.mergeByKey(store.nodes("link"), staged.links, Seq("url"))),
        () => store.writeEdges(EdgeTypes.BelongsTo,
          store.mergeEdges(store.edges(EdgeTypes.BelongsTo), staged.belongsTo)),
        () => store.writeEdges(EdgeTypes.HasKeyword,
          store.mergeEdges(store.edges(EdgeTypes.HasKeyword), staged.hasKeyword)))
    }) ++ Seq(
      () => store.writeNodes("category",
        GraphStore.mergeByKey(store.nodes("category"), staged.categories, Seq("name"))),
      () => store.writeNodes("keyword",
        GraphStore.mergeByKey(store.nodes("keyword"), staged.keywords, Seq("name"))))
    Await.result(Future.sequence(writes.map(w => Future(w()))), Duration.Inf)
    snapshot()
    loaded
  }
}
