package perfbench

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.api.GraphService
import graft.etl.{Enrich, Staging, UrlFunctions}
import graft.ext.Dedup
import graft.graphx.GraphOps
import graft.model.{ArticleClassification, EdgeTypes}
import graft.query.GraphQueries
import graft.store.GraphStore

/** Stub enrichers for `addLink`: they serve generated pages, so the
  * program sees only the generator's inputs and no network. */
final class PageFetcher(pages: Map[String, Page]) extends Enrich.Fetcher {
  def fetch(url: String): Either[String, (String, String)] =
    pages.get(url).map(p => (p.title, p.content)).toRight("Failed to fetch content")
}
final class PageClassifier(byContent: Map[String, Page]) extends Enrich.Classifier {
  def classify(content: String): ArticleClassification = {
    val p = byContent(content)
    ArticleClassification(p.category, p.keywords, s"about ${p.category}", p.keywords.map(k => s"mentions $k"))
  }
}

/** What a request returned, for the checks. */
final case class IndexResult(listing: Array[Row], inter: Array[Row])
final case class GraphDataResult(nodes: Long, edges: Long, duplicateIds: Long)
final case class PassResult(pageRankRows: Long, components: Long, ccRows: Long,
    inter: Array[Row], keywordDist: Array[Row], minhash: Array[Row])

/** Every request a workload sends. Untraced, each goes through the
  * public facade (`GraphService`) or the analytics entry points
  * exactly as a user calls them. Traced, the facade requests are
  * replayed through the public functions the facade composes, with a
  * span around each call into a layer. */
final class Ops(spark: SparkSession, val store: GraphStore, val service: GraphService, tr: Tracer,
    addFetcher: Enrich.Fetcher, addClassifier: Enrich.Classifier) {
  import spark.implicits._

  def metaFrame(rows: Seq[MetaRow]): DataFrame =
    rows.map(r => (r.url, r.title, r.content, r.category, r.keyword, r.categoryExplanation,
      r.keywordExplanation)).toDF("url", "title", "content", "category", "keyword",
      "category_explanation", "keyword_explanation")

  // ---- uploadMetadataCsv ----

  def upload(rows: Seq[MetaRow]): Long =
    if (!tr.enabled) service.uploadMetadataCsv(metaFrame(rows), rows.size)
    else tr.request("req.upload") {
      val batch = metaFrame(rows).withColumn("url", UrlFunctions.normalizeUrl(col("url"))).limit(rows.size)
      tr.count("etl.rows_in", rows.size)
      val novel = novelRows(batch)
      stageAndCommit(tr.span("etl.stage")(Staging.validRows(novel)))
    }

  // ---- addLink / deleteLink ----

  def addLink(url: String): Long =
    if (!tr.enabled) service.addLink(url)
    else tr.request("req.add_link") {
      val batch = Seq(url).toDF("url").withColumn("url", UrlFunctions.normalizeUrl(col("url"))).limit(1)
      tr.count("etl.rows_in", 1)
      val novel = novelRows(batch)
      stageAndCommit(tr.span("etl.stage") {
        val fetched = Enrich.fetchStage(spark, novel, addFetcher).filter($"failureReason".isNull)
        val cleaned = Enrich.cleanStage(spark, fetched, new Enrich.PassThroughCleaner)
        Staging.validRows(Enrich.classifyStage(spark, cleaned, addClassifier).toDF())
      })
    }

  def deleteLink(url: String): Unit =
    if (!tr.enabled) service.deleteLink(url)
    else tr.request("req.delete_link") {
      tr.span("store.delete") {
        val key = Seq(url).toDF("url").select(UrlFunctions.normalizeUrl(col("url")).as("url"))
        store.detachDelete("link", "url", key, Seq(EdgeTypes.BelongsTo, EdgeTypes.HasKeyword))
        store.cleanOrphans("category", EdgeTypes.BelongsTo)
        store.cleanOrphans("keyword", EdgeTypes.HasKeyword)
      }
    }

  private def novelRows(batch: DataFrame): DataFrame = {
    val links = tr.span("store.read")(store.nodes("link"))
    tr.span("query.novel") {
      val n = GraphStore.materialize(spark, GraphQueries.novel(batch, links, "url"))
      tr.count("etl.rows_novel", n.count().toDouble)
      n
    }
  }

  /** The facade's upsert: pin the staged link frame, derive the four
    * other tables from it, then merge and rewrite all five. */
  private def stageAndCommit(valid: DataFrame): Long = {
    val staged = tr.span("etl.stage") {
      tr.count("etl.rows_valid", valid.count().toDouble)
      val links = GraphStore.materialize(spark, Staging.linksFromMetadata(valid))
      if (links.isEmpty) None
      else {
        val d = Staging.stageFromLinks(links)
        val Seq(cats, kws, bel, hkw) = Await.result(Future.sequence(
          Seq(d.categories, d.keywords, d.belongsTo, d.hasKeyword)
            .map(f => Future(GraphStore.materialize(spark, f)))), Duration.Inf)
        Some(graft.etl.StagedGraph(links, cats, kws, bel, hkw))
      }
    }
    staged match {
      case None => 0L
      case Some(s) =>
        tr.span("store.commit") {
          val writes: Seq[() => Unit] = Seq(
            () => store.writeNodes("link", GraphStore.mergeByKey(store.nodes("link"), s.links, Seq("url"))),
            () => store.writeEdges(EdgeTypes.BelongsTo,
              store.mergeEdges(store.edges(EdgeTypes.BelongsTo), s.belongsTo)),
            () => store.writeEdges(EdgeTypes.HasKeyword,
              store.mergeEdges(store.edges(EdgeTypes.HasKeyword), s.hasKeyword)),
            () => store.writeNodes("category",
              GraphStore.mergeByKey(store.nodes("category"), s.categories, Seq("name"))),
            () => store.writeNodes("keyword",
              GraphStore.mergeByKey(store.nodes("keyword"), s.keywords, Seq("name"))))
          Await.result(Future.sequence(writes.map(w => Future(w()))), Duration.Inf)
        }
        tr.span("etl.stage")(s.links.count())
    }
  }

  // ---- index() ----

  def index(): IndexResult =
    if (!tr.enabled) {
      val (listing, inter) = service.index()
      val i = inter.collect()
      IndexResult(listing.collect(), i)
    } else tr.request("req.index") {
      val (hk, bt, links, cats) = tr.span("store.read")((store.edges(EdgeTypes.HasKeyword),
        store.edges(EdgeTypes.BelongsTo), store.nodes("link"), store.nodes("category")))
      val inter = tr.span("query.interconnect") {
        GraphQueries.interconnections(hk, bt, canonicalPairs = false, limit = 100).collect()
      }
      val listing = tr.span("query.listing")(displayListing(links, bt, cats).collect())
      tr.count("query.listing_bytes_collected", listing.iterator.map(rowBytes).sum.toDouble)
      tr.count("query.interconnect_returned", inter.length)
      IndexResult(listing, inter)
    }

  /** The listing projection of `GraphService.displayListing`, over
    * store frames read in the enclosing span. */
  private def displayListing(links: DataFrame, bt: DataFrame, cats: DataFrame): DataFrame = {
    def fb(c: Column, default: String) = when(c.isNull || c === "", lit(default)).otherwise(c)
    GraphQueries.linkListing(links, bt, cats).select(
      col("url"), col("title"), col("name").as("category"),
      col("rawCategory").as("raw_category"),
      fb(col("suggestedCategory"), "None").as("suggested_category"),
      fb(col("rawContent"), "Failed to fetch content").as("raw_content"),
      fb(col("cleanedContent"), "Failed to clean content").as("cleaned_content"),
      fb(Staging.keywordString(col("keywords")), "none").as("keywords"),
      fb(col("categoryExplanation"), "None").as("category_explanation"),
      fb(col("keywordExplanation"), "None").as("keyword_explanation"))
  }

  // ---- graphData() ----

  def graphData(): GraphDataResult =
    if (!tr.enabled) {
      val (n, e, d) = service.graphData()
      GraphDataResult(n.collect().length, e.collect().length, d.collect().length)
    } else tr.request("req.graph_data") {
      val (links, cats, kws, bt, hk) = tr.span("store.read")((store.nodes("link"),
        store.nodes("category"), store.nodes("keyword"),
        store.edges(EdgeTypes.BelongsTo), store.edges(EdgeTypes.HasKeyword)))
      tr.span("query.viz") {
        val nodes = GraphQueries.vizNodes(links, cats, kws)
        val edges = GraphQueries.vizEdges(bt, hk)
        GraphDataResult(nodes.collect().length, edges.collect().length,
          GraphQueries.duplicateIds(nodes, "id").collect().length)
      }
    }

  // ---- one analytics pass ----

  def analyticsPass(): PassResult = tr.request("req.pass") {
    val (links, cats, kws, bt, hk) = tr.span("store.read")((store.nodes("link"),
      store.nodes("category"), store.nodes("keyword"),
      store.edges(EdgeTypes.BelongsTo), store.edges(EdgeTypes.HasKeyword)))
    val (dict, graph) = tr.span("graphx.build") {
      val dict = GraphOps.vertexDictionary(Seq(
        "link" -> links.select("url"), "category" -> cats, "keyword" -> kws))
      (dict, GraphOps.buildGraph(spark, dict, Seq(
        (EdgeTypes.BelongsTo, "link", "category", bt),
        (EdgeTypes.HasKeyword, "link", "keyword", hk))))
    }
    try {
      val pr = tr.span("graphx.pagerank")(GraphOps.pageRankByOrigId(spark, dict, graph).collect())
      val cc = tr.span("graphx.cc")(GraphOps.connectedComponentsByOrigId(spark, dict, graph).collect())
      val inter = tr.span("query.interconnect") {
        GraphQueries.interconnections(hk, bt, canonicalPairs = true, limit = 100).collect()
      }
      tr.count("query.interconnect_returned", inter.length)
      val kd = tr.span("query.keyword_dist")(GraphQueries.keywordDistribution(hk).collect())
      val mh = tr.span("ext.minhash") {
        Dedup.minHashDupPairs(links.select("url", "cleanedContent"), "url", "cleanedContent").collect()
      }
      PassResult(pr.length, cc.map(_.getString(2)).distinct.length.toLong, cc.length, inter, kd, mh)
    } finally {
      graph.unpersist(blocking = false)
      spark.catalog.clearCache()
    }
  }

  /** LSH candidate pairs of the MinHash dedup — the count its exact
    * verify step has to check. Recomputed with the same public
    * kernel and default parameters as `Dedup.minHashDupPairs`; a
    * trace-only probe, outside every request. */
  def minhashCandidates(): Long = tr.span("probe.minhash_candidates") {
    val base = store.nodes("link").select(col("url").as("id"),
      graft.ext.TextAnalysis.tokens(col("cleanedContent")).as("toks")).filter(size(col("toks")) >= 3)
    val banded = base.select(col("id"),
      posexplode(graft.functions.MinHash.minhashTokenBands(col("toks"), 3, 32, 8, 42L))
        .as(Seq("band_idx", "band_hash")))
    banded.as("x").join(banded.as("y"), col("x.band_idx") === col("y.band_idx") &&
      col("x.band_hash") === col("y.band_hash") && col("x.id") < col("y.id"))
      .select(col("x.id"), col("y.id")).distinct().count()
  }

  private def rowBytes(r: Row): Long =
    (0 until r.length).iterator.map(i => Option(r.get(i)).map(_.toString.getBytes("UTF-8").length.toLong).getOrElse(0L)).sum
}
