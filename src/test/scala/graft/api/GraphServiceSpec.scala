package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.etl.{Enrich, Pipeline}
import graft.model.EdgeTypes
import graft.query.GraphQueries
import graft.store.GraphStore

class GraphServiceSpec extends SparkSpec {
  import spark.implicits._

  private def newService(): (GraphService, GraphStore) =
    newService(java.nio.file.Files.createTempDirectory("graftsvc").toString)

  private def newService(root: String): (GraphService, GraphStore) = {
    val store = new GraphStore(spark, root)
    val svc = new GraphService(spark, store,
      new Enrich.DeterministicFetcher(failEvery = 0),
      new Enrich.PassThroughCleaner,
      new Enrich.DeterministicClassifier)
    // bootstrap empty tables via the pipeline with zero urls
    new Pipeline(spark,
      new Enrich.DeterministicFetcher(failEvery = 0),
      new Enrich.PassThroughCleaner,
      new Enrich.DeterministicClassifier)
      .run(spark.emptyDataset[String].toDF("url"), store)
    (svc, store)
  }

  test("EP1 pipeline: urls -> enrich -> graph store -> flagship query") {
    val root = java.nio.file.Files.createTempDirectory("graftpipe").toString
    val store = new GraphStore(spark, root)
    val pipeline = new Pipeline(spark,
      new Enrich.DeterministicFetcher(failEvery = 7),
      new Enrich.PassThroughCleaner,
      new Enrich.DeterministicClassifier,
      stagingDir = Some(root + "/staging"))
    val urls = (1 to 30).map(i => s"https://site$i.example/page").toDF("url")
    val result = pipeline.run(urls, store)
    // failures routed to review, not thrown
    assert(result.loadedLinks + result.review.count() == 30)
    assert(result.loadedLinks > 0)
    // staged CSVs exist (restartability contract)
    assert(new java.io.File(root + "/staging/links_with_metadata").exists())
    // flagship query runs over the loaded store
    val inter = graft.query.GraphQueries.interconnections(
      store.edges("HAS_KEYWORD"), store.edges("BELONGS_TO"))
    assert(inter.count() >= 0) // shape check; content depends on hash categories
  }

  test("EP3 write path: upload, duplicate pre-check, delete cascades") {
    val (svc, store) = newService()
    val n1 = svc.uploadUrls(Seq("https://a.example/x", "https://b.example/y").toDF("url"),
      batchSize = 5)
    assert(n1 == 2)
    assert(store.nodes("link").count() == 2)
    // re-upload same urls: pre-check skips them (0 novel)
    val n2 = svc.uploadUrls(Seq("https://a.example/x").toDF("url"), batchSize = 5)
    assert(n2 == 0)
    // delete cascades edges and cleans orphan dims
    svc.deleteLink("https://a.example/x")
    assert(store.nodes("link").count() == 1)
    assert(store.edges("HAS_KEYWORD").filter($"src" === "https://a.example/x").count() == 0)
    val orphans = graft.query.GraphQueries.orphans(
      store.nodes("keyword"), store.edges("HAS_KEYWORD"))
    assert(orphans.count() == 0)
  }

  test("EP2 read path: index and graphData serve from the store") {
    val (svc, store) = newService()
    svc.uploadUrls(Seq("https://c.example/1", "https://d.example/2").toDF("url"), 5)
    val (listing, inter) = svc.index()
    assert(listing.count() == 2)
    assert(inter.columns.toSeq ==
      Seq("url1", "category1", "url2", "category2", "shared_keyword"))
    val (nodes, edges, dups) = svc.graphData()
    assert(nodes.count() >= 4) // 2 links + >=1 category + >=1 keyword
    assert(edges.count() >= 2)
    assert(dups.count() == 0)
    // CSV snapshot round-trips through the 7-col contract
    val tmp = java.nio.file.Files.createTempDirectory("graftcsv").toString
    svc.saveToCsv(tmp + "/snap")
    val back = graft.etl.Staging.readCsv(spark, tmp + "/snap",
      graft.model.GraphSchema.metadataCsv)
    assert(back.count() == 2)
  }

  test("uploadCsv sniffs the header: metadata CSV vs bare-URL CSV") {
    val (svc, store) = newService()
    val longContent = "spark " * 30 // >= 100 chars, passes validity
    val meta = Seq(("https://meta.example/1", "T1", longContent, "Tech",
        "spark, sql", "because", "kw"))
      .toDF("url", "title", "content", "category", "keyword",
        "category_explanation", "keyword_explanation")
    assert(svc.uploadCsv(meta) == 1) // metadata path: no enrich stages
    assert(store.nodes("link").filter($"url" === "https://meta.example/1").count() == 1)
    // bare-URL shape → scrape+clean+classify path
    assert(svc.uploadCsv(Seq("https://bare.example/2").toDF("url")) == 1)
    assert(store.nodes("link").count() == 2)
    // a url-less CSV is rejected like the reference's flash error
    intercept[IllegalArgumentException](
      svc.uploadCsv(Seq("x").toDF("not_url")))
  }

  test("displayListing substitutes the reference's display fallbacks") {
    val (svc, store) = newService()
    val longContent = "words " * 25
    val meta = Seq(("https://fb.example/1", "T", longContent, "Tech",
        "alpha", null, null))
      .toDF("url", "title", "content", "category", "keyword",
        "category_explanation", "keyword_explanation")
    svc.uploadCsv(meta)
    val row = svc.displayListing().collect().head
    assert(row.getAs[String]("suggested_category") == "None") // staged as ""
    assert(row.getAs[String]("category_explanation") == "None") // null in CSV
    assert(row.getAs[String]("keyword_explanation") == "None")
    assert(row.getAs[String]("keywords") == "alpha") // non-falsy passes through
    assert(row.getAs[String]("raw_content").nonEmpty)
    assert(svc.displayListing().columns.toSeq == Seq("url", "title", "category",
      "raw_category", "suggested_category", "raw_content", "cleaned_content",
      "keywords", "category_explanation", "keyword_explanation"))
  }

  test("auto-snapshot: every mutation regenerates the CSV like save_to_csv") {
    val root = java.nio.file.Files.createTempDirectory("graftsnap").toString
    val store = new GraphStore(spark, root)
    val svc = new GraphService(spark, store,
      new Enrich.DeterministicFetcher(failEvery = 0),
      new Enrich.PassThroughCleaner,
      new Enrich.DeterministicClassifier,
      snapshotPath = Some(root + "/snapshot"))
    new Pipeline(spark,
      new Enrich.DeterministicFetcher(failEvery = 0),
      new Enrich.PassThroughCleaner,
      new Enrich.DeterministicClassifier)
      .run(spark.emptyDataset[String].toDF("url"), store)
    svc.uploadUrls(Seq("https://s.example/1", "https://s.example/2").toDF("url"), 5)
    def snapCount() = graft.etl.Staging.readCsv(spark, root + "/snapshot",
      graft.model.GraphSchema.metadataCsv).count()
    assert(snapCount() == 2) // upload snapshotted
    svc.deleteLink("https://s.example/1")
    assert(snapCount() == 1) // delete snapshotted too
  }

  test("batchSize caps ingest like the reference default") {
    val (svc, store) = newService()
    val urls = (1 to 10).map(i => s"https://cap$i.example/p").toDF("url")
    svc.uploadUrls(urls, batchSize = 3)
    assert(store.nodes("link").count() == 3)
  }

  // ---- cached reads: index() and graphData() after every write ----

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def metaRows(links: (String, String, String)*): DataFrame =
    links.map { case (url, category, keywords) =>
      (url, s"Title $url", "graph spark " * 20, category, keywords, "because", "kw")
    }.toDF("url", "title", "content", "category", "keyword",
      "category_explanation", "keyword_explanation")

  /** Collect index() and graphData() — so the next write finds their
    * results cached — and check they are exactly the rows the uncached
    * queries compute over fresh store reads. Returns the listed urls. */
  private def assertFresh(svc: GraphService, store: GraphStore): Seq[String] = {
    val (listing, inter) = svc.index()
    val hk = store.edges(EdgeTypes.HasKeyword)
    val bt = store.edges(EdgeTypes.BelongsTo)
    assert(rows(listing) == rows(svc.displayListing()))
    assert(inter.collect().toSeq == GraphQueries.interconnections(hk, bt,
      canonicalPairs = false, limit = 100).collect().toSeq)
    val (nodes, edges, dups) = svc.graphData()
    assert(rows(nodes) == rows(GraphQueries.vizNodes(
      store.nodes("link"), store.nodes("category"), store.nodes("keyword"))))
    assert(rows(edges) == rows(GraphQueries.vizEdges(bt, hk)))
    assert(dups.count() == 0)
    val urls = listing.select("url").as[String].collect().toSeq.sorted
    assert(urls == store.nodes("link").select("url").as[String].collect().toSeq.sorted)
    urls
  }

  test("index() and graphData() return exactly the new rows after every service write") {
    val (svc, store) = newService()
    assert(assertFresh(svc, store).isEmpty)
    svc.uploadMetadataCsv(metaRows(("https://m.example/1", "Tech", "spark, graph"),
      ("https://m.example/2", "Science", "spark, data")))
    assert(assertFresh(svc, store) == Seq("https://m.example/1", "https://m.example/2"))
    assert(svc.index()._2.count() == 2) // the two links share "spark" across categories
    svc.uploadUrls(Seq("https://u.example/1", "https://u.example/2").toDF("url"))
    assert(assertFresh(svc, store).size == 4)
    svc.addLink("https://a.example/3")
    assert(assertFresh(svc, store).contains("https://a.example/3"))
    svc.deleteLink("https://m.example/1")
    val left = assertFresh(svc, store)
    assert(left.size == 4 && !left.contains("https://m.example/1"))
    assert(!rows(svc.graphData()._1).exists(_.contains("Link:https://m.example/1")))
  }

  test("index() and graphData() see Pipeline.run, direct store writes and bucketed upserts") {
    val (svc, store) = newService()
    assertFresh(svc, store)
    val (fetcher, cleaner, classifier) = (new Enrich.DeterministicFetcher(failEvery = 0),
      new Enrich.PassThroughCleaner, new Enrich.DeterministicClassifier)
    new Pipeline(spark, fetcher, cleaner, classifier)
      .run(Seq("https://p.example/1", "https://p.example/2").toDF("url"), store)
    assert(assertFresh(svc, store) == Seq("https://p.example/1", "https://p.example/2"))
    store.writeNodes("link", store.nodes("link").filter($"url" =!= "https://p.example/2"))
    assert(assertFresh(svc, store) == Seq("https://p.example/1"))
    // the keyword table feeds graphData() only
    store.writeNodes("keyword", store.nodes("keyword").unionByName(
      Seq("extra").toDF("name")))
    assertFresh(svc, store)
    assert(rows(svc.graphData()._1).exists(_.contains("Keyword:extra")))
    // bucketed layout: the first upsert migrates the flat tables, the
    // second rewrites only its buckets (dynamic partition overwrite)
    val bucketed = new GraphService(spark, store, fetcher, cleaner, classifier,
      storeBuckets = Some(4))
    bucketed.addLink("https://b.example/1")
    assert(assertFresh(svc, store) == Seq("https://b.example/1", "https://p.example/1"))
    bucketed.addLink("https://b.example/2")
    assert(assertFresh(bucketed, store) ==
      Seq("https://b.example/1", "https://b.example/2", "https://p.example/1"))
  }

  test("a second service on the same root, spelled differently, sees the first one's writes") {
    val root = java.nio.file.Files.createTempDirectory("graftsvc2").toString
    val (svc, store) = newService(root)
    svc.uploadMetadataCsv(metaRows(("https://s.example/1", "Tech", "spark")))
    val (otherSvc, other) = newService("file:" + root)
    assert(assertFresh(otherSvc, other) == Seq("https://s.example/1"))
    svc.uploadMetadataCsv(metaRows(("https://s.example/2", "Science", "spark")))
    assert(assertFresh(otherSvc, other) == Seq("https://s.example/1", "https://s.example/2"))
    otherSvc.deleteLink("https://s.example/1")
    assert(assertFresh(svc, store) == Seq("https://s.example/2"))
  }

  test("index() caches each interconnection limit as its own answer") {
    val (svc, _) = newService()
    svc.uploadMetadataCsv(metaRows(("https://l.example/1", "Tech", "spark"),
      ("https://l.example/2", "Science", "spark"), ("https://l.example/3", "Health", "spark")))
    val (_, all) = svc.index(100)
    val (_, one) = svc.index(1)
    assert(all.count() == 6 && one.count() == 1)
    assert(all.collect().head == one.collect().head)
    assert(svc.index(100)._2.count() == 6 && svc.index(1)._2.count() == 1)
  }
}
