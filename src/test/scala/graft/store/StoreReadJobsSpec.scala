package graft.store

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

import graft.SparkSpec
import graft.api.GraphService
import graft.etl.{Enrich, Pipeline}

/** Store reads are resolved once per write: reading a table the store
  * has written runs no Spark job (no schema inference, no listing
  * job), and neither does building the frames of a serving request.
  * Serving results are cached per table version: a repeated request
  * scans the cached rows, and a write costs the same jobs with or
  * without cached results to drop. */
class StoreReadJobsSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs submitted under this thread's job group while `body` runs.
    * A fence job submitted afterwards bounds the count: listener events
    * arrive in order, so once the fence's start is seen, every counted
    * job's start has been seen too. */
  private def jobsDuring(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"counted-${java.util.UUID.randomUUID()}"
    val fence = s"fence-${java.util.UUID.randomUUID()}"
    val counted = new AtomicInteger(0)
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group` => counted.incrementAndGet()
          case `fence` => fenced.countDown()
          case _ =>
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(fence, "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(fenced.await(60, TimeUnit.SECONDS), "fence job never seen")
      counted.get()
    } finally sc.removeSparkListener(listener)
  }

  private def tempRoot(): String =
    java.nio.file.Files.createTempDirectory("graft_read_jobs").toString

  test("a table the store did not write is inferred once, then read with no job") {
    val root = tempRoot()
    Seq("k1", "k2").toDF("name").write.parquet(s"$root/nodes/keyword")
    val store = new GraphStore(spark, root)
    // the counter sees the one inference job of the first read
    assert(jobsDuring(store.nodes("keyword")) >= 1)
    assert(jobsDuring((1 to 3).foreach(_ => store.nodes("keyword"))) == 0)
    assert(store.nodes("keyword").count() == 2)
  }

  test("the first read after every store write submits no job") {
    val store = new GraphStore(spark, tempRoot())
    def firstReadJobs(read: => Any)(write: => Unit): Unit = {
      write
      assert(jobsDuring(read) == 0)
    }
    firstReadJobs(store.nodes("link"))(store.createNodeTable("link", graft.model.GraphSchema.link))
    firstReadJobs(store.edges("HAS_KEYWORD"))(store.createRelTable("HAS_KEYWORD"))
    firstReadJobs(store.nodes("category"))(
      store.writeNodes("category", Seq("c1", "c2").toDF("name")))
    firstReadJobs(store.edges("BELONGS_TO"))(
      store.writeEdges("BELONGS_TO", Seq(("u1", "c1")).toDF("src", "dst")))
    firstReadJobs(store.nodes("category"))(store.cleanOrphans("category", "BELONGS_TO"))
    firstReadJobs(store.nodes("category"))(store.compactNodes("category"))
    firstReadJobs(store.nodes("page"))(store.writeNodesPartitioned("page",
      Seq(("p1", "a")).toDF("url", "category"), "category"))
    val link = Seq(("u1", "c1")).toDF("url", "category")
    store.writeNodes("link", link)
    firstReadJobs(store.nodes("link"))(
      store.upsertNodesPartitioned("link", Seq(("u2", "c1")).toDF("url", "category"), "url", 4))
    firstReadJobs(store.nodes("link"))(
      store.upsertNodesPartitioned("link", Seq(("u3", "c2")).toDF("url", "category"), "url", 4))
    firstReadJobs(store.edges("HAS_KEYWORD"))(
      store.upsertEdgesPartitioned("HAS_KEYWORD", Seq(("u1", "k1")).toDF("src", "dst"), 4))
    firstReadJobs(store.edges("HAS_KEYWORD"))(
      store.upsertEdgesPartitioned("HAS_KEYWORD", Seq(("u2", "k1")).toDF("src", "dst"), 4))
    firstReadJobs(store.nodes("link"))(store.detachDelete("link", "url",
      Seq("u2").toDF("k"), Seq("HAS_KEYWORD")))
    assert(jobsDuring((1 to 3).foreach { _ =>
      store.nodes("link"); store.edges("HAS_KEYWORD"); store.nodes("page")
    }) == 0)
    assert(store.nodes("link").count() == 2 && store.edges("HAS_KEYWORD").count() == 1)
  }

  test("index() and graphData() submit no job before their frames are collected") {
    val store = new GraphStore(spark, tempRoot())
    val (fetcher, cleaner, classifier) = (new Enrich.DeterministicFetcher(failEvery = 0),
      new Enrich.PassThroughCleaner, new Enrich.DeterministicClassifier)
    new Pipeline(spark, fetcher, cleaner, classifier).run((1 to 6)
      .map(i => s"https://site$i.example/").toDF("url"), store)
    val svc = new GraphService(spark, store, fetcher, cleaner, classifier)
    svc.addLink("https://site7.example/")
    lazy val index = svc.index()
    lazy val graph = svc.graphData()
    assert(jobsDuring(index) == 0)
    assert(jobsDuring(graph) == 0)
    assert(index._1.count() == 7 && index._2.count() >= 0)
    assert(graph._1.count() > 7 && graph._3.count() == 0)
  }

  /** A store loaded by the pipeline plus one added link, and its service. */
  private def servedStore(): (GraphStore, GraphService) = {
    val store = new GraphStore(spark, tempRoot())
    val (fetcher, cleaner, classifier) = (new Enrich.DeterministicFetcher(failEvery = 0),
      new Enrich.PassThroughCleaner, new Enrich.DeterministicClassifier)
    new Pipeline(spark, fetcher, cleaner, classifier).run((1 to 6)
      .map(i => s"https://site$i.example/").toDF("url"), store)
    val svc = new GraphService(spark, store, fetcher, cleaner, classifier)
    svc.addLink("https://site7.example/")
    (store, svc)
  }

  private def serve(svc: GraphService): Seq[DataFrame] = {
    val (listing, inter) = svc.index()
    val (nodes, edges, dups) = svc.graphData()
    val frames = Seq(listing, inter, nodes, edges, dups)
    frames.foreach(_.collect())
    frames
  }

  private object Plans extends AdaptiveSparkPlanHelper

  test("a repeated index() or graphData() runs one job per frame, over the cached rows") {
    val (_, svc) = servedStore()
    val first = serve(svc)
    assert(jobsDuring { val (l, i) = svc.index(); l.collect(); i.collect() } == 2)
    assert(jobsDuring {
      val (n, e, d) = svc.graphData(); n.collect(); e.collect(); d.collect()
    } == 3)
    val again = serve(svc)
    assert(again.zip(first).forall { case (a, b) => a eq b })
    again.foreach { df =>
      val plan = df.queryExecution.executedPlan
      assert(Plans.collect(plan) { case s: InMemoryTableScanExec => s }.nonEmpty, plan)
      assert(Plans.collect(plan) { case s: FileSourceScanExec => s }.isEmpty, plan)
    }
  }

  test("a write submits the same jobs with cached reads present as with none") {
    val (cachedStore, cachedSvc) = servedStore()
    val (plainStore, plainSvc) = servedStore()
    serve(cachedSvc)
    def writeJobs(store: GraphStore, svc: GraphService): Seq[Int] = Seq(
      jobsDuring(svc.addLink("https://site8.example/")),
      jobsDuring(svc.deleteLink("https://site2.example/")),
      jobsDuring(store.writeNodes("category", store.nodes("category"))))
    assert(writeJobs(cachedStore, cachedSvc) == writeJobs(plainStore, plainSvc))
    assert(serve(cachedSvc).map(_.collect().toSeq.map(_.toString).sorted) ==
      serve(plainSvc).map(_.collect().toSeq.map(_.toString).sorted))
  }

  test("cached reads hold at most one persisted RDD per cached frame across write/read cycles") {
    val (store, svc) = servedStore()
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    def cachedRdds = sc.getPersistentRDDs.keys.count(id => !before(id))
    val framesPerCycle = serve(svc).size
    val writes: Seq[() => Unit] = Seq(
      () => store.writeNodes("link", store.nodes("link")),
      () => store.writeNodes("category", store.nodes("category")),
      () => store.writeNodes("keyword", store.nodes("keyword")),
      () => store.writeEdges("BELONGS_TO", store.edges("BELONGS_TO")),
      () => store.writeEdges("HAS_KEYWORD", store.edges("HAS_KEYWORD")))
    (1 to 20).foreach { cycle =>
      writes(cycle % writes.size)()
      assert(cachedRdds <= framesPerCycle)
      serve(svc)
      assert(cachedRdds <= framesPerCycle)
    }
    writes.foreach(_())
    assert(cachedRdds == 0)
  }
}
