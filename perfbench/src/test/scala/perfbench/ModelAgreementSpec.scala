package perfbench

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{Row, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.api.GraphService
import graft.etl.{Enrich, Pipeline}
import graft.store.GraphStore

/** On a tiny generated input the in-memory model agrees with the
  * engine: listing count, flagship rows, orphan-free deletes — through
  * the facade and through the traced replay alike. */
class ModelAgreementSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val work = Files.createTempDirectory(Files.createDirectories(Paths.get("target")), "spec-")
  private lazy val spark: SparkSession = {
    val s = graft.Engine.builder(master = "local[2]", shufflePartitions = 4, appName = "perfbench-spec")
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  override def afterAll(): Unit = spark.stop()

  private def fixture(name: String, traced: Boolean) = {
    val gen = new Gen(21)
    val pages = gen.pages(4)
    val fetcher = new PageFetcher(pages.map(p => p.url -> p).toMap)
    val classifier = new PageClassifier(pages.map(p => p.content -> p).toMap)
    val store = new GraphStore(spark, work.resolve(name).toString)
    val empty = spark.createDataFrame(java.util.List.of[Row](), graft.model.GraphSchema.linksCsv)
    new Pipeline(spark, fetcher, new Enrich.PassThroughCleaner, classifier).run(empty, store)
    val service = new GraphService(spark, store, fetcher, new Enrich.PassThroughCleaner, classifier)
    val ops = new Ops(spark, store, service, new Tracer(traced), fetcher, classifier)
    (gen, pages, ops)
  }

  private def agree(ops: Ops, m: Model): Unit = {
    val r = ops.index()
    assert(r.listing.length == m.links.size)
    assert(r.listing.map(_.getString(0)).toSet == m.links.keySet)
    assert(r.inter.map(x => InterRow(x.getString(0), x.getString(1), x.getString(2), x.getString(3),
      x.getString(4))).toSeq == m.interconnections(canonical = false, 100))
    val g = ops.graphData()
    assert(g.nodes == m.vertexCount && g.edges == m.edgeCount && g.duplicateIds == 0)
    assert(ops.store.nodes("category").collect().map(_.getString(0)).toSet == m.categories)
    assert(ops.store.nodes("keyword").collect().map(_.getString(0)).toSet == m.keywords)
  }

  for (traced <- Seq(false, true)) {
    test(s"uploads, adds and deletes match the model (traced = $traced)") {
      val (gen, pages, ops) = fixture(s"t$traced", traced)
      val m = new Model
      for (b <- Seq(gen.batch(80), gen.batch(80))) assert(ops.upload(b) == m.upload(b))
      agree(ops, m)

      val stored = m.links.keys.toSeq.sorted
      assert(ops.addLink(gen.unnormalized(pages(0).url)) == m.add(pages(0).url, Some(pages(0))))
      assert(ops.addLink(gen.unnormalized(stored(3))) == m.add(stored(3), None))
      stored.take(12).foreach { u =>
        val url = gen.unnormalized(u)
        m.delete(url)
        ops.deleteLink(url)
      }
      agree(ops, m)

      val pass = ops.analyticsPass()
      assert(pass.inter.map(x => InterRow(x.getString(0), x.getString(1), x.getString(2), x.getString(3),
        x.getString(4))).toSeq == m.interconnections(canonical = true, 100))
      assert(pass.keywordDist.map(x => (x.getString(0), x.getLong(1))).toSeq == m.keywordDistribution)
      assert(pass.components == m.componentCount && pass.ccRows == m.vertexCount)
      val found = pass.minhash.map(x => (x.getString(0), x.getString(1))).toSet
      val planted = gen.planted.filter { case (a, b) => m.links.contains(a) && m.links.contains(b) }
      assert(planted.nonEmpty && planted.forall { case (a, b) => found(if (a < b) (a, b) else (b, a)) })
    }
  }
}
