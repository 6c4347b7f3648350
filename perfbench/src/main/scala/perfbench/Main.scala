package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{Row, SparkSession}

import org.apache.spark.perfbench.ListenerDrain

import graft.api.GraphService
import graft.etl.{Enrich, Pipeline}
import graft.store.GraphStore

/** Runs one workload against the engine, closed loop with one client:
  * each request is sent only after the previous one returned.
  *
  *   perfbench.Main --workload ingest|serve --seed N --seconds S
  *     --trace 0|1 --work DIR
  *
  * Prints human-readable lines, then as its last line one JSON object
  * with `correct`, `attempted`, `failed` and `metrics`: the end-to-end
  * metrics with `--trace 0`, the per-layer metrics with `--trace 1`.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def arg(k: String) = kv.getOrElse(k, sys.error(s"--$k is required"))
    require(Workloads.all.contains(arg("workload")), s"--workload is one of ${Workloads.all.mkString(", ")}")
    val bench = new Bench(arg("workload"), arg("seed").toLong, arg("seconds").toDouble,
      arg("trace") == "1", Paths.get(arg("work")).toAbsolutePath)
    val json =
      try bench.run()
      catch {
        case e: Throwable =>
          e.printStackTrace()
          bench.close()
          sys.exit(1)
      }
    bench.close()
    println(json)
    System.out.flush()
    sys.exit(0)
  }
}

object Workloads {
  val all = Seq("ingest", "serve")

  /** Sizes of each workload's input. */
  val IngestBatchRows = 250
  val ServePreloadRows = 2500
  val ServeAddPool = 300
  /** One block of the serve mix, shuffled per block by the seed. */
  val ServeMix: Seq[String] = Seq.fill(6)("index") ++ Seq.fill(3)("graph_data") :+ "write"
  val IngestWarmupBatches = 10
  val IngestWarmupRows = 100
  /** Set-ups per run; their median is `setup_s`. */
  val SetupRepeats = 3
}

final class Bench(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path) {
  import Workloads._

  private val cores = Runtime.getRuntime.availableProcessors()
  private val tr = new Tracer(trace)
  private val listener = new EngineListener
  private var spark: SparkSession = _
  private var storeDir: Path = _
  private var ops: Ops = _
  private var model = new Model

  private val gen = new Gen(seed)
  private var inputBytes = 0L
  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  /** Request latencies by kind, untraced and traced. */
  private val lat = mutable.LinkedHashMap.empty[(String, Boolean), mutable.ArrayBuffer[Double]]
  private var landedRows = 0L
  private var storeRatio = Double.NaN

  private def log(s: String): Unit =
    println(f"[perfbench ${java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0}%6.1fs] $s")

  // ---- session and store ----

  private def startSession(): SparkSession = {
    val s = graft.Engine.builder(master = s"local[$cores]", appName = s"perfbench-$workload")
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def stopSession(): Unit = if (spark != null) {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    spark = null
  }

  private lazy val addPages: Vector[Page] = if (workload == "serve") gen.pages(ServeAddPool) else Vector.empty
  private lazy val fetcher = new PageFetcher(addPages.map(p => p.url -> p).toMap)
  private lazy val classifier = new PageClassifier(addPages.map(p => p.content -> p).toMap)

  /** A fresh, empty store bootstrapped the way the ETL pipeline does
    * it: `Pipeline.run` on an empty url list creates the five tables. */
  private def freshStore(): Unit = {
    if (storeDir != null) deleteTree(storeDir)
    storeDir = Files.createDirectories(work.resolve("store")).resolve(s"s${System.nanoTime()}")
    val store = new GraphStore(spark, storeDir.toString)
    val cleaner = new Enrich.PassThroughCleaner
    val empty = spark.createDataFrame(java.util.List.of[Row](), graft.model.GraphSchema.linksCsv)
    new Pipeline(spark, fetcher, cleaner, classifier).run(empty, store)
    ops = new Ops(spark, store, new GraphService(spark, store, fetcher, cleaner, classifier), tr,
      fetcher, classifier)
    model = new Model
  }

  private lazy val preload: Vector[MetaRow] =
    if (workload == "serve") gen.batch(ServePreloadRows, allowReupload = false) else Vector.empty

  /** Set-up: session start plus bootstrap (ingest) or preload (serve),
    * from a stopped session. Returns its wall time. */
  private def setup(): Double = {
    val rows = preload
    val t0 = System.nanoTime()
    stopSession()
    spark = startSession()
    val t1 = System.nanoTime()
    freshStore()
    val t2 = System.nanoTime()
    if (rows.nonEmpty) ops.service.uploadMetadataCsv(ops.metaFrame(rows), rows.size)
    val s = (System.nanoTime() - t0) / 1e9
    log(f"setup: session ${(t1 - t0) / 1e9}%.3f s, bootstrap ${(t2 - t1) / 1e9}%.3f s, preload ${s - (t2 - t0) / 1e9}%.3f s")
    model.upload(rows)
    check("preload link count", ops.store.nodes("link").count() == model.links.size)
    s
  }

  // ---- checks ----

  private def check(what: String, ok: => Boolean): Boolean = {
    val good = try ok catch { case e: Throwable => failures += s"$what: $e"; false }
    if (!good && failures.size < 20) failures += what
    good
  }

  /** One operation: timed, counted, its result checked. */
  private def op[T](kind: String, record: Boolean)(body: => T)(verify: T => Boolean): Unit = {
    val traced = trace && tr.enabled
    val t0 = System.nanoTime()
    val res = try Right(body) catch { case e: Throwable => Left(e) }
    val s = (System.nanoTime() - t0) / 1e9
    if (record) attempted += 1
    val ok = res match {
      case Right(v) => check(s"$kind result", verify(v))
      case Left(e) => failures += s"$kind threw: $e"; false
    }
    if (record) {
      if (!ok) failed += 1
      lat.getOrElseUpdate((kind, traced), mutable.ArrayBuffer.empty) += s
    }
  }

  private def linkCountOk: Boolean = ops.store.nodes("link").count() == model.links.size

  private def interOk(got: Array[Row], canonical: Boolean): Boolean =
    got.map(r => InterRow(r.getString(0), r.getString(1), r.getString(2), r.getString(3), r.getString(4))).toSeq ==
      model.interconnections(canonical, 100)

  // ---- store size on disk ----

  private def storeFiles(): Map[String, (Long, Long)] = {
    val out = mutable.HashMap.empty[String, (Long, Long)]
    val it = Files.walk(storeDir)
    try it.forEach(p => if (Files.isRegularFile(p)) out(p.toString) = (Files.size(p), Files.getLastModifiedTime(p).toMillis))
    finally it.close()
    out.toMap
  }
  private def storeBytes(): Long = storeFiles().valuesIterator.map(_._1).sum

  /** A write request; in a traced run also the bytes it wrote. */
  private def write[T](kind: String, input: Long, record: Boolean)(body: => T)(verify: T => Boolean): Unit = {
    val before = if (tr.enabled) storeFiles() else Map.empty[String, (Long, Long)]
    inputBytes += input
    op(kind, record)(body)(verify)
    if (tr.enabled) {
      val written = storeFiles().collect { case (p, v) if !before.get(p).contains(v) => v._1 }.sum
      tr.count("store.bytes_written", written.toDouble)
      tr.count("store.input_bytes", input.toDouble)
    }
  }

  // ---- workloads ----

  /** Warm-up requests are checked but not measured. */
  private def warmedUp(): Unit = {
    log("warmed up")
    tr.spans.clear(); tr.counters.clear(); alternation.clear()
  }

  private def deadline(t0: Long): Boolean = (System.nanoTime() - t0) / 1e9 >= seconds

  /** In a traced run every other request of a kind is traced, the
    * first one included, so the traced and untraced halves see the
    * same mix and store sizes. */
  private val alternation = mutable.HashMap.empty[String, Int].withDefaultValue(0)
  private def traceNext(kind: String): Unit = if (trace) {
    alternation(kind) += 1
    tr.enabled = alternation(kind) % 2 == 1
  }

  private def upload(b: Vector[MetaRow], record: Boolean): Unit = {
    traceNext("upload")
    val expect = model.upload(b)
    write("upload", b.map(_.bytes).sum, record)(ops.upload(b)) { landed =>
      if (record) landedRows += landed
      tr.count("etl.rows_landed", landed.toDouble)
      landed == expect && linkCountOk
    }
  }

  /** Warm-up requests, on the first set-up's store, while the JIT
    * settles. Ingest batches come from a generator of their own, so the
    * measured store and its generator both start empty. */
  private def warmUp(): Unit =
    if (workload == "ingest") {
      val warm = new Gen(~seed)
      Seq.fill(IngestWarmupBatches)(warm.batch(IngestWarmupRows)).foreach(upload(_, record = false))
    } else (Seq.fill(4)("index") ++ Seq.fill(2)("graph_data") ++ Seq("add_link", "delete_link"))
      .foreach(serveRequest(_, record = false))

  /** Ingest: batches are uploaded into one growing store, empty at the
    * start, until the measured time is up; then an analyst runs an
    * analytics pass over what landed. A traced run warms the pass up
    * first, so its layer times are warm; an untraced run only checks
    * and prints it. */
  private def runIngest(): Unit = {
    inputBytes = 0
    val t0 = System.nanoTime()
    var batches = 0
    while (!deadline(t0)) {
      upload(gen.batch(IngestBatchRows), record = true)
      batches += 1
    }
    storeRatio = storeBytes().toDouble / inputBytes
    log(s"ingest: $batches measured batches of $IngestBatchRows rows grew the store to ${model.links.size} links")
    if (trace) analyticsPass(record = false)
    analyticsPass(record = true)
  }

  private var pool = 0
  private var adds = 0
  private def storedUrl() = model.links.keys.toSeq.sorted.apply(gen.pick(model.links.size))

  private def serveRequest(kind: String, record: Boolean): Unit = {
    traceNext(kind)
    kind match {
      case "index" =>
        op("index", record)(ops.index()) { r =>
          tr.count("query.pairs_examined", model.sumDegSq.toDouble)
          interOk(r.inter, canonical = false) &&
            r.listing.map(_.getString(0)).toSet == model.links.keySet
        }
      case "graph_data" =>
        op("graph_data", record)(ops.graphData()) { r =>
          r.nodes == model.vertexCount && r.edges == model.edgeCount && r.duplicateIds == 0
        }
      case "add_link" =>
        adds += 1
        // one add in five re-submits a stored url in another form
        val (url, page) =
          if (adds % 5 == 1) (gen.unnormalized(storedUrl()), None)
          else {
            val p = addPages(pool % addPages.size); pool += 1
            (if (pool % 2 == 0) gen.unnormalized(p.url) else p.url, Some(p))
          }
        val expect = model.add(url, page)
        write("add_link", url.length + page.map(_.bytes).getOrElse(0L), record)(ops.addLink(url)) { n =>
          tr.count("etl.rows_landed", n.toDouble)
          n == expect && linkCountOk
        }
      case "delete_link" =>
        val u = storedUrl()
        val url = if (gen.pick(2) == 0) gen.unnormalized(u) else u
        model.delete(url)
        write("delete_link", url.length, record)(ops.deleteLink(url)) { _ =>
          linkCountOk &&
            ops.store.nodes("category").collect().map(_.getString(0)).toSet == model.categories &&
            ops.store.nodes("keyword").collect().map(_.getString(0)).toSet == model.keywords
        }
    }
  }

  private def runServe(): Unit = {
    inputBytes = preload.map(_.bytes).sum
    var writes = 0
    val t0 = System.nanoTime()
    while (!deadline(t0)) {
      val it = gen.shuffle(ServeMix).iterator
      while (it.hasNext && !deadline(t0)) {
        val slot = it.next()
        if (slot == "write") writes += 1
        serveRequest(if (slot != "write") slot else if (writes % 2 == 1) "add_link" else "delete_link", record = true)
      }
    }
    // a window holds one or two writes: a traced run still traces one
    // request of every kind
    if (trace) Seq("index", "graph_data", "add_link", "delete_link")
      .filterNot(k => lat.contains((k, true))).foreach(serveRequest(_, record = true))
    storeRatio = storeBytes().toDouble / inputBytes
  }

  /** One analytics pass, checked against the model: exact flagship
    * rows, keyword distribution, vertex and component counts, and
    * MinHash recall on the planted near-duplicates now in the store. */
  private def analyticsPass(record: Boolean): Unit = {
    if (record) traceNext("pass") else tr.enabled = false
    op("pass", record)(ops.analyticsPass()) { r =>
      tr.count("query.pairs_examined", model.sumDegSq.toDouble)
      val found = r.minhash.map(x => (x.getString(0), x.getString(1))).toSet
      val planted = gen.planted.filter { case (a, b) => model.links.contains(a) && model.links.contains(b) }
      val recall = planted.count { case (a, b) => found(if (a < b) (a, b) else (b, a)) }.toDouble / planted.size
      if (tr.enabled) {
        tr.count("ext.minhash_pairs", found.size.toDouble)
        tr.count("ext.minhash_candidates", ops.minhashCandidates().toDouble)
      }
      val contents = model.links.view.mapValues(_.content)
      check("pass interconnections", interOk(r.inter, canonical = true)) &&
        check("pass keyword distribution",
          r.keywordDist.map(x => (x.getString(0), x.getLong(1))).toSeq == model.keywordDistribution) &&
        check("pass pagerank rows", r.pageRankRows == model.vertexCount) &&
        check("pass components", r.ccRows == model.vertexCount && r.components == model.componentCount) &&
        check(f"minhash recall $recall%.3f on ${planted.size} planted pairs", planted.isEmpty || recall >= 0.9) &&
        check("minhash pairs verified", r.minhash.forall { x =>
          val j = Model.shingleJaccard(contents(x.getString(0)), contents(x.getString(1)))
          j >= 0.5 && math.abs(j - x.getDouble(2)) < 1e-3
        })
    }
  }

  // ---- statistics ----

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The highest percentile with at least ten samples beyond it: the
    * 11th-largest sample. With fewer than 21 samples that percentile
    * is not above the median, and the median is reported. Returns the
    * value and its percentile. */
  private def tail(xs: Seq[Double]): (Double, Double) = {
    val s = xs.sorted
    if (s.size < 21) (median(s), 50.0) else (s(s.size - 11), 100.0 * (s.size - 10) / s.size)
  }

  private def samples(kinds: Seq[String], traced: Boolean): Seq[Double] =
    kinds.flatMap(k => lat.getOrElse((k, traced), Nil))

  /** The requests the end-to-end metrics are about. */
  private val headline: Seq[String] =
    if (workload == "ingest") Seq("upload") else Seq("index", "graph_data", "add_link", "delete_link")

  /** VmHWM of this JVM, in MB. */
  private def peakRssMb: Double = {
    val lines = Files.readAllLines(Paths.get("/proc/self/status"))
    (0 until lines.size).map(lines.get).find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(Double.NaN)
  }

  // ---- the run ----

  def run(): String = {
    Files.createDirectories(work)
    val summary = gen.realised
    // The first set-up is cold. The warm-up runs on it, so the later
    // set-ups are warm; the measured phase runs on the last one.
    val first = setup()
    warmUp()
    val setupTimes = first +: Seq.fill(SetupRepeats - 1)(setup())
    warmedUp()
    if (trace) spark.sparkContext.addSparkListener(listener)
    log("measuring")
    if (workload == "ingest") runIngest() else runServe()
    tr.enabled = trace
    log("measured")

    lat.foreach { case ((kind, traced), xs) =>
      log(s"latencies $kind${if (traced) " traced" else ""}: ${xs.map(x => f"$x%.3f").mkString(" ")}")
    }
    val degs = model.keywordDegrees.values
    log(s"workload=$workload seed=$seed cores=$cores trace=${if (trace) 1 else 0} seconds=$seconds")
    log(f"input: rows=${summary.total} invalid_share=${summary.share(summary.invalid)}%.4f " +
      f"reupload_share=${summary.share(summary.reupload)}%.4f near_dup_share=${summary.share(summary.nearDup)}%.4f " +
      s"planted_pairs=${gen.planted.size} links_in_store=${model.links.size} " +
      s"hottest_keyword_degree=${if (degs.isEmpty) 0 else degs.max} " +
      f"hottest_keyword_share=${if (degs.isEmpty) 0.0 else degs.max.toDouble / model.links.size}%.4f " +
      s"sum_deg_sq=${model.sumDegSq}")
    log(s"setup_s runs: ${setupTimes.map(t => f"$t%.3f").mkString(" ")}")
    failures.take(10).foreach(f => log(s"FAILED CHECK: $f"))
    val metrics =
      if (!trace) endToEnd(setupTimes)
      else perLayer()
    metrics.foreach { case (k, (v, u)) => log(f"metric $k%-34s $v%.6f $u") }
    val correct = failed == 0 && failures.isEmpty && attempted > 0
    log(f"attempted=$attempted failed=$failed fail_ratio=${if (attempted == 0) 0.0 else failed.toDouble / attempted}%.4f correct=$correct")
    val body = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}"""
  }

  private def num(v: Double): String = if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  /** End-to-end metrics. The workload's own names (`upload_p50_s`,
    * `index_tail_s`, ...) are printed alongside. */
  private def endToEnd(setupTimes: Seq[Double]): Seq[(String, (Double, String))] = {
    val all = samples(headline, traced = false)
    val throughput =
      if (workload == "ingest") landedRows / all.sum
      else {
        // requests per second at the stated mix, so a run's throughput
        // does not hinge on how many of its few writes fit the window
        def mean(kinds: String*) = { val xs = samples(kinds, traced = false); xs.sum / xs.size }
        1 / (ServeMix.count(_ == "index") * mean("index") + ServeMix.count(_ == "graph_data") * mean("graph_data") +
          ServeMix.count(_ == "write") * mean("add_link", "delete_link")) * ServeMix.size
      }
    def report(name: String, v: Double, unit: String, note: String): Unit =
      log(f"named $name%-27s $v%.6f $unit%s ($note)")
    def latency(name: String, kinds: String*): Unit = {
      val xs = samples(kinds, traced = false)
      val (t, pct) = tail(xs)
      report(s"${name}_p50_s", median(xs), "s", s"n=${xs.size}")
      report(s"${name}_tail_s", t, "s", f"p$pct%.0f of n=${xs.size}")
    }
    if (workload == "ingest") {
      latency("upload", "upload")
      report("ingest_rows_per_s", throughput, "rows/s", s"$landedRows rows landed")
      latency("analytics_pass", "pass")
    } else {
      latency("index", "index")
      latency("graph_data", "graph_data")
      latency("write", "add_link", "delete_link")
      report("serve_ops_per_s", throughput, "1/s", s"${all.size} requests")
    }
    report("fail_ratio", if (attempted == 0) 0.0 else failed.toDouble / attempted, "ratio", s"$failed of $attempted")
    report("peak_rss_mb", peakRssMb, "MB", "VmHWM")
    report("store_bytes_per_input_byte", storeRatio, "ratio", "bytes under the store root / generated input bytes")
    Seq(
      "setup_s" -> (median(setupTimes), "s"),
      "request_p50_s" -> (median(all), "s"),
      "throughput_per_s" -> (throughput, "1/s"),
      "store_bytes_per_input_byte" -> (storeRatio, "ratio"))
  }

  /** Per-layer metrics from the traced requests: layer time per
    * request (self time of the layer's spans), counters per request,
    * ratios of totals, engine counters by time window. */
  private def perLayer(): Seq[(String, (Double, String))] = {
    ListenerDrain(spark.sparkContext)
    val spans = tr.spans.toSeq
    val reqs = spans.filter(s => s.parent < 0 && s.name.startsWith("req."))
    val n = math.max(1, reqs.size).toDouble
    val self = Attribution.selfMs(spans)
    val stats = Attribution.attribute(spans, listener)
    val reqIds = reqs.map(_.request).toSet
    def inReq(s: Span) = reqIds(s.request) && !s.name.startsWith("probe.")
    def layerS(name: String) = spans.filter(s => s.name == name && inReq(s)).map(s => self(s.id)).sum / 1000 / n
    def counter(name: String) = tr.counters.collect { case ((r, k), v) if k == name && reqIds(r) => v }.sum
    def ratio(a: Double, b: Double) = if (b == 0) 0.0 else a / b
    def engine(f: SpanStats => Double) = spans.filter(inReq).map(s => stats.get(s.id).map(f).getOrElse(0.0)).sum / n
    val gap = reqs.map(r => Attribution.driverGapMs(r.startMs, r.endMs, listener)).sum / 1000 / n
    val (traced, untraced) = (samples(headline, traced = true), samples(headline, traced = false))
    val overhead = median(traced) - median(untraced)

    printSpanTable(spans.filter(inReq), self, stats)
    writeTrace(spans, self, stats)
    log(f"tracing overhead: ${median(traced)}%.4f s traced p50 (n=${traced.size}) vs " +
      f"${median(untraced)}%.4f s untraced p50 (n=${untraced.size})")

    val rowsIn = counter("etl.rows_in")
    Seq(
      "etl.stage_s" -> (layerS("etl.stage"), "s"),
      "etl.rows_in" -> (rowsIn / n, "count"),
      "etl.rows_valid" -> (counter("etl.rows_valid") / n, "count"),
      "etl.rows_novel" -> (counter("etl.rows_novel") / n, "count"),
      "etl.useful_ratio" -> (ratio(counter("etl.rows_landed"), rowsIn), "ratio"),
      "store.commit_s" -> (layerS("store.commit"), "s"),
      "store.bytes_written" -> (counter("store.bytes_written") / n, "B"),
      "store.write_amp" -> (ratio(counter("store.bytes_written"), counter("store.input_bytes")), "ratio"),
      "store.files_total" -> (storeFiles().size.toDouble, "count"),
      "store.read_s" -> (layerS("store.read"), "s"),
      "store.delete_s" -> (layerS("store.delete"), "s"),
      "query.interconnect_s" -> (layerS("query.interconnect"), "s"),
      "query.pairs_examined" -> (counter("query.pairs_examined") / n, "count"),
      "query.examined_per_returned" -> (ratio(counter("query.pairs_examined"), counter("query.interconnect_returned")), "ratio"),
      "query.listing_s" -> (layerS("query.listing"), "s"),
      "query.listing_bytes_collected" -> (counter("query.listing_bytes_collected") / n, "B"),
      "query.viz_s" -> (layerS("query.viz"), "s"),
      "query.novel_s" -> (layerS("query.novel"), "s"),
      "graphx.build_s" -> (layerS("graphx.build"), "s"),
      "graphx.pagerank_s" -> (layerS("graphx.pagerank"), "s"),
      "graphx.cc_s" -> (layerS("graphx.cc"), "s"),
      "ext.minhash_s" -> (layerS("ext.minhash"), "s"),
      "ext.minhash_candidates" -> (counter("ext.minhash_candidates") / n, "count"),
      "ext.minhash_pairs" -> (counter("ext.minhash_pairs") / n, "count"),
      "ext.candidate_precision" -> (ratio(counter("ext.minhash_pairs"), counter("ext.minhash_candidates")), "ratio"),
      "spark.jobs" -> (engine(_.jobs), "count"),
      "spark.stages" -> (engine(_.stages), "count"),
      "spark.tasks" -> (engine(_.tasks), "count"),
      "spark.task_s" -> (engine(_.taskMs) / 1000, "s"),
      "spark.shuffle_read_bytes" -> (engine(_.shuffleRead), "B"),
      "spark.shuffle_write_bytes" -> (engine(_.shuffleWrite), "B"),
      "spark.spill_bytes" -> (engine(_.spill), "B"),
      "spark.gc_s" -> (engine(_.gcMs) / 1000, "s"),
      "spark.driver_gap_s" -> (gap, "s"),
      "trace.overhead_s" -> (overhead, "s"),
      "jvm.peak_rss_mb" -> (peakRssMb, "MB"))
  }

  private def printSpanTable(spans: Seq[Span], self: Map[Int, Double], stats: Map[Int, SpanStats]): Unit = {
    log(f"${"span"}%-26s ${"count"}%6s ${"total_s"}%9s ${"self_s"}%9s ${"jobs"}%6s ${"stages"}%6s ${"tasks"}%7s ${"task_s"}%8s ${"gap_s"}%8s")
    spans.groupBy(_.name).toSeq.sortBy(-_._2.map(_.durMs).sum).foreach { case (name, ss) =>
      val st = ss.flatMap(s => stats.get(s.id))
      val gap = ss.map(s => Attribution.driverGapMs(s.startMs, s.endMs, listener)).sum / 1000
      log(f"$name%-26s ${ss.size}%6d ${ss.map(_.durMs).sum / 1000}%9.3f ${ss.map(s => self(s.id)).sum / 1000}%9.3f " +
        f"${st.map(_.jobs).sum}%6d ${st.map(_.stages).sum}%6d ${st.map(_.tasks).sum}%7d ${st.map(_.taskMs).sum / 1000}%8.3f $gap%8.3f")
    }
  }

  private def writeTrace(spans: Seq[Span], self: Map[Int, Double], stats: Map[Int, SpanStats]): Unit = {
    val out = work.resolve(s"trace-$workload-$seed.jsonl")
    val lines = spans.map { s =>
      val st = stats.getOrElse(s.id, SpanStats())
      f"""{"id": ${s.id}, "name": "${s.name}", "parent": ${s.parent}, "request": ${s.request}, """ +
        f""""start_ms": ${s.startMs}%.3f, "end_ms": ${s.endMs}%.3f, "self_ms": ${self(s.id)}%.3f, """ +
        s""""jobs": ${st.jobs}, "stages": ${st.stages}, "tasks": ${st.tasks}, "task_ms": ${st.taskMs}, """ +
        s""""shuffle_read_bytes": ${st.shuffleRead}, "shuffle_write_bytes": ${st.shuffleWrite}, "spill_bytes": ${st.spill}}"""
    }
    Files.write(out, lines.mkString("", "\n", "\n").getBytes("UTF-8"))
    log(s"spans written to ${out.getFileName} (${spans.size} spans)")
  }

  def close(): Unit = {
    stopSession()
    if (storeDir != null) deleteTree(storeDir)
  }

  private def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val it = Files.walk(p)
    try it.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(f => Files.deleteIfExists(f))
    finally it.close()
  }
}
