package searchbench

import java.io.File

import scala.collection.Seq
import scala.collection.mutable

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.functions._

import graft.{BenchBuild, BenchBurn, RefOracle}
import graft.core.{Bm25, Lemmatizer, ReferenceTfSum, Scorer}
import graft.corpus.{CorpusGen, PageRow}
import graft.index.{IndexBuild, Refresh}
import graft.queryengine.SearchEngine
import graft.store.TableStore

/** Benchmark entry point. Runs one seeded workload against the public API
  * of the engine from one process (Spark local[4], one client in a closed
  * loop) and writes one JSON result object to `--out`.
  *
  * With `--trace 0` the run registers no listener, sets no job group and
  * records no span. With `--trace 1` requests alternate between untraced
  * and traced; traced requests run under their own Spark job group and
  * get a span, and the run adds the listener counters, the `graft.core`
  * kernel tier and the calibration burn; a traced `topk_warm` run ends
  * with a refresh of recrawled pages and the queries after it.
  *
  * args: --workload W --seed N --seconds S --trace 0|1 --work DIR --out FILE
  */
object Main {
  final case class Conf(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, out: String)

  def main(argv: Array[String]): Unit = {
    val kv = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val conf = Conf(kv("workload"), kv("seed").toLong, kv("seconds").toInt,
      kv("trace") == "1", kv("work"), kv("out"))
    val spark = SparkSession.builder().appName("searchbench").master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"${conf.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${conf.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val run = new Run(spark, conf)
      conf.workload match {
        case "topk_warm" => run.topkWarm()
        case "search_api" => run.searchApi()
        case w => sys.error(s"unknown workload '$w'")
      }
      run.write()
    } finally spark.stop()
  }
}

/** One benchmark run: set-up, timed window, answer checks and figures. */
final class Run(spark: SparkSession, conf: Main.Conf) {
  import spark.implicits._

  // Corpus shape shared by every workload: 4 sites, web-page-sized docs.
  // Set-up and refresh cost is mostly fixed Spark overhead at this size.
  private val Sites = 4
  private val PagesPerSite = 500
  private val AvgWords = 400
  // recrawled pages in the refresh that ends a traced topk_warm run, and
  // the queries timed after it (the first pays the engine reload)
  private val RefreshPages = 20
  private val SteadyAfterRefresh = 10
  // untimed requests before each window (see window)
  private val WarmUpNs = 14000000000L

  private val pagesDir = s"${conf.work}/pages"
  private val indexDir = s"${conf.work}/index"
  private val cfg = CorpusGen.Config(Sites, PagesPerSite, seed = conf.seed, avgWords = AvgWords)
  private var queries: Inputs.Queries = _

  private val probe: Option[Probe] = if (conf.trace) Some(new Probe(spark.sparkContext)) else None
  private val tracer = new Tracer
  private val e2e = mutable.LinkedHashMap.empty[String, Double]
  private val layer = mutable.LinkedHashMap.empty[String, Double]
  private val info = mutable.LinkedHashMap.empty[String, String]
  private var attempted = 0L
  private var failed = 0L
  private val failures = mutable.ArrayBuffer.empty[String]

  private val t0Run = System.nanoTime()
  /** Marks the end of a run phase in the report (seconds since start). */
  private def mark(phase: String): Unit = info(s"at.$phase") = f"${(System.nanoTime() - t0Run) / 1e9}%.2f"
  private val gcAtStart = Host.gcMs()
  private val procAtStart = BenchBuild.readProcStat()

  // ── calls ────────────────────────────────────────────────────────────

  private val calls = mutable.ArrayBuffer.empty[Call]
  private var reqSeq = 0

  /** Times one call into a layer. A traced call runs under its own job
    * group (so its Spark work is attributed to it) and becomes a span once
    * the listener has drained; an untraced call clears the group. */
  private def call[A](name: String, traced: Boolean)(f: => A): (A, Call) = {
    reqSeq += 1
    val req = s"r$reqSeq"
    probe.foreach(p => if (traced) p.group(req) else spark.sparkContext.clearJobGroup())
    val t0 = System.nanoTime()
    val a = f
    val c = Call(req, name, t0, System.nanoTime(), traced)
    calls += c
    (a, c)
  }

  /** Whether the i-th timed request is traced: every other one in a
    * traced run, none otherwise. */
  private def tracedAt(i: Int): Boolean = conf.trace && i % 2 == 1

  /** Closed loop, one client: untimed warm-up requests, then requests for
    * `conf.seconds`. Latency keeps falling for tens of seconds while the
    * JIT compiles the query path, so the window starts late on that curve.
    * The warm-up runs the same `body`, with a negative index, which records
    * nothing, so the JIT warms the window's own call path. In the window
    * the first request always runs; a later one starts only if a request
    * as long as the previous one would still end inside the window, so slow
    * requests do not overrun it. */
  private def window(body: Int => Unit): Double = {
    val warmEnd = System.nanoTime() + WarmUpNs
    while (System.nanoTime() < warmEnd) body(-1)
    val first = calls.size
    val t0 = System.nanoTime()
    val end = t0 + conf.seconds * 1000000000L
    var i = 0
    var last = 0L
    var now = t0
    while (i == 0 || now + last <= end) {
      body(i); i += 1
      val t = System.nanoTime(); last = t - now; now = t
    }
    windowCalls = calls.slice(first, calls.size).toSeq
    (now - t0) / 1e9
  }

  // ── set-up ───────────────────────────────────────────────────────────

  /** The answer key: the generated pages as `RefOracle` sees them. */
  private var corpus: RefOracle.Corpus = _
  private def htmlOf(c: RefOracle.Corpus): Map[String, String] = c.docs.map(d => d.url -> d.html).toMap

  /** Generates the corpus, builds the index, and opens the engine three
    * times on it (cold: cached tables dropped first). */
  private def setUp(scorer: Scorer): SearchEngine = {
    val pagesStore = TableStore.open(spark, pagesDir)
    CorpusGen.writeBucketed(pagesStore, CorpusGen.generate(spark, cfg, 16).toDF)
    val pages = pagesStore.read("").as[PageRow](Encoders.product[PageRow])
    mark("corpus")
    corpus = Reference.corpus(pagesStore.read("").select("url", "html").as[(String, Array[Byte])].collect())
    queries = new Inputs.Queries(conf.seed, corpus.docs.map(_.lemmaCounts).toIndexedSeq)
    mark("oracle")

    val (_, build) = call("index.build", traced = conf.trace) {
      IndexBuild.run(spark, pages, indexDir, IndexBuild.Config(nBatches = 1))
    }
    val (_, merge) = call("index.merge", traced = conf.trace) {
      IndexBuild.mergeSegments(spark, indexDir)
    }
    mark("build")
    val buildS = (merge.end - build.start) / 1e9
    // one batch writes its segments straight to `index`, so mergeSegments
    // returns at once; index.build_s holds both calls
    layer("index.build_s") = buildS
    layer("index.build_docs_per_s") = corpus.nDocs / buildS

    val store = TableStore.open(spark, indexDir)
    val nPostings = store.read("index").agg(sum("doc_count")).as[Long].collect()(0)
    e2e("index_bytes_per_posting") = store.sizeInBytes("index").toDouble / nPostings

    val opens = (0 until 3).map { _ =>
      spark.catalog.clearCache()
      call("queryengine.open", traced = conf.trace)(new SearchEngine(spark, indexDir, pagesDir, scorer))
    }
    mark("open")
    layer("queryengine.open_s") = Stats.median(opens.map(_._2.ms / 1000))
    // from a written corpus to a serving engine: the build, then the
    // median of three cold opens
    e2e("setup_s") = buildS + layer("queryengine.open_s")

    buildCalls = Seq(build, merge)
    probe.foreach { p =>
      p.drain()
      val st = Seq(build, merge).map(c => p.stats(c.req))
      layer("index.jobs") = st.map(_.jobs).sum.toDouble
      layer("index.tasks") = st.map(_.tasks).sum.toDouble
      layer("index.shuffle_write_bytes") = st.map(_.shuffleWriteBytes).sum.toDouble
      layer("index.spill_bytes") = st.map(_.spillBytes).sum.toDouble
      layer("index.gc_s") = st.map(_.gcMs).sum / 1000.0
      // executor CPU over the wall time the four cores could have given
      layer("index.cpu_util") = st.map(_.cpuNs).sum / 1e9 / (buildS * 4)
    }
    opens.last._1
  }

  // ── workloads ────────────────────────────────────────────────────────

  /** BM25 top-10 on a prebuilt index whose postings all fit the engine's
    * posting cache: the driver query path, nearly no Spark jobs. A traced
    * run ends with one refresh of recrawled pages and the queries after it. */
  def topkWarm(): Unit = {
    val scorer = Bm25()
    val engine = setUp(scorer)

    val answers = mutable.LinkedHashMap.empty[String, Seq[(Long, Double)]]
    val uses = mutable.HashMap.empty[String, Int].withDefaultValue(0)
    val timed = mutable.ArrayBuffer.empty[Call]
    val wall = window { i =>
      val q = queries.next()
      val (hits, c) = call("queryengine.topK", tracedAt(i))(engine.topK(q, 10))
      if (i >= 0) {
        timed += c
        answers.getOrElseUpdate(q, hits)
        uses(q) += 1
      }
    }
    finishWindow(timed, wall)
    checkAll(answers.map { case (q, hits) => (uses(q), s"topK '$q'", () => checkTopK(corpus, q, hits, scorer)) })
    layer("queryengine.page_next_ms") = 0.0
    if (conf.trace) {
      perCall(timed.filter(_.traced))
      exactWand(engine, answers.keys.toSeq)
      kernels(answers.keys.toIndexedSeq, scorer, presentHits = IndexedSeq.empty)
      refreshRound(engine, scorer)
    } else noRefresh()
  }

  /** The user-facing `search()` with the reference ranking: exact WAND,
    * the docs join, the html fetch and title/snippet per hit; a fifth of
    * the searches are scoped to one site, and 30% are followed by a page-2
    * request that the engine answers from its pagination cache. */
  def searchApi(): Unit = {
    val scorer = ReferenceTfSum
    val engine = setUp(scorer)
    val siteUrls = (0 until Sites).map(s => s"https://site$s.test")
    val scoped = queries.mix(true -> 1, false -> 4)
    val pageTwo = queries.mix(true -> 3, false -> 7)
    def draw(): (String, Option[String], Boolean) =
      (queries.next(),
        if (scoped.next()) Some(siteUrls(queries.nextInt(Sites))) else None,
        pageTwo.next())
    type Key = (String, Option[String], Int)
    val answers = mutable.LinkedHashMap.empty[Key, graft.queryengine.SearchResponse]
    val uses = mutable.HashMap.empty[Key, Int].withDefaultValue(0)
    val timed = mutable.ArrayBuffer.empty[Call]
    val pageNext = mutable.ArrayBuffer.empty[Call]
    val wall = window { i =>
      val (q, site, next) = draw()
      val (r, c) = call("queryengine.search", tracedAt(i))(engine.search(q, 0, 10, site))
      if (i >= 0) {
        timed += c
        answers.getOrElseUpdate((q, site, 0), r)
        uses((q, site, 0)) += 1
      }
      if (next) {
        val (r2, c2) = call("queryengine.search", tracedAt(i))(engine.search(q, 10, 10, site))
        if (i >= 0) {
          pageNext += c2
          answers.getOrElseUpdate((q, site, 10), r2)
          uses((q, site, 10)) += 1
        }
      }
    }
    finishWindow(timed, wall)
    attempted += pageNext.size
    val html = htmlOf(corpus)
    checkAll(answers.map { case (k @ (q, site, off), r) =>
      (uses(k), s"search '$q' site=$site offset=$off", () => checkSearch(q, site, off, r, html))
    })
    layer("queryengine.page_next_ms") = if (pageNext.isEmpty) 0.0 else Stats.median(pageNext.map(_.ms))
    if (conf.trace) {
      perCall(timed.filter(_.traced))
      val qs = answers.keys.map(_._1).toSeq.distinct
      exactWand(engine, qs)
      val hits = answers.collect { case ((q, site, _), r) =>
        val lemmas = Reference.surviving(corpus, q, site.map(IndexBuild.siteOf))
        r.data.map(it => (html(it.site + it.uri).getBytes("UTF-8"), lemmas))
      }.flatten.toIndexedSeq
      kernels(qs.toIndexedSeq, scorer, hits)
    }
    noRefresh()
  }

  /** Re-indexing beside querying, after the window of a traced run: one
    * `refreshPages` of recrawled pages (same urls, new content), then the
    * first query, which pays the engine reload, then steady queries. Every
    * answer is checked against the corpus as of the refresh. */
  private def refreshRound(engine: SearchEngine, scorer: Scorer): Unit = {
    val batch = Inputs.recrawl(cfg, RefreshPages, conf.seed)
    val before = Census(indexDir)
    val ds = spark.createDataset(batch)(Encoders.product[PageRow])
    val (_, rc) = call("index.refreshPages", traced = true)(Refresh.refreshPages(spark, indexDir, ds))
    val (bytesWritten, bucketsFrac) = Census(indexDir).diff(before)
    corpus = Reference.updated(corpus, batch.map(p => p.url -> p.html))
    val after = (0 to SteadyAfterRefresh).map { _ =>
      val q = queries.next()
      (q, call("queryengine.topK", traced = true)(engine.topK(q, 10)))
    }
    attempted += after.size
    checkAll(after.groupBy(_._1).map { case (q, xs) =>
      (xs.size, s"topK '$q' after refresh", () => checkTopK(corpus, q, xs.head._2._1, scorer))
    })
    val fresh = after.head._2._2.ms
    probe.get.drain()
    layer("index.refresh_ms") = rc.ms
    layer("index.refresh_jobs") = probe.get.stats(rc.req).jobs.toDouble
    layer("queryengine.fresh_query_ms") = fresh
    layer("queryengine.reload_ms") = fresh - Stats.median(after.tail.map(_._2._2.ms))
    layer("store.refresh_bytes_written_per_page") = bytesWritten.toDouble / batch.size
    layer("store.buckets_rewritten_frac") = bucketsFrac
  }

  // ── answer checks (outside the timed window) ─────────────────────────

  private val refAnswers = new java.util.concurrent.ConcurrentHashMap[
    (RefOracle.Corpus, Set[String], Option[String]), RefOracle.Response]

  /** `RefOracle.search`, once per corpus, lemma set and site: the answer
    * depends on the query only through its lemma set, so queries that
    * differ only in inflected forms share one brute-force search. */
  private def refSearch(c: RefOracle.Corpus, q: String, site: Option[String], scorer: Scorer): RefOracle.Response = {
    val key = (c, Lemmatizer.lemmaCounts(q).keySet, site)
    Option(refAnswers.get(key)).getOrElse {
      val r = RefOracle.search(c, q, site, scorer)
      refAnswers.putIfAbsent(key, r)
      r
    }
  }

  /** Runs the answer checks on all cores; each is (requests it covers,
    * description, check returning the mismatch or None). */
  private def checkAll(checks: Iterable[(Int, String, () => Option[String])]): Unit =
    Reference.parMap(checks.toIndexedSeq)(c => (c._1, c._2, c._3())).foreach {
      case (times, what, Some(why)) =>
        failed += times
        if (failures.size < 20) failures += s"$what: $why"
      case _ =>
    }

  /** Top-k against the brute-force ranking: same length, same scores
    * rank by rank, and every returned doc is a match with that score
    * (docs tied at the cut may differ). None when correct. */
  private def checkTopK(c: RefOracle.Corpus, q: String, got: Seq[(Long, Double)], scorer: Scorer): Option[String] = {
    val want = refSearch(c, q, None, scorer).results
    val byId = want.map(r => IndexBuild.stableDocId(r.url) -> r.relevance).toMap
    if (got.size != math.min(10, want.size)) Some(s"${got.size} hits, want ${math.min(10, want.size)}")
    else got.zip(want).zipWithIndex.collectFirst {
      case (((id, s), w), i) if !Reference.close(s, w.relevance) || !byId.get(id).exists(Reference.close(_, s)) =>
        s"rank $i: doc $id score $s, want ${w.url} score ${w.relevance}"
    }.orElse(if (got.map(_._1).distinct.size != got.size) Some("duplicate docs") else None)
  }

  /** A search page against the brute-force ranking: total count, urls and
    * relevance of the slice, and title/snippet from each page's html. */
  private def checkSearch(q: String, site: Option[String], offset: Int,
      r: graft.queryengine.SearchResponse, html: Map[String, String]): Option[String] = {
    val want = refSearch(corpus, q, site.map(IndexBuild.siteOf), ReferenceTfSum)
    val slice = want.results.slice(offset, offset + 10)
    val lemmas = Reference.surviving(corpus, q, site.map(IndexBuild.siteOf))
    if (r.count != want.count) Some(s"count ${r.count}, want ${want.count}")
    else if (r.data.size != slice.size) Some(s"${r.data.size} items, want ${slice.size}")
    else r.data.zip(slice).zipWithIndex.collectFirst {
      case ((it, w), i) if it.site + it.uri != w.url || !Reference.close(it.relevance, w.relevance) =>
        s"item $i: ${it.site}${it.uri} ${it.relevance}, want ${w.url} ${w.relevance}"
      case ((it, w), i) if it.title != graft.core.HtmlText.title(html(w.url)) ||
          it.snippet != graft.core.Snippet.build(graft.core.HtmlText.bodyText(html(w.url)), lemmas) =>
        s"item $i: title/snippet differ for ${w.url}"
    }
  }

  // ── figures ──────────────────────────────────────────────────────────

  /** End-to-end figures of the timed requests (the untraced ones in a
    * traced run) and, in a traced run, the tracing overhead. */
  private def finishWindow(timed: Seq[Call], wallS: Double): Unit = {
    mark("window")
    attempted += timed.size
    val plain = timed.filterNot(_.traced).map(_.ms)
    e2e("p50_ms") = Stats.median(plain)
    info("p90_ms") = f"${Stats.pct(plain, 90)}%.3f"
    info("req_per_s") = f"${timed.size / wallS}%.4f"
    info("requests") = timed.size.toString
    info("latencies_ms") = plain.map(x => f"$x%.3f").mkString(",")
    if (conf.trace) {
      tracedRequests = timed.count(_.traced)
      val (tr, un) = timed.partition(_.traced)
      require(tr.nonEmpty && un.nonEmpty, s"too few requests in ${conf.seconds} s to compare tracing")
      val base = Stats.median(un.map(_.ms))
      layer("trace.overhead_p50_ms") = Stats.median(tr.map(_.ms)) - base
      layer("trace.overhead_frac") = layer("trace.overhead_p50_ms") / base
    }
  }

  private var buildCalls = Seq.empty[Call]
  private var windowCalls = Seq.empty[Call]
  private val spanOf = mutable.HashMap.empty[String, Span]

  /** Turns every traced call not yet recorded into a span with its Spark
    * jobs as children. */
  private def recordSpans(): Unit = probe.foreach { p =>
    p.drain()
    calls.filter(c => c.traced && !spanOf.contains(c.req)).foreach { c =>
      val id = tracer.call(c.req, c.name, c.start, c.end, p.stats(c.req).jobSpans)
      spanOf(c.req) = tracer.spans(id - 1)
    }
  }

  /** A traced call's self time: its time outside its own Spark jobs. */
  private def selfMs(c: Call): Double = tracer.selfNs(spanOf(c.req)) / 1e6

  private var tracedRequests = 0

  /** Self time by layer: per traced request of the window, the time the
    * `queryengine` calls spent outside Spark jobs and the time of their
    * Spark jobs; for `index`, the set-up build's time outside its jobs. */
  private def selfPerRequest(): Unit = {
    val window = windowCalls.filter(_.traced)
    def per(xs: Seq[Double]) = xs.sum / math.max(1, tracedRequests)
    layer("self.queryengine_ms") = per(window.map(selfMs))
    layer("self.spark_ms") = per(window.map(c => c.ms - selfMs(c)))
    layer("self.index_ms") = buildCalls.map(selfMs).sum
  }

  /** Listener figures per traced call. */
  private def perCall(traced: Seq[Call]): Unit = {
    val p = probe.get
    recordSpans()
    val st = traced.map(c => p.stats(c.req))
    val self = traced.map(selfMs)
    layer("queryengine.jobs_per_call") = Stats.mean(st.map(_.jobs.toDouble))
    layer("queryengine.zero_job_frac") = Stats.mean(st.map(s => if (s.jobs == 0) 1.0 else 0.0))
    layer("queryengine.driver_ms_per_call") = Stats.mean(self)
    layer("queryengine.spark_job_ms_per_call") = Stats.mean(traced.map(_.ms).zip(self).map(x => x._1 - x._2))
    layer("queryengine.tasks_per_call") = Stats.mean(st.map(_.tasks.toDouble))
    layer("queryengine.scan_bytes_per_call") = Stats.mean(st.map(_.inputBytes.toDouble))
    layer("queryengine.max_task_ms") = (st.map(_.maxTaskMs) :+ 0L).max.toDouble
  }

  /** Exact unbounded WAND (`topK(q, Int.MaxValue, pruned = false)`),
    * median over the run's distinct queries after the window. */
  private def exactWand(engine: SearchEngine, qs: Seq[String]): Unit =
    layer("queryengine.exact_wand_ms") = Stats.median(qs.take(50).map { q =>
      val t0 = System.nanoTime(); engine.topK(q, Int.MaxValue, pruned = false)
      (System.nanoTime() - t0) / 1e6
    })

  /** The kernel tier over this run's pages, its index segments as they
    * are now, and `qs`. */
  private def kernelsFor(qs: IndexedSeq[String]): Kernels = {
    val store = TableStore.open(spark, indexDir)
    val stats = store.read("stats").collect()(0)
    val segs = store.read("index").select("term", "shard", "doc_count", "postings")
      .as[(String, Int, Int, Array[Byte])].collect()
      .map { case (t, s, n, b) => Kernels.Segment(t, s, n, b) }.toIndexedSeq
    val html = corpus.docs.map(_.html.getBytes("UTF-8")).toIndexedSeq
    new Kernels(html, segs, qs, stats.getAs[Long]("n_docs"), stats.getAs[Double]("avgdl"))
  }

  private def kernels(qs: IndexedSeq[String], scorer: Scorer,
      presentHits: IndexedSeq[(Array[Byte], Set[String])]): Unit = {
    val k = kernelsFor(qs)
    layer("core.clean_mb_per_s") = k.cleanMbPerS
    layer("core.lemmatize_docs_per_s") = k.lemmatizeDocsPerS
    layer("core.codec_encode_postings_per_s") = k.encodePostingsPerS
    layer("core.codec_decode_postings_per_s") = k.decodePostingsPerS
    layer("core.wand_topk_postings_per_s") = k.wandPostingsPerS(scorer, exact = false)
    layer("core.wand_exact_postings_per_s") = k.wandPostingsPerS(scorer, exact = true)
    layer("core.query_analyze_us") = k.queryAnalyzeUs
    // presentation of the workload's own hits, or of top-10 pages per query
    lazy val html = htmlOf(corpus)
    val hits = if (presentHits.nonEmpty) presentHits else qs.take(50).flatMap { q =>
      val lemmas = Reference.surviving(corpus, q, None)
      refSearch(corpus, q, None, scorer).results.take(10).map(r => (html(r.url).getBytes("UTF-8"), lemmas))
    }
    layer("core.present_ms") = k.presentMs(hits)
  }

  private def noRefresh(): Unit = {
    layer("index.refresh_ms") = 0.0
    layer("index.refresh_jobs") = 0.0
    layer("queryengine.fresh_query_ms") = 0.0
    layer("queryengine.reload_ms") = 0.0
    layer("store.refresh_bytes_written_per_page") = 0.0
    layer("store.buckets_rewritten_frac") = 0.0
  }

  /** Host calibration and store census, then the result object. */
  def write(): Unit = {
    mark("checks")
    info("reference_searches") = refAnswers.size.toString
    val proc = BenchBuild.readProcStat()
    layer("host.steal_frac") = Host.stealFrac(procAtStart, proc)
    // the 1.5 s calibration burn runs in traced runs only, where it is reported
    layer("host.burn_1t") = if (conf.trace) BenchBurn.burn(1).toDouble else 0.0
    layer("jvm.gc_s") = (Host.gcMs() - gcAtStart) / 1000.0
    layer("jvm.heap_after_gc_mb") = Host.heapAfterGcMb()
    val c = Census(indexDir)
    layer("store.index_bytes") = c.files.values.map(_._1).sum.toDouble
    layer("store.index_files") = c.files.size.toDouble
    if (conf.trace) { recordSpans(); selfPerRequest() }
    info("spans") = tracer.spans.size.toString
    if (conf.trace) tracer.writeJsonl(s"${new File(conf.out).getParent}/spans-${conf.workload}-${conf.seed}.jsonl")

    val metrics = (if (conf.trace) layer else e2e).toSeq
    def obj(kv: Seq[(String, String)]) = kv.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
    val json = obj(Seq(
      "correct" -> (failed == 0).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> obj(metrics.map { case (k, v) => k -> obj(Seq("value" -> Json.num(v))) }),
      "e2e" -> obj(e2e.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "layers" -> obj(layer.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "failures" -> failures.map(Json.str).mkString("[", ",", "]"),
      "info" -> obj(info.toSeq.map { case (k, v) => k -> Json.str(v) })))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(conf.out), json + "\n")
  }
}

/** One timed call into a layer; `req` names its Spark job group. */
final case class Call(req: String, name: String, start: Long, end: Long, traced: Boolean) {
  def ms: Double = (end - start) / 1e6
}

/** File census of a table store directory: relative path → (bytes, mtime). */
final case class Census(files: Map[String, (Long, Long)]) {
  /** Bytes in files new or changed since `before`, and the share of the
    * `index` table's bucket directories with any file added, changed or
    * removed. */
  def diff(before: Census): (Long, Double) = {
    val changed = files.filter { case (p, v) => !before.files.get(p).contains(v) }
    val removed = before.files.keySet -- files.keySet
    def bucket(p: String) = p.split('/').toSeq match {
      case Seq("index", b, _*) if b.startsWith("bucket=") => Some(b)
      case _ => None
    }
    val all = (files.keys ++ before.files.keys).flatMap(bucket).toSet
    val touched = (changed.keys ++ removed).flatMap(bucket).toSet
    (changed.values.map(_._1).sum, if (all.isEmpty) 0.0 else touched.size.toDouble / all.size)
  }
}

object Census {
  def apply(dir: String): Census = {
    val root = new File(dir).toPath
    val files = mutable.HashMap.empty[String, (Long, Long)]
    def walk(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(walk))
      else files(root.relativize(f.toPath).toString) = (f.length(), f.lastModified())
    walk(new File(dir))
    Census(files.toMap)
  }
}
