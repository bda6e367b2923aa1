package graft.queryengine

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.CorpusGen
import graft.index.IndexBuild
import graft.store.TableStore

/** Round-6: the presentation slice fetch must PRUNE to the slice's own
  * corpus bucket partitions when the corpus is written bucketed
  * (CorpusGen.writeBucketed) — O(slice buckets) instead of O(corpus
  * files) footer reads per query — and must return exactly the rows the
  * unpruned scan returns. Unbucketed (pre-round-6) corpora keep the full
  * scan path. */
class CorpusBucketSpec extends AnyFunSuite {

  lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def fileScans(plan: org.apache.spark.sql.execution.SparkPlan): Seq[FileSourceScanExec] =
    plan.collect {
      case s: FileSourceScanExec => Seq(s)
      case a: AdaptiveSparkPlanExec => fileScans(a.executedPlan)
    }.flatten

  test("bucketed corpus: slice fetch scans only the slice's pb partitions; rows identical") {
    val work = Files.createTempDirectory("graft-corpusbucket").toString
    val cfg = CorpusGen.Config(nSites = 2, pagesPerSite = 150)
    val pages = CorpusGen.generate(spark, cfg).toDF
    val store = TableStore.open(spark, s"$work/pages")
    CorpusGen.writeBucketed(store, pages, buckets = 8)

    // meta round-trips and the layout is really partitioned
    assert(CorpusGen.pageBuckets(store).contains(8))
    assert(new java.io.File(s"$work/pages").listFiles()
      .exists(_.getName.startsWith("pb=")), "expected pb=* partition dirs")

    import spark.implicits._
    IndexBuild.run(spark,
      store.read("").as[graft.corpus.PageRow](
        org.apache.spark.sql.Encoders.product[graft.corpus.PageRow]),
      s"$work/idx", IndexBuild.Config(nBatches = 1))
    IndexBuild.mergeSegments(spark, s"$work/idx")
    val engine = new SearchEngine(spark, s"$work/idx", s"$work/pages")

    val urls = store.read("").select("url").limit(3)
      .collect().map(_.getString(0)).toSeq
    val fetch = engine.presentFetch(urls)
    val rows = fetch.collect().map(r => r.getString(0)).sorted

    // value identity with the unpruned scan
    val expected = store.read("")
      .filter(org.apache.spark.sql.functions.col("url").isin(urls: _*))
      .select("url").collect().map(_.getString(0)).sorted
    assert(rows.toSeq == expected.toSeq && rows.length == urls.size)

    // plan: the scan's partition filters name pb, and only the slice's
    // bucket partitions are read (≤ distinct buckets of the 3 urls)
    val scan = fileScans(fetch.queryExecution.executedPlan)
      .find(_.relation.location.rootPaths.exists(_.toString.contains("pages")))
      .getOrElse(fail("no corpus FileSourceScan in plan"))
    assert(scan.partitionFilters.exists(_.references.exists(_.name == "pb")),
      s"no pb partition filter in: ${scan.partitionFilters}")
    val wantBuckets = urls.map(CorpusGen.pageBucketOf(_, 8)).distinct.sorted
    val scannedDirs = scan.relation.location.listFiles(
        scan.partitionFilters, scan.dataFilters)
      .map(_.values.getInt(0)).sorted
    assert(scannedDirs.toSeq == wantBuckets,
      s"scanned pb dirs $scannedDirs != slice buckets $wantBuckets")

    // search end-to-end still presents items (html found through pruning)
    val resp = engine.search("бома бава", 0, 5)
    assert(resp.result && resp.data.nonEmpty)
    assert(resp.data.forall(_.title != null))
  }

  test("corpus rewritten under a live engine: the next search presents the new title and snippet") {
    val work = Files.createTempDirectory("graft-corpusrewrite").toString
    val pages = CorpusGen.generate(spark, CorpusGen.Config(nSites = 2, pagesPerSite = 100))
      .collect().toSeq
    val store = TableStore.open(spark, s"$work/pages")
    import spark.implicits._
    CorpusGen.writeBucketed(store, spark.createDataset(pages).toDF, buckets = 8)
    IndexBuild.run(spark,
      store.read("").as[graft.corpus.PageRow](
        org.apache.spark.sql.Encoders.product[graft.corpus.PageRow]),
      s"$work/idx", IndexBuild.Config(nBatches = 1))
    IndexBuild.mergeSegments(spark, s"$work/idx")
    val engine = new SearchEngine(spark, s"$work/idx", s"$work/pages")
    val q = "бома бава"
    val before = engine.search(q, 0, 5)
    assert(before.data.nonEmpty)

    // same urls, new html, and a different bucket count: the held corpus
    // relation and its page-bucket count are both stale now
    def newHtml(url: String): String =
      s"<html><head><title>обновлено $url</title></head>" +
        "<body><p>новое бома бава тело страницы</p></body></html>"
    CorpusGen.writeBucketed(store, spark.createDataset(pages.map(p =>
      p.copy(html = newHtml(p.url).getBytes(java.nio.charset.StandardCharsets.UTF_8)))).toDF,
      buckets = 4)

    val after = engine.search(q, 0, 5)
    assert(after.count == before.count && after.data.map(_.uri) == before.data.map(_.uri),
      "the index did not change, so neither may the ranking")
    after.data.foreach { i =>
      assert(i.title == graft.core.HtmlText.title(newHtml(i.site + i.uri)),
        s"stale title for ${i.uri}: ${i.title}")
      assert(i.snippet.contains("новое") && i.snippet.contains("<b>"),
        s"stale snippet for ${i.uri}: ${i.snippet}")
    }
  }

  test("unbucketed corpus: fetch falls back to the full scan and still works") {
    val work = Files.createTempDirectory("graft-corpusflat").toString
    val cfg = CorpusGen.Config(nSites = 1, pagesPerSite = 60)
    val store = TableStore.open(spark, s"$work/pages")
    store.replace(CorpusGen.generate(spark, cfg).toDF, "")
    assert(CorpusGen.pageBuckets(store).isEmpty)

    import spark.implicits._
    IndexBuild.run(spark,
      store.read("").as[graft.corpus.PageRow](
        org.apache.spark.sql.Encoders.product[graft.corpus.PageRow]),
      s"$work/idx", IndexBuild.Config(nBatches = 1))
    IndexBuild.mergeSegments(spark, s"$work/idx")
    val engine = new SearchEngine(spark, s"$work/idx", s"$work/pages")
    val urls = store.read("").select("url").limit(2)
      .collect().map(_.getString(0)).toSeq
    assert(engine.presentFetch(urls).collect().length == 2)
  }

  test("unbucketed corpus: a file the held listing missed is found after a short fetch") {
    val work = Files.createTempDirectory("graft-corpusstale").toString
    val pages = CorpusGen.generate(spark, CorpusGen.Config(nSites = 1, pagesPerSite = 80))
      .collect().toSeq
    import spark.implicits._
    IndexBuild.run(spark, spark.createDataset(pages), s"$work/idx", IndexBuild.Config(nBatches = 1))
    IndexBuild.mergeSegments(spark, s"$work/idx")
    val q = "бома бава"

    // the first result's page, learned on a complete copy of the corpus
    TableStore.open(spark, s"$work/full").replace(spark.createDataset(pages).toDF, "")
    val top = new SearchEngine(spark, s"$work/idx", s"$work/full").search(q, 0, 5).data.head
    val held = pages.filter(_.url == top.site + top.uri)
    assert(held.size == 1)
    val heldTitle = graft.core.HtmlText.title(
      new String(held.head.html, java.nio.charset.StandardCharsets.UTF_8))

    // the served corpus lacks that page; its file waits under a hidden
    // name (`_`-prefixed files are not listed) in the same directory
    val store = TableStore.open(spark, s"$work/pages")
    store.replace(spark.createDataset(pages.filterNot(_.url == top.site + top.uri)).toDF, "")
    spark.createDataset(held).toDF.coalesce(1).write.parquet(s"$work/held")
    val dir = java.nio.file.Paths.get(s"$work/pages")
    val part = new java.io.File(s"$work/held").listFiles()
      .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
    Files.copy(part.toPath, dir.resolve("_held.parquet"))

    val engine = new SearchEngine(spark, s"$work/idx", s"$work/pages")
    val before = engine.search(q, 0, 5)
    assert(before.data.head.uri == top.uri && before.data.head.title != heldTitle)

    // publish the file without moving the corpus stamp (same entry count,
    // directory mtime restored): the held listing is now stale
    val stamp = store.fingerprint(Seq(""))
    val mtime = Files.getLastModifiedTime(dir)
    Files.move(dir.resolve("_held.parquet"), dir.resolve("part-held.parquet"))
    Files.setLastModifiedTime(dir, mtime)
    assert(store.fingerprint(Seq("")) == stamp, "the stamp must miss this change")

    val after = engine.search(q, 0, 5)
    assert(after.data.map(_.uri) == before.data.map(_.uri))
    assert(after.data.head.title == heldTitle,
      s"stale listing: ${after.data.head.uri} presented with title '${after.data.head.title}'")
  }
}
