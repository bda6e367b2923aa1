package searchbench

import java.nio.charset.StandardCharsets.UTF_8

import graft.core._
import graft.queryengine.Wand

/** Kernel tier for `graft.core`: single-threaded loops in the benchmark's
  * JVM, with no Spark, over the workload's own inputs (its pages' html,
  * the segment blobs of its built `index` table, and its queries). Each
  * kernel repeats its input for 300 ms and reports a rate, so the figure
  * does not depend on the input size. Inputs are prepared before any
  * timing starts. */
final class Kernels(
    html: IndexedSeq[Array[Byte]],
    segments: IndexedSeq[Kernels.Segment],
    queries: IndexedSeq[String],
    nDocs: Long,
    avgdl: Double) {
  import Kernels._

  private val BudgetNs = 300000000L

  private val htmlStr = html.map(new String(_, UTF_8))
  private val decoded = segments.map(s => PostingCodec.decode(s.blob))
  private val byTerm = segments.groupBy(_.term)
  private val df: Map[String, Long] = byTerm.map { case (t, ss) => t -> ss.map(_.docCount.toLong).sum }
  private val shards = (segments.map(_.shard) :+ 0).max + 1

  /** Runs `step(i)` for i = 0, 1, ... (wrapping over `n` inputs) until the
    * budget is spent; `step` returns the units of work it did. */
  private def rate(n: Int)(step: Int => Double): Double = {
    require(n > 0, "kernel input is empty")
    var units = 0.0
    var i = 0
    val t0 = System.nanoTime()
    var t = t0
    while (t - t0 < BudgetNs) {
      units += step(i % n); i += 1
      t = System.nanoTime()
    }
    units / ((t - t0) / 1e9)
  }

  def cleanMbPerS: Double = rate(htmlStr.size) { i =>
    HtmlText.cleanToTextFast(htmlStr(i)); html(i).length / 1048576.0
  }

  def lemmatizeDocsPerS: Double = rate(html.size) { i =>
    Lemmatizer.lemmaCountsFromHtml(html(i)); 1.0
  }

  def decodePostingsPerS: Double = rate(segments.size) { i =>
    PostingCodec.decode(segments(i).blob).length.toDouble
  }

  def encodePostingsPerS: Double = rate(decoded.size) { i =>
    PostingCodec.encode(decoded(i)); decoded(i).length.toDouble
  }

  def queryAnalyzeUs: Double = 1e6 / rate(queries.size) { i =>
    Lemmatizer.lemmaCounts(queries(i)); 1.0
  }

  /** The WAND inputs of each query the engine would evaluate: surviving
    * terms rarest-first, with one segment list per doc shard (salted terms
    * keep their shard, unsalted ones join every shard). */
  private val wandInputs: IndexedSeq[Seq[Seq[(Wand.TermCtx, Option[Array[Byte]])]]] =
    queries.flatMap { q =>
      val terms = Lemmatizer.lemmaCounts(q).keys.toSeq
        .filter(t => df.getOrElse(t, 0L).toDouble / nDocs * 100.0 <= 80.0)
        .sortBy(t => (df.getOrElse(t, 0L), t))
      if (terms.isEmpty || !terms.forall(byTerm.contains)) None
      else {
        val salted = terms.exists(t => byTerm(t).exists(_.shard >= 0))
        val groups = if (salted) 0 until shards else Seq(-1)
        Some(groups.map { g =>
          terms.map { t =>
            val blobs = byTerm(t).filter(s => g < 0 || s.shard == g || s.shard < 0).map(_.blob)
            (Wand.TermCtx(t, df(t)),
              if (blobs.isEmpty) None
              else Some(if (blobs.size == 1) blobs.head else PostingCodec.merge(blobs)))
          }
        })
      }
    }

  private def postingsIn(groups: Seq[Seq[(Wand.TermCtx, Option[Array[Byte]])]]): Double =
    groups.map(_.map(_._2.fold(0)(b => PostingCodec.decode(b).length)).sum).sum.toDouble

  private val wandPostings = wandInputs.map(postingsIn)

  /** Input postings per second through `Wand.evaluateShard`. */
  def wandPostingsPerS(scorer: Scorer, exact: Boolean): Double =
    if (wandInputs.isEmpty) 0.0
    else rate(wandInputs.size) { i =>
      wandInputs(i).foreach(g =>
        Wand.evaluateShard(g, scorer, nDocs, avgdl, if (exact) Int.MaxValue else 10, exact))
      wandPostings(i)
    }

  /** Presentation per hit: `HtmlText.title` + `bodyText` + `Snippet.build`. */
  def presentMs(hits: IndexedSeq[(Array[Byte], Set[String])]): Double =
    if (hits.isEmpty) 0.0
    else 1000.0 / rate(hits.size) { i =>
      val h = new String(hits(i)._1, UTF_8)
      HtmlText.title(h); Snippet.build(HtmlText.bodyText(h), hits(i)._2); 1.0
    }
}

object Kernels {
  final case class Segment(term: String, shard: Int, docCount: Int, blob: Array[Byte])
}
