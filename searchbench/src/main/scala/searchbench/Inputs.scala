package searchbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import graft.RefOracle
import graft.core._
import graft.corpus.{CorpusGen, PageRow}
import graft.index.IndexBuild

/** Seeded inputs. The same seed gives the same corpus, recrawl batches and
  * request stream; the engine only ever sees the generated values. */
object Inputs {
  /** A Cyrillic word outside the closed dictionary: no page contains it,
    * so a query holding it matches nothing. */
  val ZeroWord = "жщыр"

  private val stopForms = RuDict.formsOf("быть")

  /** An endless stream of `counts`' values in blocks: each block holds
    * every value its count of times, in seeded random order. A window of
    * a few dozen requests then holds the same mix under every seed. */
  def blocks[A](rng: SplittableRandom, counts: (A, Int)*): Iterator[A] = {
    val block = counts.flatMap { case (a, n) => Seq.fill(n)(a) }.toArray[Any]
    Iterator.continually {
      for (i <- block.indices.reverse) {
        val j = rng.nextInt(i + 1); val t = block(i); block(i) = block(j); block(j) = t
      }
      block.iterator.map(_.asInstanceOf[A])
    }.flatten
  }

  /** Request stream: uniform draws from a seeded pool of 256 distinct
    * queries. The pool bounds the brute-force answer check, which costs
    * ~40 ms of CPU per BM25 query, to a few seconds a run, while a
    * `topk_warm` window still draws each query several times. A query is
    * 1–3 distinct lemmas, each typed as a random inflected form. Lemmas
    * are drawn by the law `CorpusGen` draws page words by, Zipf(s=1.1)
    * over the generator's lemma ranks, restricted to the lemmas the 80%
    * rule keeps on the whole corpus. The head lemmas the rule prunes are
    * left out: unrestricted, they take ~75% of the draws, and a query of
    * pruned lemmas returns before any index work. 6% of queries add a stop-lemma form
    * (pruned) and 4% add [[ZeroWord]] (no match). The pool size and the
    * shares of sizes, stop-lemma and zero-result queries are assumptions:
    * no query log of the reference gives them. */
  final class Queries(seed: Long, pages: IndexedSeq[Map[String, Int]]) {
    private val rng = new SplittableRandom(seed ^ 0x5EA2C4L)
    private val df = pages.flatMap(_.keys).groupBy(identity).view.mapValues(_.size).toMap
    // (lemma, generator rank) of every searchable lemma
    private val searchable = RuDict.contentLemmas.zipWithIndex
      .filter { case (l, _) => df.get(l).exists(_ * 100.0 / pages.size <= 80.0) }
    require(searchable.size >= 3, "corpus has too few searchable lemmas")
    private val cdf = {
      val w = searchable.map { case (_, rank) => 1.0 / math.pow(rank + 1.0, 1.1) }
      w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
    }
    private val sizes = blocks(rng, 1 -> 7, 2 -> 7, 3 -> 6)
    private val extras = blocks(rng, Seq(stopForms(0)) -> 3, Seq(ZeroWord) -> 2, Seq.empty[String] -> 45)

    private def lemma(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rng.nextDouble())
      searchable(math.min(if (i >= 0) i else -i - 1, searchable.size - 1))._1
    }

    private def draw(): String = {
      val picked = Iterator.continually(lemma()).distinct.take(sizes.next()).toSeq
      val typed = picked.map { l => val f = RuDict.formsOf(l); f(rng.nextInt(f.size)) }
      val extra = extras.next().map(w => if (w == ZeroWord) w else stopForms(rng.nextInt(stopForms.size)))
      (typed ++ extra).mkString(" ")
    }

    private val pool = Iterator.continually(draw()).distinct.take(256).toIndexedSeq

    def next(): String = pool(rng.nextInt(pool.size))

    /** Seeded blocks of request attributes (see [[blocks]]). The shares
      * callers give are assumptions too. */
    def mix[A](counts: (A, Int)*): Iterator[A] = blocks(rng, counts: _*)
    def nextInt(n: Int): Int = rng.nextInt(n)
  }

  /** A recrawl of `n` existing pages: the same urls with new content,
    * drawn from a corpus of the same shape under another seed. */
  def recrawl(cfg: CorpusGen.Config, n: Int, seed: Long): Seq[PageRow] = {
    val rng = new SplittableRandom(seed ^ 0x7EC2A2L)
    val recrawled = cfg.copy(seed = cfg.seed * 1000003L + 2)
    Seq.fill(n)(rng.nextLong(cfg.nDocs)).distinct.map(CorpusGen.pageAt(recrawled, _))
  }
}

/** The answer key: the repository's brute-force reference scorer
  * `RefOracle` (compiled from the test sources, only read) over the
  * generated pages. */
object Reference {
  def corpus(pages: Iterable[(String, Array[Byte])]): RefOracle.Corpus =
    new RefOracle.Corpus(docs(pages).sortBy(_.url))

  /** The corpus with `changed` replacing the pages at their urls; the
    * unchanged documents are reused. */
  def updated(c: RefOracle.Corpus, changed: Iterable[(String, Array[Byte])]): RefOracle.Corpus = {
    val byUrl = c.docs.map(d => d.url -> d).toMap ++ docs(changed).map(d => d.url -> d)
    new RefOracle.Corpus(byUrl.values.toVector.sortBy(_.url))
  }

  /** The query lemmas the 80% rule keeps: the lemmas a snippet highlights. */
  def surviving(c: RefOracle.Corpus, query: String, site: Option[String]): Set[String] = {
    val pageCount = site.fold(c.docs.size)(s => c.docs.count(_.site == s))
    Lemmatizer.lemmaCounts(query).keys
      .filter(t => pageCount > 0 && c.dfScoped(t, site).toDouble / pageCount * 100.0 <= 80.0).toSet
  }

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= 1e-9 * math.max(1.0, math.max(math.abs(a), math.abs(b)))

  /** `xs.map(f)` on all cores; `f` must be safe to run concurrently. */
  def parMap[A, B: scala.reflect.ClassTag](xs: IndexedSeq[A])(f: A => B): IndexedSeq[B] = {
    val out = new Array[B](xs.size)
    java.util.stream.IntStream.range(0, xs.size).parallel().forEach(i => out(i) = f(xs(i)))
    out.toIndexedSeq
  }

  private def docs(pages: Iterable[(String, Array[Byte])]): IndexedSeq[RefOracle.Doc] =
    parMap(pages.toIndexedSeq) { case (url, bytes) =>
      RefOracle.Doc(url, IndexBuild.siteOf(url), new String(bytes, UTF_8))
    }
}
