package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The engine's operator inventory (SURVEY.md §2) re-expressed over the
  * driver's `documents` / `embeddings` / `events` parquet tables, in forms
  * that are ALSO expressible as ANSI SQL — every function here is paired
  * with a DuckDB oracle query in [[graft.SparkEntry.oracleSql]] and
  * verified value-identically by the driver.
  *
  * The text pipeline uses the Latin analyzer mode (SURVEY.md Analyzer):
  * `lower → split [^a-z]+ → length ≥ 3` — the same tokenize/tf/df/BM25
  * semantics as the Russian reference path, minus lemmatization (the
  * closed Russian dictionary does not apply to the synthetic English
  * corpus; lemmatization itself is oracle-tested in EngineSpec).
  *
  * All floating-point outputs are rounded to 6 dp on BOTH sides so the
  * driver's value-hash comparison is robust to summation-order ulps.
  */
object DocOps {

  val QueryTerms: Seq[String] = Seq("spark", "merge", "batch") // 'batch' df>80% ⇒ pruned
  val Bm25K1 = 1.2
  val Bm25B = 0.75

  // input tables through the store seam (iceberg-readiness: swap the
  // store implementation and these become catalog tables)
  def documents(spark: SparkSession, dir: String): DataFrame =
    graft.store.TableStore.open(spark, dir).read("documents.parquet")
  def embeddings(spark: SparkSession, dir: String): DataFrame =
    graft.store.TableStore.open(spark, dir).read("embeddings.parquet")
  def events(spark: SparkSession, dir: String): DataFrame =
    graft.store.TableStore.open(spark, dir).read("events.parquet")

  /** doc_id → tokens (F2/F4 Latin mode; one row per occurrence).
    * Extra columns to carry through ride along via `carry`. */
  def tokens(docs: DataFrame, carry: Column*): DataFrame =
    docs.select(col("doc_id") +: carry :+
        explode(split(lower(col("text")), "[^a-z]+")).as("term"): _*)
      .filter(length(col("term")) >= 3)

  /** The per-document token ARRAY (same F2/F4 Latin mode as [[tokens]]),
    * kept row-local. A document's token multiset lives entirely in its own
    * row, so per-doc aggregates (tf, dl, distinct counts, fingerprints,
    * simhash) never need the explode → groupBy(doc_id) round trip — at
    * scale that removes a full shuffle of the token stream per query
    * (optimization guide §2.4 "remove shuffles outright"). */
  private def tokArr: Column =
    filter(split(lower(col("text")), "[^a-z]+"), t => length(t) >= 3)

  /** doc_id → DISTINCT tokens, deduplicated INSIDE the row
    * (array_distinct) instead of a corpus-wide `.distinct()` exchange —
    * (doc_id, term) distinctness is a per-doc property. */
  private def distinctTokens(docs: DataFrame, carry: Column*): DataFrame =
    docs.select(col("doc_id") +: carry :+
      explode(array_distinct(tokArr)).as("term"): _*)

  /** A1 — tf per (doc, term): the `index_t.rating` analogue.
    *
    * Kept as explode → groupBy: a row-local run-length-encode variant
    * (sort_array + filter/transform over index sequences) was measured
    * 8x SLOWER at sf0.1 (interpreted lambda dispatch per token beats the
    * one map-side-combined exchange it saves — guide §1.1's "the ideal
    * plan is usually slower at first" in action; see
    * OPTIMIZATION_r06.md). The groupBy's partial aggregation already
    * collapses each doc's duplicates map-side, so the exchange carries
    * distinct (doc, term) pairs only. */
  def tfPostings(spark: SparkSession, dir: String): DataFrame =
    tokens(documents(spark, dir))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .orderBy("doc_id", "term")

  /** A2 — global document frequency per term (`lemma.frequency`).
    * Per-doc dedup happens in-row (array_distinct), so the exploded rows
    * are already (doc, term)-unique and a plain map-side-combinable
    * count replaces round 5's two-phase countDistinct. */
  def dfGlobal(spark: SparkSession, dir: String): DataFrame =
    distinctTokens(documents(spark, dir))
      .groupBy("term").agg(count(lit(1)).as("df"))
      .orderBy("term")

  /** A2/F6 — per-source df (reference df is per-site). */
  def dfBySource(spark: SparkSession, dir: String): DataFrame =
    distinctTokens(documents(spark, dir), col("source"))
      .groupBy("term", "source").agg(count(lit(1)).as("df"))
      .orderBy("term", "source")

  /** Doc length (token count) — BM25's dl; zero-token docs kept (dl=0).
    * dl is row-local (array size): no explode, no aggregation, no join. */
  def docLen(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), size(tokArr).cast("bigint").as("dl"))
      .orderBy("doc_id")

  /** F5 — stop-term pruning: terms on >80% of docs (the reference drops
    * query lemmas with df/pageCount*100 > 80, SearchServiceImpl.java:329-344). */
  def stopTerms80(spark: SparkSession, dir: String): DataFrame = {
    val docs = documents(spark, dir)
    val n = docs.count()
    dfGlobal(spark, dir)
      .filter(col("df") * 100.0 / lit(n.toDouble) > 80.0)
      .orderBy("term")
  }

  /** Per-query-term corpus stats in ONE job: (docCount, avg dl, df per
    * query term). df(t) = Σ docs with t present — row-local
    * array_contains, no tokenize-the-corpus aggregation; shared by the
    * search pipelines (round 5 ran a docs.count() job + a full dfGlobal
    * collect + a separate avgdl job here: 3-4 driver actions per query). */
  private def queryTermStats(spark: SparkSession, dir: String)
      : (Long, Double, Map[String, Long]) =
    termStatsOf(documents(spark, dir), withAvgdl = true)

  /** The one-job stats aggregation shared by the global and scoped
    * search pipelines: (docCount, avg dl [or 0.0], df per query term via
    * row-local array_contains). Sums are coalesced to 0 so an EMPTY
    * docs slice yields (0, 0.0, all-zero dfs) — the round-5 plans'
    * behavior — instead of nulls. */
  private def termStatsOf(docs: DataFrame, withAvgdl: Boolean)
      : (Long, Double, Map[String, Long]) = {
    val aggs = Seq(count(lit(1)).as("n"),
      (if (withAvgdl) coalesce(avg(size(col("arr"))), lit(0.0)) else lit(0.0)).as("avgdl")) ++
      QueryTerms.map(t =>
        coalesce(sum(when(array_contains(col("arr"), t), 1).otherwise(0)), lit(0L))
          .as(s"df_$t"))
    val row = docs.select(tokArr.as("arr"))
      .agg(aggs.head, aggs.tail: _*).collect()(0)
    val n = row.getLong(0)
    val avgdl = row.getDouble(1)
    val dfs = QueryTerms.zipWithIndex.map { case (t, i) => t -> row.getLong(2 + i) }.toMap
    (n, avgdl, dfs)
  }

  /** The 80% rule over the one-job stats: terms present (df > 0) and on
    * ≤80% of docs, rarest first (df ASC, term ASC). */
  private def survivorsOf(n: Long, dfs: Map[String, Long]): Seq[(String, Long)] =
    QueryTerms
      .filter(t => dfs(t) > 0 && dfs(t) * 100.0 / n.toDouble <= 80.0)
      .map(t => t -> dfs(t))
      .sortBy { case (t, df) => (df, t) }

  /** O1 — query-term execution order: surviving terms by (df ASC, term ASC). */
  def rarestFirst(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (n, _, dfs) = queryTermStats(spark, dir)
    survivorsOf(n, dfs).toDF("term", "df").orderBy("df", "term")
  }

  /** Surviving (unpruned) query terms as a local list — shared by the
    * search pipelines; both sides apply the same 80% rule. */
  private def survivingTerms(spark: SparkSession, dir: String): Seq[String] = {
    val (n, _, dfs) = queryTermStats(spark, dir)
    survivorsOf(n, dfs).map(_._1)
  }

  private def emptyLongDouble(spark: SparkSession, names: (String, String)): DataFrame = {
    import spark.implicits._
    Seq.empty[(Long, Double)].toDF(names._1, names._2)
  }

  /** J1/E1 — conjunctive posting intersection for the fixture query:
    * docs containing ALL surviving terms. Row-local: `nt` = size of the
    * in-row intersection with the query-term set — no aggregation
    * exchange at all (round 5 shuffled the filtered token stream into a
    * countDistinct; the reference's O(n·m) List.contains loop is
    * SearchServiceImpl.java:236-243). */
  def conjunction(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val terms = survivingTerms(spark, dir)
    if (terms.isEmpty) return Seq.empty[Long].toDF("doc_id")
    documents(spark, dir)
      .select(col("doc_id"), tokArr.as("arr"))
      .filter(size(array_intersect(col("arr"), typedlit(terms))) === terms.size)
      .select("doc_id")
      .orderBy("doc_id")
  }

  /** A4 — absolute relevance per matching doc: Σ tf over query terms
    * (SearchPageData.java:28-32). Row-local: occurrence count = size of
    * the in-row filter; no shuffle before the orderBy. */
  def tfsumScores(spark: SparkSession, dir: String): DataFrame = {
    val terms = survivingTerms(spark, dir)
    if (terms.isEmpty) return emptyLongDouble(spark, ("doc_id", "abs_rel"))
    documents(spark, dir)
      .select(col("doc_id"), tokArr.as("arr"))
      .filter(size(array_intersect(col("arr"), typedlit(terms))) === terms.size)
      .select(col("doc_id"),
        size(filter(col("arr"), t => t.isin(terms: _*))).cast("double").as("abs_rel"))
      .orderBy("doc_id")
  }

  /** A5/O2/O3 — normalized relevance (degenerate unpartitioned window max,
    * SURVEY.md §2.5) + top-10 with pinned ties (rel DESC, doc_id ASC). */
  def tfsumTop10(spark: SparkSession, dir: String): DataFrame =
    tfsumScores(spark, dir)
      .withColumn("rel", round(col("abs_rel") / max(col("abs_rel")).over(Window.partitionBy()), 6))
      .select("doc_id", "rel")
      .orderBy(desc("rel"), col("doc_id"))
      .limit(10)

  /** BM25 (k1=1.2, b=0.75) scores over the conjunctive candidates —
    * the north_rule's primary ranking. Round 5 ran 4 sequential driver
    * actions (two counts, a df collect, an avgdl job) and a 3-join plan
    * over a cached token explode; every per-doc quantity (dl, tf per
    * term) is row-local, so this is now ONE stats job + ONE shuffle-free
    * scoring scan. idf/avgdl arithmetic mirrors the round-5 Catalyst
    * expressions operation-for-operation (integer-exact sums feed them,
    * so scores are bit-identical; the oracle is unchanged). */
  def bm25Scored(spark: SparkSession, dir: String): DataFrame = {
    val (nL, avgdl, dfs) = queryTermStats(spark, dir)
    val n = nL.toDouble
    val surv = survivorsOf(nL, dfs)
    if (surv.isEmpty) return emptyLongDouble(spark, ("doc_id", "score"))
    val base = documents(spark, dir)
      .select(col("doc_id"), tokArr.as("arr"))
      .withColumn("dl", size(col("arr")))
    val withTf = surv.zipWithIndex.foldLeft(base) { case (df, ((t, _), i)) =>
      df.withColumn(s"tf_$i", size(filter(col("arr"), x => x === t)))
    }
    val scoreT = surv.zipWithIndex.map { case ((t, dfT), i) =>
      val idf = math.max(0.0,
        math.log((n - dfT + 0.5) / (dfT + 0.5) + 1.0))
      lit(idf) * col(s"tf_$i") * (Bm25K1 + 1.0) /
        (col(s"tf_$i") + lit(Bm25K1) * (lit(1.0 - Bm25B) + lit(Bm25B) * col("dl") / lit(avgdl)))
    }
    withTf
      .filter(surv.indices.map(i => col(s"tf_$i") > 0).reduce(_ && _))
      .select(col("doc_id"), round(scoreT.reduce(_ + _), 6).as("score"))
  }

  /** North-rule headline: BM25 top-10, ties pinned (score DESC, doc_id ASC). */
  def bm25Top10(spark: SparkSession, dir: String): DataFrame =
    bm25Scored(spark, dir).orderBy(desc("score"), col("doc_id")).limit(10)

  /** O3 — pagination: rows 11..20 of the BM25 ranking; `offset` requires
    * the full sort (reference slices the materialized list). */
  def bm25Page2(spark: SparkSession, dir: String): DataFrame =
    bm25Scored(spark, dir).orderBy(desc("score"), col("doc_id"))
      .offset(10).limit(10)

  /** F6 — source-scoped tf-sum search (site scoping analogue). One
    * scoped stats job (count + per-term df, row-local contains) replaces
    * round 5's count + countDistinct-collect pair; scoring is row-local
    * like [[tfsumScores]]. */
  def tfsumScoped(spark: SparkSession, dir: String, source: String = "src3"): DataFrame = {
    val docs = documents(spark, dir).filter(col("source") === source)
    val (nScoped, _, dfs) = termStatsOf(docs, withAvgdl = false)
    val surviving = survivorsOf(nScoped, dfs).map(_._1).sorted
    if (surviving.isEmpty) {
      // all query terms pruned in this source — empty result with the
      // SAME schema as the non-empty branch (oracle returns zero rows too)
      return emptyLongDouble(spark, ("doc_id", "rel"))
    }
    docs.select(col("doc_id"), tokArr.as("arr"))
      .filter(size(array_intersect(col("arr"), typedlit(surviving))) === surviving.size)
      .select(col("doc_id"),
        size(filter(col("arr"), t => t.isin(surviving: _*))).cast("long").as("abs_rel"))
      .withColumn("rel", round(col("abs_rel") / max(col("abs_rel")).over(Window.partitionBy()), 6))
      .select("doc_id", "rel")
      .orderBy(desc("rel"), col("doc_id"))
      .limit(10)
  }

  /** A7 — page counts per site (statistics endpoint). */
  def statsPages(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir).groupBy("source")
      .agg(count(lit(1)).as("pages")).orderBy("source")

  /** A8 — lemma (term) counts per site. Kept in explode form: the
    * distinct aggregation's partial phase already dedupes (source, term)
    * map-side, so in-row array_distinct only adds per-row cost without
    * shrinking the shuffle (measured ~0.15 s slower at sf0.1). */
  def statsLemmas(spark: SparkSession, dir: String): DataFrame =
    tokens(documents(spark, dir), col("source"))
      .groupBy("source").agg(countDistinct(col("term")).as("lemmas"))
      .orderBy("source")

  /** J4 — anti-join (the visited/dedup check): docs containing 'spark'
    * but NOT 'dup'. Both membership tests are row-local array_contains —
    * the round-5 two-sided distinct + left_anti join (3 exchanges) is a
    * single scan. */
  def antiJoin(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), tokArr.as("arr"))
      .filter(array_contains(col("arr"), "spark") && !array_contains(col("arr"), "dup"))
      .select("doc_id").orderBy("doc_id")

  /** J6/A3 — df merge across batches: per-half dfs re-aggregated to the
    * global df. The two halves are tagged in one scan (groupBy term+half,
    * in-row dedup) and merged — same per-half partial dfs and the same
    * merge semantics as round 5's two-scan union, half the reads. */
  def dfMerge(spark: SparkSession, dir: String): DataFrame =
    distinctTokens(documents(spark, dir), (col("doc_id") % 2).as("h"))
      .groupBy("term", "h").agg(count(lit(1)).as("df"))
      .groupBy("term").agg(sum("df").as("df"))
      .orderBy("term")

  /** E2 — set op: distinct (lang, source) pairs. */
  def distinctPairs(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir).select("lang", "source").distinct()
      .orderBy("lang", "source")

  // ───────────────────────── training-data pipeline ops ─────────────────

  /** Exact dedup: hash-group on md5(text); emits groups with >1 member. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .groupBy(md5(col("text").cast("binary")).as("h"))
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("keep_doc"))
      .filter(col("n") > 1)
      .orderBy("h")

  /** Word-trigram shingle ARRAY per doc, built row-local (words with
    * length ≥ 1, docs with ≥ 3 words). May contain within-doc duplicate
    * shingles — [[ngramJaccard]] dedups in-row with array_distinct (so no
    * corpus-wide `.distinct()` exchange is ever needed); min-hashing is
    * duplicate-invariant and skips even that. */
  private def shingleDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        filter(split(lower(col("text")), "[^a-z]+"), t => length(t) >= 1).as("warr"))
      .filter(size(col("warr")) >= 3)
      .withColumn("sharr", expr(
        "transform(sequence(0, size(warr) - 3), i -> concat(warr[i], ' ', warr[i+1], ' ', warr[i+2]))"))
      .select(col("doc_id"), col("sharr"))

  /** N-gram Jaccard near-dup pairs: Jaccard ≥ 0.3 over distinct-shingle
    * sets, pinned (a < b). Shingles are deduplicated IN-ROW
    * (array_distinct — no corpus-wide distinct exchange) and candidate
    * pairs come from ONE groupBy(shingle) with in-group pair expansion
    * (shingle groups are tiny, so the expansion is cheap — unlike q36's
    * coarse LSH bands, where the codegen'd join wins) instead of round
    * 5's two-sided sort-merge self-join. Still the labeled quadratic
    * baseline (hot shingles expand in-group instead of in-join); q20 is
    * the scale path.
    *
    * NOTE the explode's argument must be the array EXPRESSION, not a
    * withColumn'd intermediate: naming the array first made the planner
    * re-materialize the whole inlined shingle chain per output row
    * through an inferred generator-non-empty filter (measured 10.5 s vs
    * 0.4 s for these rows at sf0.1 — OPTIMIZATION_r06.md). */
  def ngramJaccard(spark: SparkSession, dir: String, threshold: Double = 0.3): DataFrame = {
    // each (doc, shingle) row carries the doc's distinct-shingle count —
    // computed INSIDE the generator expression via the let-binding form
    // (`transform(array(...), a -> ...)`), so the whole scan happens once
    // and no separate sizes pass / join is needed
    val sh = shingleDocs(documents(spark, dir))
      .select(col("doc_id"), explode(expr(
        "transform(array(array_distinct(sharr)), a -> transform(a, s -> struct(s AS sh, size(a) AS sz)))[0]"))
        .as("r"))
      .select(col("doc_id"), col("r.sh").as("sh"), col("r.sz").cast("bigint").as("sz"))
    // two-level streamed pair expansion (same shape as q20: O(k) peak
    // memory per row, never a k²-element array); struct least/greatest
    // orders each pair by doc_id (ids are distinct within a group, so
    // the struct comparison is decided by its first field)
    sh.groupBy("sh").agg(collect_list(struct(col("doc_id"), col("sz"))).as("ds"))
      .filter(size(col("ds")) >= 2)
      .select(col("ds"), posexplode(col("ds")).as(Seq("i", "x")))
      .select(col("x"), explode(expr("slice(ds, i + 2, size(ds))")).as("y"))
      .select(least(col("x"), col("y")).as("lo"), greatest(col("x"), col("y")).as("hi"))
      .select(col("lo.doc_id").as("a"), col("hi.doc_id").as("b"),
        col("lo.sz").as("sza"), col("hi.sz").as("szb"))
      .groupBy("a", "b", "sza", "szb").agg(count(lit(1)).as("common"))
      .withColumn("jaccard", round(col("common") / (col("sza") + col("szb") - col("common")), 6))
      .filter(col("jaccard") >= threshold)
      .select("a", "b", "jaccard")
      .orderBy("a", "b")
  }

  /** Per-doc MinHash signature columns sig0..sig{n-1}: 8 hash functions
    * realized as the lexicographic MIN of md5(seed || ':' || shingle) —
    * portable across engines (md5 is identical everywhere; lexicographic
    * min of the hex digest is a valid uniform min-hash). The min is
    * ROW-LOCAL (`array_min` over the doc's own shingle array — min over a
    * multiset equals min over its set, so no dedup pass either): round
    * 5's explode → corpus-wide distinct → wide SortAggregate (3 sorts +
    * 2 exchanges before any banding) is now a pure scan. */
  private def minhashWide(docs: DataFrame, nHashes: Int): DataFrame = {
    val minCols = (0 until nHashes).map { s =>
      array_min(transform(col("sharr"),
        sh => md5(concat(lit(s.toString), lit(":"), sh).cast("binary")))).as(s"sig$s")
    }
    shingleDocs(docs).select(col("doc_id") +: minCols: _*)
  }

  /** MinHash signatures in the (doc, seed, sig) row form. */
  def minhashSignatures(spark: SparkSession, dir: String, nHashes: Int = 8): DataFrame = {
    val stackExpr = (0 until nHashes).map(s => s"$s, sig$s").mkString(", ")
    minhashWide(documents(spark, dir), nHashes)
      .select(col("doc_id"),
        expr(s"stack($nHashes, $stackExpr)").as(Seq("seed", "sig")))
      .orderBy("doc_id", "seed")
  }

  /** MinHash LSH candidate pairs: 4 bands × 2 rows; a pair is a candidate
    * if any band's concatenated signature matches. Band signatures are
    * derived DIRECTLY from the doc's own shingle array (seed 2b, 2b+1 in
    * seed order — exactly the oracle's string_agg ORDER BY seed), so the
    * whole pipeline up to candidate grouping is SHUFFLE-FREE; round 5
    * exploded shingles, ran a corpus-wide distinct, a wide SortAggregate,
    * an unpivot + re-group, and re-ran all of it per self-join side
    * (round-5 verdict "What's wrong" #4). Candidates come from one
    * groupBy(band, bandsig) on ids only, pair-expanded with a streamed
    * two-level explode (O(k) peak memory per row — see below). */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame = {
    val nBands = 4
    // All 4 band signatures in ONE generator expression. The single-
    // element `transform(array(sharr), a -> ...)` is a let-binding: the
    // shingle array is materialized once per row as lambda variable `a`
    // and every min-hash reads the bound value — referencing the sharr
    // column from inside the lambdas instead re-evaluated the inlined
    // shingle chain once per min (8x; same planner behavior as the q19
    // note above). A generator's argument is evaluated once per row, so
    // posexplode is the safe exit to (band, bandsig) rows.
    val mins = (0 until nBands).map { b =>
      def minOf(seed: Int) =
        s"array_min(transform(a, sh -> md5(cast(concat('$seed', ':', sh) as binary))))"
      s"concat(${minOf(2 * b)}, '|', ${minOf(2 * b + 1)})"
    }
    // Candidate pairs from one groupBy(band, bandsig) with a TWO-LEVEL
    // streamed expansion: posexplode picks each anchor id, a second
    // explode over slice(ids, i+2, ...) streams its partners — peak
    // per-row memory is O(k) (the slice), never the O(k²) a single
    // flatten(transform × transform) array would allocate, so a hot band
    // bucket (mass near-duplicates) degrades to slow-but-streaming
    // instead of an executor OOM. (A self-join on (band, bandsig) has
    // the same single-partition-per-hot-key bound unless AQE splits it,
    // and was measured ~1 s slower here — cache + join machinery on a
    // 20k-row input.) One aggregation exchange carries ids only; this is
    // the 100 TB dedup path.
    shingleDocs(documents(spark, dir))
      .select(col("doc_id"), posexplode(expr(
        s"transform(array(sharr), a -> array(${mins.mkString(", ")}))[0]"))
        .as(Seq("band", "bandsig")))
      .groupBy("band", "bandsig").agg(collect_list(col("doc_id")).as("ids"))
      .filter(size(col("ids")) >= 2)
      .select(col("ids"), posexplode(col("ids")).as(Seq("i", "x")))
      .select(col("x"), explode(expr("slice(ids, i + 2, size(ids))")).as("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .distinct()
      .orderBy("a", "b")
  }

  /** SimHash (16-bit, md5-nibble based): per-token hash bits are summed
    * signed (+1/-1) over DISTINCT tokens; bit i set iff the sum > 0.
    *
    * The majority vote is row-local (a doc's distinct tokens live in its
    * own row): the first 4 md5 nibbles become one 16-bit int per term —
    * bit i of the simhash reads bit (15-i) of it, the same nibble
    * arithmetic as the oracle — and the native codegen'd
    * [[graft.functions.SimHash16]] folds the ±1 votes in one loop. Round
    * 5 exploded 16 bit-rows per (doc, term) and paid a corpus-wide
    * distinct plus two aggregation exchanges; this is a pure scan +
    * orderBy. */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    withCosine(spark)
    documents(spark, dir)
      .select(col("doc_id"), array_distinct(tokArr).as("arr"))
      .filter(size(col("arr")) >= 1)
      .select(col("doc_id"),
        graft.functions.VecExpressions.simHash16(expr(
          "transform(arr, t -> cast(conv(substr(md5(cast(t as binary)), 1, 4), 16, 10) as int))"))
          .as("simhash"))
      .orderBy("doc_id")
  }

  /** Register the native vector expressions (idempotent per session).
    * The md5-derived hyperplane matrix both LSH families share — plane p,
    * dim i weight = first md5 nibble of "p:i" minus 7.5 (== instr('0..f',
    * hex[0]) - 8.5 on the DuckDB oracle side) — now lives inside the
    * native [[graft.functions.BandSigs]] expression (one derivation, so
    * the two LSH families can never diverge bit-wise). */
  private def withCosine(spark: SparkSession): Unit =
    if (!spark.catalog.functionExists("graft_band_sigs"))
      graft.functions.VecExpressions.register(spark)

  /** Embedding-cosine ANN, brute force (the baseline): top-5 neighbours of
    * query vectors 0,1,2 by cosine. The similarity is the native codegen'd
    * [[graft.functions.CosineSim]] expression — one fused loop per pair,
    * no intermediate zip array, bit-identical to the previous
    * aggregate/zip_with form (same fold order). */
  def annCosineTop5(spark: SparkSession, dir: String): DataFrame = {
    withCosine(spark)
    val emb = embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val queries = emb.filter(col("vec_id").isin(0L, 1L, 2L))
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val cos = emb.crossJoin(broadcast(queries))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cosine", round(
        graft.functions.VecExpressions.cosineSim(col("v"), col("qv")), 6))
    val w = Window.partitionBy(col("qid")).orderBy(desc("cosine"), col("vec_id"))
    cos.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("qid", "rank", "vec_id", "cosine")
      .orderBy("qid", "rank")
  }

  /** LSH-bucketed ANN (the scale path): random-hyperplane signatures via
    * md5-derived pseudo-planes; neighbours searched only within the same
    * bucket. Deterministic, no external randomness.
    *
    * The bucket is the single-band (bandSize = nPlanes) case of the
    * native codegen'd [[graft.functions.BandSigs]] expression — one fused
    * loop per row instead of round 5's interpreted lambda chain over a
    * 512-double literal plane matrix, and no per-query `dims` lookup
    * job. */
  def annLshBuckets(spark: SparkSession, dir: String, nPlanes: Int = 8): DataFrame = {
    withCosine(spark)
    embeddings(spark, dir)
      .select(graft.functions.VecExpressions
        .bandSigs(col("embedding").cast("array<double>"), nPlanes, nPlanes)
        .getItem(0).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("n_vectors"))
      .orderBy("bucket")
  }

  /** Embedding-cosine NEAR-DUPLICATE pairs via BANDED hyperplane LSH —
    * the dedup-family member that works on vectors (complementing exact
    * md5 / MinHash / SimHash / n-gram Jaccard on text).
    *
    * Scale shape (the reason this is not a cross join): the 8 md5-derived
    * hyperplanes (same derivation as [[annLshBuckets]]) are split into 4
    * bands of 2; a pair is a CANDIDATE iff it collides in at least one
    * band (MinHash-style band-OR amplification — per-band match
    * probability (1 - θ/π)² , recall 1-(1-p)⁴). Candidates are found by a
    * shuffle join on (band, signature) — at 10^12 vectors each band
    * bucket holds ~n/2^bits vectors, and production raises planes/band so
    * buckets stay small; the exact cosine (native codegen'd
    * [[graft.functions.CosineSim]]) is computed ONLY for candidates.
    * The fixture threshold 0.4 matches the synthetic table (max pairwise
    * cosine ≈ 0.48 — no planted duplicates); the threshold compares the
    * 6-dp-rounded cosine so the Spark and DuckDB sides agree at the
    * boundary. */
  def embedNearDup(spark: SparkSession, dir: String,
      nPlanes: Int = 8, bandSize: Int = 2, threshold: Double = 0.4): DataFrame = {
    withCosine(spark)
    val emb = embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // per-vector band signatures via the native codegen'd BandSigs (bit p
    // of band b = sign of plane (b*bandSize + p)'s projection) — round 5
    // evaluated the interpreted lambda chain 4+ times per row (an
    // inferred size()>0 filter below the explode plus once per self-join
    // side); the fused expression is computed once per row
    val sigs = emb.select(col("vec_id"),
      posexplode(graft.functions.VecExpressions.bandSigs(col("v"), nPlanes, bandSize))
        .as(Seq("band", "sig")))
    // candidate generation on IDS ONLY — the full vectors never ride the
    // (band, sig) join; the fixture's 2-bit bands are deliberately coarse
    // (16 buckets over 2000 vectors → ~1.4M candidate pairs), so pair
    // expansion must STREAM through the codegen'd join — a collect_list +
    // in-group transform() variant was measured SLOWER here (interpreted
    // struct-building over ~500-id groups) and would OOM on a hot bucket
    // at scale. No broadcast hint: the planner broadcasts the (tiny) sig
    // side at fixture scale on its own, and at 10^8+ vectors the sig
    // table outgrows the broadcast limit, where a hinted plan would fail
    // outright instead of shuffling. A pair colliding in several bands is
    // deduplicated BEFORE the cosine, so each candidate pays exactly one
    // exact-cosine evaluation and one vector fetch per side.
    val lhs = sigs.select(col("band"), col("sig"), col("vec_id").as("a"))
    val rhs = sigs.select(col("band"), col("sig"), col("vec_id").as("b"))
    val candidates = lhs.join(rhs, Seq("band", "sig"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    candidates
      .join(emb.select(col("vec_id").as("a"), col("v").as("va")), Seq("a"))
      .join(emb.select(col("vec_id").as("b"), col("v").as("vb")), Seq("b"))
      .select(col("a"), col("b"),
        round(graft.functions.VecExpressions.cosineSim(col("va"), col("vb")), 6)
          .as("cosine"))
      .filter(col("cosine") >= threshold)
      .orderBy("a", "b")
  }

  /** IVF-style ANN (the coarse-quantizer scale path, complementing the
    * hyperplane LSH above): deterministic centroids = the embeddings of
    * vec_id 0..15 (no k-means iterations — reproducible across engines),
    * every vector assigned to its max-cosine cell. Query-side probing
    * searches only the query's cell.
    *
    * The argmax is ROW-LOCAL: the nCells centroid vectors (a bounded,
    * deterministic set) are collected once to the driver and become plan
    * literals, so each vector's cell is `greatest` over nCells
    * (cos, -cell) structs — max cosine, ties to the LOWEST cell, exactly
    * the oracle's row_number() ORDER BY cos DESC, cell. Round 5 (and the
    * first round-6 form) instead cross-joined every vector against the
    * broadcast centroids (nCells× row inflation) and ranked with a
    * window — a full exchange of the inflated rows that this removes
    * (guide §2.4); at 10^12 vectors that exchange carried 16 rows per
    * vector. Cosines are the same native codegen'd expression either
    * way, so assignments are bit-identical.
    *
    * The centroid collect runs EAGERLY, when this DataFrame is built, not
    * when it is executed: building it (even only to explain its plan)
    * launches one Spark job, and the centroids are the embeddings as they
    * were at construction. */
  def annIvfCells(spark: SparkSession, dir: String, nCells: Int = 16): DataFrame = {
    import spark.implicits._
    withCosine(spark)
    val emb = embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // bounded driver collect: nCells rows (the same size class as the
    // broadcast side it replaces)
    val cents: Seq[(Long, Seq[Double])] = emb.filter(col("vec_id") < nCells)
      .collect().toSeq.map(r => (r.getLong(0), r.getSeq[Double](1))).sortBy(_._1)
    if (cents.isEmpty) return Seq.empty[(Long, Long)].toDF("vec_id", "cell")
    val candidates = cents.map { case (cell, cv) =>
      struct(
        round(graft.functions.VecExpressions.cosineSim(col("v"), typedlit(cv)), 6)
          .as("cos"),
        lit(-cell).as("negcell"))
    }
    val best =
      if (candidates.size == 1) candidates.head else greatest(candidates: _*)
    // one output row per INPUT row: this equals the oracle's row_number()
    // PARTITION BY vec_id (one row per distinct vec_id) only because vec_id
    // is a unique key of the embeddings table (IvfAssignSpec guards it on
    // the fixture); duplicate vec_ids would each be emitted
    emb.select(col("vec_id"), (-best.getField("negcell")).as("cell"))
      .orderBy("vec_id")
  }

  /** IVF cell sizes — the balance check a production deployment monitors
    * (skewed cells ⇒ probe hotspots). */
  def annIvfCellSizes(spark: SparkSession, dir: String): DataFrame =
    annIvfCells(spark, dir).groupBy("cell")
      .agg(count(lit(1)).as("n_vectors")).orderBy("cell")

  /** Language-ID heuristic: stopword-list hit counts per candidate
    * language; predicted = argmax (ties → lang asc). Hit counts are
    * row-local in-array filters (the lists are disjoint), the argmax is a
    * greatest + CASE chain in lang order — no aggregation, no window, no
    * join: a pure scan + orderBy (round 5 shuffled (doc, lang) hit rows
    * into a groupBy + window + left join). */
  def langId(spark: SparkSession, dir: String): DataFrame = {
    val stop = Seq( // lang asc — the CASE order IS the tie-break
      "de" -> Seq("der", "und", "die", "mit"),
      "en" -> Seq("the", "and", "for", "with"),
      "es" -> Seq("los", "las", "una", "con"),
      "fr" -> Seq("les", "des", "une", "avec"))
    val base = documents(spark, dir).select(col("doc_id"), tokArr.as("arr"))
    val withHits = stop.foldLeft(base) { case (df, (lang, words)) =>
      df.withColumn(s"h_$lang", size(filter(col("arr"), t => t.isin(words: _*))))
    }
    val best = greatest(stop.map { case (lang, _) => col(s"h_$lang") }: _*)
    val pred = stop.foldRight(lit("unk")) { case ((lang, _), acc) =>
      when(col(s"h_$lang") === col("best"), lang).otherwise(acc)
    }
    withHits.withColumn("best", best)
      .select(col("doc_id"),
        when(col("best") > 0, pred).otherwise("unk").as("pred_lang"),
        col("best").cast("bigint").as("hits"))
      .orderBy("doc_id")
  }

  /** Text-quality scoring: token count, distinct ratio, mean token length,
    * stopword ratio, and a composite score. Every metric is row-local
    * (integer sums over the doc's own token array, so values are exactly
    * the round-5 aggregates): no explode, no groupBy, no join — one scan
    * + orderBy instead of round 5's 4 exchanges. */
  def qualityScore(spark: SparkSession, dir: String): DataFrame = {
    val stopwords = Seq("the", "and", "for", "with", "los", "las", "der", "und", "les", "des")
    documents(spark, dir)
      .select(col("doc_id"), col("n_chars"), tokArr.as("arr"))
      .withColumn("n_tokens", size(col("arr")).cast("bigint"))
      .withColumn("n_distinct", size(array_distinct(col("arr"))).cast("bigint"))
      .withColumn("mean_len",
        when(col("n_tokens") === 0, 0.0).otherwise(
          round(expr("aggregate(arr, 0L, (acc, t) -> acc + length(t))") / col("n_tokens"), 6)))
      .withColumn("stop_ratio",
        when(col("n_tokens") === 0, 0.0).otherwise(
          round(size(filter(col("arr"), t => t.isin(stopwords: _*))) / col("n_tokens").cast("double"), 6)))
      .withColumn("quality",
        round(least(lit(1.0), col("n_tokens") / 100.0) *
          (col("n_distinct") / greatest(col("n_tokens").cast("double"), lit(1.0))), 6))
      .select("doc_id", "n_chars", "n_tokens", "n_distinct", "mean_len", "stop_ratio", "quality")
      .orderBy("doc_id")
  }

  /** Document fingerprint: md5 of the '|'-joined sorted distinct tokens —
    * a canonical-content signature (token-order/whitespace invariant).
    * Sort + dedup happen inside the row (array_sort ∘ array_distinct ==
    * sort_array(collect_list) over distinct rows): no shuffle before the
    * orderBy. */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    documents(spark, dir)
      .select(col("doc_id"), array_sort(array_distinct(tokArr)).as("sarr"))
      .filter(size(col("sarr")) >= 1)
      .select(col("doc_id"),
        md5(concat_ws("|", col("sarr")).cast("binary")).as("fp"))
      .orderBy("doc_id")

  /** Token counting (BPE-ish regex proxy): whitespace tokens vs subword
    * chunks of ≤4 chars — the chunked count is Σ ceil(len/4). Kept as
    * explode → groupBy: the row-local aggregate() fold was measured 2x
    * slower at sf0.1 (per-token interpreted lambda vs the codegen'd
    * map-side-combined aggregation). */
  def tokenCounts(spark: SparkSession, dir: String): DataFrame =
    tokens(documents(spark, dir))
      .groupBy("doc_id").agg(
        count(lit(1)).as("ws_tokens"),
        sum(ceil(length(col("term")) / 4.0)).cast("long").as("subword_tokens"))
      .orderBy("doc_id")

  // ───────────────────────────── events ops ─────────────────────────────

  /** W — sessionization: 30-min-gap sessions per user via lag + running
    * sum (the batch form of the streaming session-window). */
  def sessionize(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
    events(spark, dir)
      .withColumn("prev_ts", lag(col("ts"), 1).over(w))
      .withColumn("new_sess",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) > 1800, 1).otherwise(0))
      .withColumn("sess_no", sum(col("new_sess")).over(
        w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sess_no")
      .agg(count(lit(1)).as("n_events"), round(sum("value"), 6).as("sum_value"))
      .orderBy("user_id", "sess_no")
  }

  /** Tumbling 1-hour window aggregation by event_type — the batch parity
    * form of the Structured Streaming windowed agg (graft.streaming). */
  def hourlyWindow(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 6).as("v"))
      .orderBy("hour", "event_type")
}
