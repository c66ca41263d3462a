package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Keyword retrieval over a document corpus: BM25 scoring for a fixed
  * bag of query terms, the classic lexical ranking a training-data
  * pipeline uses for targeted corpus slicing (and the lexical half of
  * hybrid search next to [[Similarity]]'s ANN tier).
  *
  * Scale shape — an inverted-index build restricted to the query's own
  * terms:
  *
  *  - Tokenize + doc-length in one narrow codegen'd projection (shared
  *    [[TextAnalysis.tokens]], the `regexp_extract_all` form that stays
  *    inside whole-stage codegen).
  *  - Explode tokens and filter to the query terms BEFORE the shuffle:
  *    the grouped postings carry only `matching tokens` rows, not the
  *    corpus vocabulary. Per-term document frequency is a second
  *    map-side-combinable aggregate over those postings.
  *  - Corpus-level scalars (`N`, `avgdl`) and the per-term `df` frame
  *    (≤ |query| rows) re-attach via broadcast joins — the corpus
  *    shuffles once (the tf groupBy), never for the statistics.
  *  - Final top-k is `orderBy(...).limit(k)` → TakeOrderedAndProject
  *    (per-partition heaps + one k-row merge), NOT a partition-less
  *    window over the corpus; the rank column is added after the cut,
  *    where the frame is ≤ k rows.
  *
  * Determinism: ties rank by ascending doc id in every engine; scores
  * are rounded only at the output edge.
  */
object Retrieval {

  /** Tokenize a (docs, textCol) corpus once into the query terms'
    * postings (`idCol`, `dl`, `term`, `tf`; pruned before the shuffle)
    * and the corpus stats (`n_docs`, `avgdl`).
    */
  private def queryPostings(
      docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String]): (DataFrame, DataFrame) = {
    val toks = docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("tk"))
      .withColumn("dl", size(col("tk")))
    val stats = toks.agg(
      count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))
    val postings = toks
      .select(col(idCol), col("dl"), explode(col("tk")).as("term"))
      .where(col("term").isin(queryTerms: _*))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    (postings, stats)
  }

  /** BM25 top-k (Robertson/Sparck Jones; the `ln(1 + (N-df+0.5)/(df+0.5))`
    * non-negative idf variant Lucene uses). Returns
    * (`idCol`, `rank`, `score`) sorted by rank.
    */
  def bm25TopK(
      docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val (postings, stats) = queryPostings(docs, idCol, textCol, queryTerms)
    scoreFromPostings(postings, stats, idCol, k, k1, b)
  }

  /** The FULL inverted index [[bm25TopK]] builds only the query slice
    * of: one `(term, id, dl, tf)` row per distinct (doc, term). Write
    * it bucketed on `term` ([[graft.sources.Layout.writeBucketed]])
    * next to the 1-row [[bm25CorpusStats]] table and serve with
    * [[bm25TopKFromIndex]] — the corpus is tokenized once at build
    * time and never again per query, completing the persisted-index
    * triad (MinHash bands / IVF+SQ8 codes / lexical postings).
    */
  def bm25Postings(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("tk"))
      .withColumn("dl", size(col("tk")))
      .select(col(idCol), col("dl"), explode(col("tk")).as("term"))
      .groupBy(col(idCol), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** Corpus-level BM25 scalars (`n_docs`, `avgdl`) — the 1-row table
    * stored beside [[bm25Postings]]: the probed slice cannot derive
    * corpus totals, so they are fixed at index-build time.
    */
  def bm25CorpusStats(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol),
        size(TextAnalysis.tokens(col(textCol))).as("dl"))
      .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))

  /** Per-slice corpus-stats PARTIAL (`n_docs`, `total_dl`) — the
    * append-only form of [[bm25CorpusStats]]: both corpus scalars are
    * sums, so an ingest batch appends ONE partial row (tagged with its
    * batch id by the caller) instead of rewriting the 1-row stats
    * table, and probes fold the partials with [[bm25MergeStats]].
    * This is what lets the postings index grow under streaming append
    * with no read-modify-write anywhere.
    */
  def bm25StatsPartial(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs
      .select(col(idCol),
        size(TextAnalysis.tokens(col(textCol))).as("dl"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("dl")).cast("long").as("total_dl"))

  /** Fold stats partials back to the 1-row (`n_docs`, `avgdl`) frame
    * [[bm25TopKFromIndex]] expects. Exact: `avgdl` divides the summed
    * integer totals once, so the result is bit-identical to
    * [[bm25CorpusStats]] over the unioned corpus. The leading
    * `distinct()` heals foreachBatch replays (a replayed batch
    * re-appends an IDENTICAL tagged row) — which is why streaming
    * partials must carry a batch-id tag: two legitimate batches with
    * equal counts stay distinct through their tags.
    */
  def bm25MergeStats(partials: DataFrame): DataFrame =
    partials.distinct()
      .agg(sum("n_docs").as("n_docs"),
        (sum("total_dl").cast("double") /
          sum("n_docs").cast("double")).as("avgdl"))

  /** Serve BM25 top-k from the PERSISTED index: prune the stored
    * postings to the query's terms (bucket pruning on the `term`
    * layout — the scan touches only the matching buckets, never the
    * corpus), recount per-term df from the pruned slice (exact:
    * (term, id) is unique in the index), and score identically to
    * [[bm25TopK]] — the two paths are bit-equal by construction.
    */
  def bm25TopKFromIndex(
      postings: DataFrame, stats: DataFrame, idCol: String,
      queryTerms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    scoreFromPostings(
      postings.where(col("term").isin(queryTerms: _*)),
      stats, idCol, k, k1, b)
  }

  /** Graded ranking evaluation — nDCG@k and MRR for a retrieval run
    * against a DERIVED relevance oracle: a document's grade for a
    * query is the number of DISTINCT query terms it contains (0..|q|),
    * the standard synthetic-relevance protocol when no human
    * judgments exist. Completes the retrieval tier with the metric
    * layer every IR system reports:
    *
    *  - DCG@k = Σ (2^grade − 1) / log2(rank + 1) over the run's top
    *    k, each term snapped to integer nano-units before the sum
    *    (order-free, engine-exact);
    *  - IDCG@k from the corpus-wide ideal ordering (grade desc, id
    *    asc — an `orderBy().limit(k)` top-k, never a global window);
    *  - MRR = 1 / first rank with grade > 0 (0.0 if none).
    *
    * Scale shape: relevance grading is one narrow projection over the
    * corpus; the run side is ≤ k rows; ideal ordering is a
    * TakeOrderedAndProject. Everything downstream of grading is
    * k-row arithmetic.
    *
    * @param run top-k ranking (`idCol`, `rank`) — e.g. [[bm25TopK]]
    *            or [[rrfFuse]] output
    * @return one row: `k`, `n_relevant` (corpus docs with grade > 0),
    *         `dcg` (round 4), `idcg` (round 4), `ndcg` (round 4),
    *         `mrr` (round 4)
    */
  def rankingEval(
      docs: DataFrame, run: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k: Int = 10): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val graded = docs.select(col(idCol),
      size(array_intersect(
        array_distinct(TextAnalysis.tokens(col(textCol))),
        typedlit(queryTerms))).as("grade"))
    def dcgTerm(grade: Column, rank: Column): Column =
      round(lit(1e9) * (pow(lit(2.0), grade.cast("double")) - lit(1.0)) /
        (log(rank.cast("double") + lit(1.0)) / log(lit(2.0))))
        .cast("long")
    val runDcg = run.join(graded, idCol)
      .agg(coalesce(sum(dcgTerm(col("grade"), col("rank"))), lit(0L))
          .as("_dcg_u"),
        coalesce(max(when(col("grade") > 0,
          round(lit(1e9) / col("rank").cast("double")).cast("long"))),
          lit(0L)).as("_rr_u"))
    val ideal = graded.where(col("grade") > 0)
      .orderBy(col("grade").desc, col(idCol).asc)
      .limit(k)
      // Partition-less window is safe here: it ranks the ≤ k-row ideal.
      .withColumn("irank", row_number().over(
        Window.orderBy(col("grade").desc, col(idCol).asc)))
      .agg(coalesce(sum(dcgTerm(col("grade"), col("irank"))), lit(0L))
        .as("_idcg_u"))
    val nRel = graded.where(col("grade") > 0)
      .agg(count(lit(1)).as("n_relevant"))
    def d(c: String) = col(c).cast("double")
    nRel.crossJoin(broadcast(runDcg)).crossJoin(broadcast(ideal))
      .select(lit(k).as("k"), col("n_relevant"),
        round(d("_dcg_u") / lit(1e9), 4).as("dcg"),
        round(d("_idcg_u") / lit(1e9), 4).as("idcg"),
        round(when(col("_idcg_u") > 0, d("_dcg_u") / d("_idcg_u"))
          .otherwise(lit(0.0)), 4).as("ndcg"),
        round(d("_rr_u") / lit(1e9), 4).as("mrr"))
  }

  /** Raw per-doc BM25 scores (no top-k cut, no rounding) — the shared
    * kernel behind [[scoreFromPostings]] and the FIELDED scoring of
    * [[bm25TopKWithAnchors]], where two fields' scores must fuse
    * BEFORE any cut.
    */
  private def rawScores(
      postings: DataFrame, stats: DataFrame, idCol: String,
      k1: Double, b: Double): DataFrame = {
    // (idCol, term) is unique in the postings, so df is a plain count.
    val dfreq = postings.groupBy("term").agg(count(lit(1)).as("dfn"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("dfn") + lit(0.5)) / (col("dfn") + lit(0.5)))
    val tfNorm = col("tf") * (lit(k1) + 1) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / col("avgdl")))
    postings
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .groupBy(col(idCol))
      .agg(sum(idf * tfNorm).as("score"))
  }

  /** Shared scoring tail of the inline and stored-index paths:
    * per-term df from the (already query-pruned) postings, idf ×
    * length-normalized tf, per-doc sum, explicit
    * `orderBy().limit(k)` top-k (TakeOrderedAndProject — never a
    * partition-less window over the corpus).
    */
  private def scoreFromPostings(
      postings: DataFrame, stats: DataFrame, idCol: String,
      k: Int, k1: Double, b: Double): DataFrame = {
    val scored = rawScores(postings, stats, idCol, k1, b)
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
    // Partition-less window is safe here: it runs on the ≤ k-row frame.
    val w = Window.orderBy(col("score").desc, col(idCol))
    scored
      .withColumn("rank", row_number().over(w))
      .select(col(idCol), col("rank"), round(col("score"), 4).as("score"))
  }

  /** Raw field scores for a (docs, textCol) corpus slice — tokenize,
    * prune to the query terms pre-shuffle, count postings, score.
    * Stats (`n_docs`, `avgdl`) are computed over THIS corpus: for the
    * anchor field that means docs that HAVE anchor text, the BM25F
    * convention that keeps a sparse field's length normalization
    * meaningful.
    */
  private def fieldScores(
      docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], k1: Double, b: Double): DataFrame = {
    val (postings, stats) = queryPostings(docs, idCol, textCol, queryTerms)
    rawScores(postings, stats, idCol, k1, b)
  }

  /** BM25 with an ANCHOR-TEXT field (round 17 — the classic
    * web-ranking signal): every document scores its body AND the
    * anchor text the web points at its page with
    * ([[WebCorpus.anchorTextField]] — distinct in-link texts per
    * canonical URL), fused as `score = bm25(body) + w · bm25(anchor)`
    * — the simple weighted-field BM25F variant with per-field
    * statistics. Anchor evidence re-ranks: a page the web calls
    * "solar panel guide" outranks a body-only match when the weight
    * says so (RetrievalSpec pins a flip).
    *
    * Scale shape: the body side is [[bm25TopK]]'s plan; the anchor
    * side joins docs to the anchor field on the canonical URL (both
    * corpus-grain, one equi-join) and scores the same way; fusion is
    * a full-outer join of two ≤|matching docs| score frames and an
    * `orderBy().limit(k)` top-k — never a corpus window.
    *
    * @param anchors (`dst_url`, `anchor_text`) — canonical-URL-keyed,
    *                e.g. [[WebCorpus.anchorTextField]] output
    */
  def bm25TopKWithAnchors(
      docs: DataFrame, anchors: DataFrame, idCol: String,
      textCol: String, urlCol: String, queryTerms: Seq[String],
      k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
      anchorWeight: Double = 1.0): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val body = fieldScores(docs, idCol, textCol, queryTerms, k1, b)
    val anchor = fieldScores(anchorDocs(docs, anchors, idCol, urlCol),
      idCol, "anchor_text", queryTerms, k1, b)
    fuseTopK(body, anchor, idCol, k, anchorWeight)
  }

  /** The doc↔anchor-field join (canonical-URL equi-join): one
    * (`idCol`, `anchor_text`) row per document whose page the web
    * links with text.
    */
  private def anchorDocs(docs: DataFrame, anchors: DataFrame,
      idCol: String, urlCol: String): DataFrame =
    docs
      .select(col(idCol),
        WebCorpus.canonUrl(col(urlCol)).as("dst_url"))
      .join(anchors, Seq("dst_url"))
      .select(col(idCol), col("anchor_text"))

  /** Shared fusion tail: `s_body + w · s_anchor` over the full-outer
    * join of the two ≤|matching docs| score frames, then the top-k cut.
    */
  private def fuseTopK(body: DataFrame, anchor: DataFrame,
      idCol: String, k: Int, anchorWeight: Double): DataFrame = {
    val fused = body.withColumnRenamed("score", "_sb")
      .join(anchor.withColumnRenamed("score", "_sa"), Seq(idCol),
        "full_outer")
      .select(col(idCol),
        (coalesce(col("_sb"), lit(0.0)) +
          lit(anchorWeight) * coalesce(col("_sa"), lit(0.0)))
          .as("score"))
      .orderBy(col("score").desc, col(idCol))
      .limit(k)
    // Partition-less window is safe here: it runs on the ≤ k-row frame.
    val w = Window.orderBy(col("score").desc, col(idCol))
    fused
      .withColumn("rank", row_number().over(w))
      .select(col(idCol), col("rank"), round(col("score"), 4).as("score"))
  }

  /** Anchor-field postings for the PERSISTED index — the anchor twin
    * of [[bm25Postings]] over the doc↔anchor join: one
    * (`idCol`, dl, term, tf) row per (doc, anchor-field term). Store
    * it bucketed on `term` beside the body postings and the two stats
    * tables; [[bm25TopKWithAnchorsFromIndex]] then serves fielded
    * BM25 with the corpus never re-tokenized — the fourth member of
    * the persisted-index family (MinHash bands / IVF codes / lexical
    * postings / anchor postings).
    */
  def anchorPostings(docs: DataFrame, anchors: DataFrame,
      idCol: String, urlCol: String): DataFrame =
    bm25Postings(anchorDocs(docs, anchors, idCol, urlCol), idCol,
      "anchor_text")

  /** Anchor-field corpus stats (over docs that HAVE anchor text — the
    * per-field convention of [[bm25TopKWithAnchors]]), fixed at
    * index-build time like [[bm25CorpusStats]].
    */
  def anchorCorpusStats(docs: DataFrame, anchors: DataFrame,
      idCol: String, urlCol: String): DataFrame =
    bm25CorpusStats(anchorDocs(docs, anchors, idCol, urlCol), idCol,
      "anchor_text")

  /** Fielded BM25 served entirely from STORED postings: the body and
    * anchor slices prune to the query's terms (bucket pruning on a
    * `term` layout — the scan touches only matching buckets), score
    * with their stored per-field stats, and fuse exactly like
    * [[bm25TopKWithAnchors]] — the two paths are bit-equal by
    * construction (RetrievalChunkSpec asserts it).
    */
  def bm25TopKWithAnchorsFromIndex(
      bodyPostings: DataFrame, bodyStats: DataFrame,
      anchorPostings: DataFrame, anchorStats: DataFrame,
      idCol: String, queryTerms: Seq[String], k: Int = 10,
      k1: Double = 1.2, b: Double = 0.75,
      anchorWeight: Double = 1.0): DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    val body = rawScores(
      bodyPostings.where(col("term").isin(queryTerms: _*)),
      bodyStats, idCol, k1, b)
    val anchor = rawScores(
      anchorPostings.where(col("term").isin(queryTerms: _*)),
      anchorStats, idCol, k1, b)
    fuseTopK(body, anchor, idCol, k, anchorWeight)
  }

  /** Current-generation resolution of the APPEND-ONLY anchor-postings
    * index (round 18 — the streaming maintainer's upsert idiom, same
    * as the cluster map's append-and-resolve): a page gaining in-links
    * appends a FULL new postings generation for its docs (`gen` =
    * ingest batch id) instead of rewriting stored rows, and the probe
    * keeps each doc's rows at its LATEST generation. Resolution must
    * ride the doc-grain `docGen` dimension, NOT a max-gen within the
    * pruned postings slice: a term present in an old generation but
    * absent from the doc's newest one would otherwise resurrect.
    * Bucket pruning still applies — postings prune to the query terms
    * before this join; `docGen` is doc-grain (small).
    */
  def anchorPostingsCurrent(postings: DataFrame,
      docGen: DataFrame): DataFrame = {
    val cur = docGen.groupBy("doc_id").agg(max(col("gen")).as("gen"))
    postings.join(cur, Seq("doc_id", "gen")).drop("gen")
  }

  /** Anchor-field corpus stats (`n_docs`, `avgdl`) resolved from the
    * doc-generation dimension's CURRENT rows — the index-only twin of
    * [[anchorCorpusStats]] for the maintained index.
    */
  def anchorStatsCurrent(docGen: DataFrame): DataFrame =
    docGen.groupBy("doc_id")
      .agg(max_by(col("dl"), col("gen")).as("dl"))
      .agg(count(lit(1)).as("n_docs"), avg(col("dl")).as("avgdl"))

  /** Reciprocal-rank fusion (Cormack et al., SIGIR'09) — how hybrid
    * search merges a lexical and a semantic ranking without score
    * calibration: each list contributes `1/(c + rank)` and the fused
    * order is by the sum. Rank-based, so BM25 logits and cosine
    * similarities never need to share a scale.
    *
    * Both inputs are top-k lists (`idCol`, `rank`) — dim-sized by
    * construction; the full-outer join and the final ranking window
    * run on ≤ |a|+|b| rows, never on a corpus. Determinism: the two
    * reciprocal terms are added in fixed written order and the fused
    * score is rounded to 6 before the (score DESC, id ASC) order, so
    * rounding ties resolve identically in any engine.
    */
  def rrfFuse(
      a: DataFrame, b: DataFrame, idCol: String,
      c: Int = 60, k: Int = 10): DataFrame = {
    require(c >= 0, s"rrf constant must be non-negative: $c")
    val l = a.select(col(idCol), col("rank").as("_ra"))
    val r = b.select(col(idCol), col("rank").as("_rb"))
    val fused = l.join(r, Seq(idCol), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(c) + col("_ra")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(c) + col("_rb")), lit(0.0)), 6))
      .orderBy(col("rrf").desc, col(idCol))
      .limit(k)
    val w = Window.orderBy(col("rrf").desc, col(idCol))
    fused.withColumn("fused_rank", row_number().over(w))
      .select(col(idCol), col("fused_rank"), col("rrf"))
  }

  /** Exact phrase search via positional postings intersection: a
    * document matches where phrase word i sits at token position
    * p + i for every i — the operator BM25's bag-of-words scoring
    * cannot express. Scale shape: the positional posting list is
    * filtered to the phrase's OWN words before any shuffle (the
    * bm25TopK discipline), then one equi-join per additional word on
    * (doc, position) — never a scan of full positions against full
    * positions.
    *
    * @return per matching doc: `idCol`, `n_matches`, `first_pos`
    *         (0-based token position of the first occurrence)
    */
  def phraseSearch(
      docs: DataFrame, idCol: String, textCol: String,
      phrase: Seq[String]): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    val pos = docs.select(col(idCol),
        posexplode(TextAnalysis.tokens(col(textCol)))
          .as(Seq("pos", "tok")))
      .where(col("tok").isin(phrase: _*))
    def wordAt(i: Int) = pos.where(col("tok") === phrase(i))
      .select(col(idCol), (col("pos") - lit(i)).as("p"))
    val starts = phrase.indices.tail
      .foldLeft(wordAt(0))((acc, i) => acc.join(wordAt(i), Seq(idCol.toString, "p")))
    starts.groupBy(idCol)
      .agg(count(lit(1)).as("n_matches"), min("p").as("first_pos"))
  }

  /** Keyword-in-context concordance: every occurrence of `term` with
    * its ±`ctx` surrounding tokens — the "show me how this token is
    * actually used" audit behind stopword lists, PII term review, and
    * tokenizer debugging. One posexplode filtered to the term (narrow),
    * then the context is sliced from the SAME token array the match
    * came from — no second scan, no join back to raw text.
    *
    * @return per occurrence: `idCol`, `pos` (0-based), `left_ctx`,
    *         `right_ctx` (space-joined, may be shorter at edges)
    */
  def kwic(
      docs: DataFrame, idCol: String, textCol: String,
      term: String, ctx: Int): DataFrame = {
    val withToks = docs.select(col(idCol),
      TextAnalysis.tokens(col(textCol)).as("tk"))
    withToks.select(col(idCol), col("tk"),
        posexplode(col("tk")).as(Seq("pos", "tok")))
      .where(col("tok") === term)
      .select(col(idCol), col("pos"),
        array_join(slice(col("tk"),
          greatest(col("pos") - lit(ctx) + 1, lit(1)),
          least(col("pos"), lit(ctx))), " ").as("left_ctx"),
        array_join(slice(col("tk"), col("pos") + 2, lit(ctx)), " ")
          .as("right_ctx"))
  }

  /** Maximal Marginal Relevance re-rank (Carbonell & Goldstein,
    * SIGIR'98): greedily pick `select` results from the BM25 top-`pool`
    * that balance relevance against redundancy —
    * `argmax λ·rel − (1−λ)·max_sim_to_selected` — the
    * diversification step between retrieval and a context window
    * (q207's per-group cap is the blunt version; MMR trades off
    * continuously).
    *
    * Redundancy is exact distinct-token Jaccard between candidates;
    * relevance is the candidate's BM25 score normalized by the pool
    * max (both from the 4-decimal-rounded [[bm25TopK]] scores, so the
    * greedy comparisons are over portable doubles — no ln-ulp
    * tie hazards cross-engine).
    *
    * Scale shape: the corpus is touched exactly once (the bm25TopK
    * scan); every greedy step operates on the ≤ pool-row candidate
    * frame with a ≤ pool×select broadcast pair join — driver-side
    * loop, pool-sized state, [[Pin.loop]] per step. Ties at equal
    * MMR break to the smaller id.
    *
    * @return `select` rows: `step`, idCol, `rel` (round 6), `max_sim`
    *         (round 4, 0.0 for the first pick), `mmr` (round 6)
    */
  def mmrRerank(
      docs: DataFrame, idCol: String, textCol: String,
      queryTerms: Seq[String], pool: Int = 20, select: Int = 5,
      lambda: Double = 0.7): DataFrame = {
    require(select >= 1 && select <= pool,
      s"select in [1, pool]: $select vs $pool")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda in [0,1]: $lambda")
    val ranked = bm25TopK(docs, idCol, textCol, queryTerms, k = pool)
    val toks = docs.select(col(idCol),
      array_distinct(TextAnalysis.tokens(col(textCol))).as("_tk"))
    val cands = ranked.join(toks, Seq(idCol))
      .crossJoin(broadcast(ranked.agg(max("score").as("_mx"))))
      .select(col(idCol), col("_tk"),
        (col("score") / col("_mx")).as("_rel"))
      .transform(Pin.shared)
    var selected = cands.limit(0)
      .select(col(idCol), col("_tk"), col("_rel"),
        lit(0.0).as("_maxsim"), lit(0.0).as("_mmr"),
        lit(0).as("step"))
      .transform(Pin.shared)
    for (step <- 1 to select) {
      val rem = cands
        .join(selected.select(col(idCol)), Seq(idCol), "left_anti")
      val pick =
        if (step == 1)
          rem.orderBy(col("_rel").desc, col(idCol)).limit(1)
            .select(col(idCol), col("_tk"), col("_rel"),
              lit(0.0).as("_maxsim"), col("_rel").as("_mmr"))
        else {
          val selT = broadcast(
            selected.select(col("_tk").as("_stk")))
          rem.crossJoin(selT)
            .withColumn("_sim",
              size(array_intersect(col("_tk"), col("_stk")))
                .cast("double") /
              size(array_union(col("_tk"), col("_stk"))).cast("double"))
            .groupBy(col(idCol))
            .agg(first("_tk").as("_tk"), first("_rel").as("_rel"),
              max("_sim").as("_maxsim"))
            .withColumn("_mmr", lit(lambda) * col("_rel") -
              lit(1.0 - lambda) * col("_maxsim"))
            .orderBy(col("_mmr").desc, col(idCol)).limit(1)
            .select(col(idCol), col("_tk"), col("_rel"),
              col("_maxsim"), col("_mmr"))
        }
      selected = Pin.loop(step,
        selected.unionByName(pick.withColumn("step", lit(step))))
    }
    selected.where(col("step") >= 1)
      .select(col("step"), col(idCol), round(col("_rel"), 6).as("rel"),
        round(col("_maxsim"), 4).as("max_sim"),
        round(col("_mmr"), 6).as("mmr"))
  }
}
