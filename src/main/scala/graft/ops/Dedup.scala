package graft.ops

import graft.functions.Hashing._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for 100 TB training-data pipelines.
  *
  * Scale design, per operator:
  *  - exact: one hash aggregate on the content key (map-side partial
  *    combine collapses duplicates before the shuffle).
  *  - MinHash+LSH: signatures are narrow per-row lambda math; the only
  *    shuffle is the band-bucket self-join, whose key cardinality
  *    (band_id, band_hash) is high → uniform partitioning, AQE handles
  *    stragglers. Candidate pairs are verified with exact Jaccard, so
  *    the sketch only has to be recall-safe, never precision-safe.
  *  - SimHash: 60-bit signature per doc; near-dup = small Hamming
  *    distance, found via banded equality on signature chunks (same
  *    LSH-join shape, no O(n²) scan).
  *  - embedding near-dup: cosine over a label/bucket blocking key —
  *    never the full cross product.
  */
object Dedup {

  /** Exact dedup: keep the lowest-id row per identical content.
    * PRECONDITION: `idCol` is unique — a consumer that joins `keep_id`
    * back against rows with colliding ids marks every collider a
    * winner (the q409 bug class). Ops that GENERATE hash-derived ids
    * must dedup on their own group key first (`fromWarc`/`fromWet` do,
    * via the canonical-URL `min_by`) before feeding id-keyed stages
    * like [[graft.ops.CorpusPipeline.curate]].
    */
  def exact(df: DataFrame, contentCol: String, idCol: String): DataFrame =
    df.groupBy(md5(col(contentCol)).as("content_hash"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Duplication-rate growth curve: the exact-dup fraction at nested
    * id-prefix slices of the corpus (¼, ½, full) — dup rate GROWS
    * with corpus size (more chances to collide), so the small-sample
    * rate understates what a 100 TB crawl will dedup; this curve is
    * the extrapolation evidence. ONE pass: per content hash, count
    * members under each cutoff; dups at cutoff = rows − distinct
    * hashes present.
    *
    * @param cuts ascending id cutoffs (exclusive)
    * @return one row per cutoff: `cutoff`, `n_docs`, `n_distinct`,
    *         `n_dups`, `dup_ppm`
    */
  def dupRateCurve(
      df: DataFrame, idCol: String, contentCol: String,
      cuts: Seq[Long]): DataFrame = {
    val hashed = df.select(col(idCol).cast("long").as("id"),
      md5(col(contentCol)).as("h"))
    val aggs = cuts.flatMap { c =>
      Seq(sum(when(col("id") < c, 1L).otherwise(0L)).as(s"n_$c"),
        countDistinct(when(col("id") < c, col("h"))).as(s"d_$c"))
    }
    // One 1-row aggregate, materialized ONCE (each cutoff row below
    // re-reads it).
    val one = hashed.agg(aggs.head, aggs.tail: _*).transform(Pin.shared)
    cuts.map { c =>
      one.select(lit(c).as("cutoff"), col(s"n_$c").as("n_docs"),
        col(s"d_$c").as("n_distinct"),
        (col(s"n_$c") - col(s"d_$c")).as("n_dups"),
        expr(s"((n_$c - d_$c) * 1000000) DIV n_$c").as("dup_ppm"))
    }.reduce(_ unionByName _)
  }

  /** Edit-distance near-duplicate pairs over SHORT strings (names,
    * titles, product labels — not documents: Levenshtein is O(len²)
    * per pair and length-blind at document size; the MinHash/SimHash
    * tiers own that regime). Returns distinct-string pairs
    * `(str_a < str_b, dist)` with `1 ≤ dist ≤ maxDist`.
    *
    * Scale shape — two pruning layers before any distance runs:
    * 1. DISTINCT-first: pairs form over unique strings, never rows, so
    *    a million copies of "Acme Corp" cost one comparison.
    * 2. Length-band blocking: `|len(a) − len(b)| > maxDist` forces
    *    `dist > maxDist` (recall-lossless), so strings join only
    *    within their `maxDist+1`-wide length band and the one above —
    *    the quadratic explosion is bounded per band, and the join is
    *    a plain shuffle equi-join on the band key.
    * Same-band pairs pair once via `str_a < str_b`; adjacent-band pairs
    * once because only the LOWER band probes upward.
    */
  def editDistancePairs(
      df: DataFrame, strCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 1, s"maxDist must be ≥ 1: $maxDist")
    val w = maxDist + 1
    val names = df.select(col(strCol).as("s")).na.drop().distinct()
      .withColumn("band", (length(col("s")) / w).cast("long"))
    val probe = names.select(col("s").as("sa"), col("band").as("ba"),
      explode(array(col("band"), col("band") + 1)).as("band_key"))
    val build = names.select(col("s").as("sb"), col("band").as("bb"),
      col("band").as("band_key"))
    probe.join(build, Seq("band_key"))
      .filter((col("ba") === col("bb") && col("sa") < col("sb")) ||
        col("ba") < col("bb"))
      .filter(abs(length(col("sa")) - length(col("sb"))) <= maxDist)
      .withColumn("dist", levenshtein(col("sa"), col("sb")))
      .filter(col("dist").between(1, maxDist))
      .select(least(col("sa"), col("sb")).as("str_a"),
        greatest(col("sa"), col("sb")).as("str_b"), col("dist"))
  }

  /** MinHash signature: k universal-family hash minima over the token
    * set — the native kernel expression
    * ([[graft.functions.MinhashSignatureExpr]], registered by
    * `Graft.session`): one md5 + k fused affine mixes per token in a
    * primitive codegen'd loop, no intermediate arrays. Arithmetic is
    * EXACTLY [[graft.functions.Hashing.universalHashes]], so the DuckDB
    * oracles keep matching bit-for-bit. (History: the HOF
    * aggregate/zip_with fold was ~4× slower at sf0.1; a transpose
    * formulation re-hashing per family member ~40×.)
    *
    * Empty/whitespace-only documents get a NULL signature (not a
    * sentinel): a sentinel would make all empty docs mutual near-dup
    * candidates, and the oracles' guarded CASE yields NULL too — NULL
    * band hashes never equi-join, on either engine. No array_distinct:
    * a minimum over the multiset ≡ over the distinct set.
    */
  def minhashSignature(text: Column, k: Int): Column =
    call_function("graft_minhash", TextAnalysis.tokens(text), lit(k))

  /** LSH banding: split the k-length signature into `bands` rows of
    * (band_id, band_hash). Docs sharing any band are candidate pairs.
    */
  def lshBands(df: DataFrame, idCol: String, textCol: String, k: Int, bands: Int): DataFrame = {
    require(k % bands == 0, s"k=$k must divide into bands=$bands")
    val r = k / bands
    // The k-hash signature fold is the operator's CPU hot spot; the
    // driver's single-row-group parquet files scan as ONE task, so
    // without a spread the fold runs serially (guide §2.5 input skew;
    // no-op on production-scale inputs — see [[Par.spread]]).
    Par.spread(df, col(idCol)).withColumn("sig", minhashSignature(col(textCol), k))
      .withColumn("band_id", explode(sequence(lit(0), lit(bands - 1))))
      .withColumn("band_hash",
        md5(array_join(transform(slice(col("sig"), col("band_id") * r + 1, lit(r)),
          h => h.cast("string")), ",")))
      .select(col(idCol), col("band_id"), col("band_hash"))
  }

  /** Incremental near-dup lookup — the production posture of MinHash
    * dedup: a NEW batch (today's crawl) is checked against an EXISTING
    * corpus without ever re-pairing the corpus against itself. The band
    * join runs batch-bands × index-bands only, so per-ingest cost
    * scales with the batch, not the corpus; at scale the index band
    * frame is computed once and persisted (bucketed on band_hash —
    * `sources/Layout` — so this join needs no shuffle on the index
    * side), and the batch probes it. In-batch duplicates are a separate
    * [[minhashNearDups]] call over the batch alone.
    *
    * Returns (batch_id, index_id, jaccard ≥ threshold) — same k/bands/
    * verify arithmetic as [[minhashNearDups]], so a doc's signature is
    * identical whichever side it sits on.
    */
  def incrementalNearDups(
      batch: DataFrame, index: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4, threshold: Double = 0.7): DataFrame = {
    val bb = lshBands(batch, idCol, textCol, k, bands)
    val ib = lshBands(index, idCol, textCol, k, bands)
    val candidates = bb.as("l")
      .join(ib.as("r"),
        col("l.band_id") === col("r.band_id") &&
          col("l.band_hash") === col("r.band_hash"))
      .select(col(s"l.$idCol").as("batch_id"),
        col(s"r.$idCol").as("index_id"))
      .distinct()
    def toks(df: DataFrame) = Par.spread(df, col(idCol)).select(col(idCol),
      array_sort(array_distinct(TextAnalysis.tokens(col(textCol)))).as("toks"))
      .withColumn("n_toks", size(col("toks")))
    verifyJaccard(candidates, toks(batch), toks(index), idCol, threshold,
      "batch_id", "index_id")
  }

  /** The three pair sets of a split-corpus MAINTENANCE cycle —
    * standing-corpus self-pairs, batch-internal self-pairs, and
    * batch↔corpus cross-pairs — built over ONE band frame and ONE
    * token frame per side (r20, VERDICT r19 item 2): composing
    * [[minhashNearDups]](old) + [[minhashNearDups]](batch) +
    * [[incrementalNearDups]](batch, old) runs the signature fold and
    * the tokenize fold TWICE per doc set (each call rebuilds its own
    * frames); the q361/q362 fixtures pay that four-fold surplus every
    * run. Candidate generation and the exact-Jaccard verify are the
    * same expressions as the three standalone operators, so each
    * returned frame is row-identical to its standalone counterpart.
    *
    * @return (oldPairs `(id_a, id_b, jaccard)`,
    *         batchPairs `(id_a, id_b, jaccard)`,
    *         crossPairs `(batch_id, index_id, jaccard)`)
    */
  def maintenancePairSets(
      old: DataFrame, batch: DataFrame, idCol: String, textCol: String,
      k: Int, bands: Int, threshold: Double)
      : (DataFrame, DataFrame, DataFrame) = {
    def toksOf(df: DataFrame) = Par.spread(df, col(idCol)).select(col(idCol),
      array_sort(array_distinct(TextAnalysis.tokens(col(textCol)))).as("toks"))
      .withColumn("n_toks", size(col("toks")))
      .transform(Pin.shared)
    val bandsOld = lshBands(old, idCol, textCol, k, bands).transform(Pin.shared)
    val bandsBatch = lshBands(batch, idCol, textCol, k, bands).transform(Pin.shared)
    val toksOld = toksOf(old)
    val toksBatch = toksOf(batch)
    def selfPairs(b: DataFrame, toks: DataFrame): DataFrame = {
      verifyJaccard(bandCandidates(b, idCol), toks, toks, idCol, threshold,
        "id_a", "id_b")
    }
    val crossCand = bandsBatch.as("l")
      .join(bandsOld.as("r"),
        col("l.band_id") === col("r.band_id") &&
          col("l.band_hash") === col("r.band_hash"))
      .select(col(s"l.$idCol").as("batch_id"),
        col(s"r.$idCol").as("index_id"))
      .distinct()
    (selfPairs(bandsOld, toksOld),
      selfPairs(bandsBatch, toksBatch),
      verifyJaccard(crossCand, toksBatch, toksOld, idCol, threshold,
        "batch_id", "index_id"))
  }

  /** Sorted distinct-token frame `(idCol, toks, n_toks)` — the
    * verify-side half of a PERSISTED near-dup index (the band half is
    * [[lshBands]]; store it bucketed by `band_hash` via
    * `sources/Layout.writeBucketed` so probes join it with no
    * index-side exchange).
    */
  def tokenIndex(df: DataFrame, idCol: String, textCol: String): DataFrame =
    Par.spread(df, col(idCol)).select(col(idCol),
      array_sort(array_distinct(TextAnalysis.tokens(col(textCol)))).as("toks"))
      .withColumn("n_toks", size(col("toks")))

  /** [[incrementalNearDups]] against a PRECOMPUTED index — the stored
    * form of the corpus side: `indexBands` = [[lshBands]] output read
    * back from a table bucketed on `band_hash`, `indexToks` =
    * [[tokenIndex]] output. Signatures of the standing corpus are
    * computed once at index-build time, never per ingest.
    *
    * The candidate join keys on `band_hash` ALONE (matching the
    * bucketed layout, so the index side needs no exchange): an md5
    * band hash colliding across band positions can only ADD candidate
    * pairs, and the exact-Jaccard verify step discards any that are
    * not true near-dups — recall can only grow, precision is
    * unchanged.
    */
  def incrementalNearDupsFromIndex(
      batch: DataFrame, idCol: String, textCol: String,
      indexBands: DataFrame, indexToks: DataFrame,
      k: Int = 16, bands: Int = 4, threshold: Double = 0.7): DataFrame = {
    val probe = lshBands(batch, idCol, textCol, k, bands)
      .select(col(idCol).as("batch_id"), col("band_hash"))
    val idx = indexBands.select(col(idCol).as("index_id"), col("band_hash"))
    val candidates = probe.join(idx, "band_hash")
      .select("batch_id", "index_id").distinct()
    candidates
      .join(tokenIndex(batch, idCol, textCol)
        .select(col(idCol).as("batch_id"), col("toks").as("toks_a"),
          col("n_toks").as("na")), "batch_id")
      .join(indexToks.select(col(idCol).as("index_id"),
        col("toks").as("toks_b"), col("n_toks").as("nb")), "index_id")
      .withColumn("inter",
        call_function("graft_overlap", col("toks_a"), col("toks_b")))
      .withColumn("jaccard", round(
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select("batch_id", "index_id", "jaccard")
  }

  /** Candidate pairs (`id_a` < `id_b`) sharing at least one LSH band of
    * the band frame `b`.
    */
  private def bandCandidates(b: DataFrame, idCol: String): DataFrame =
    b.as("l")
      .join(b.as("r"),
        col("l.band_id") === col("r.band_id") &&
          col("l.band_hash") === col("r.band_hash") &&
          col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))
      .distinct()

  /** MinHash+LSH near-dup candidate pairs, verified with exact Jaccard
    * over distinct token sets. Returns (id_a, id_b, jaccard) pairs with
    * jaccard >= threshold, id_a < id_b.
    */
  def minhashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      k: Int = 16, bands: Int = 4, threshold: Double = 0.7): DataFrame = {
    // Band + token frames are pinned: the band frame feeds BOTH sides
    // of the self-join and the token frame both verify joins, so the
    // lazy form ran the k-hash signature fold twice and the
    // tokenize+sort fold twice per call — the dominant CPU of every
    // minhash consumer (q286's profile: 4 × ~5-11 s 32-task fold
    // stages for one pair build). A pin is one fold and block-manager
    // reads after; materializing through a bucketed table write
    // instead measured slower (10 s vs 19 s).
    val b = lshBands(df, idCol, textCol, k, bands).transform(Pin.shared)
    val candidates = bandCandidates(b, idCol)
    // Verify with a merge-count over SORTED distinct token arrays
    // (graft_overlap): one scan per candidate pair instead of the
    // array_intersect + array_union hash-set builds. With distinct
    // arrays |A ∪ B| = |A| + |B| − overlap, so the Jaccard value is
    // unchanged to the bit.
    val toks = Par.spread(df, col(idCol)).select(col(idCol),
      array_sort(array_distinct(TextAnalysis.tokens(col(textCol)))).as("toks"))
      .withColumn("n_toks", size(col("toks")))
      .transform(Pin.shared)
    verifyJaccard(candidates, toks, toks, idCol, threshold,
      "id_a", "id_b")
  }

  /** Exact-Jaccard verification of candidate pairs against (possibly
    * distinct) token frames — the shared tail of every minhash pair
    * builder. Arithmetic is bit-identical to the historical inline
    * form: merge-count overlap, |A ∪ B| = na + nb − inter, round 4,
    * filter ≥ threshold.
    */
  private def verifyJaccard(
      candidates: DataFrame, toksA: DataFrame, toksB: DataFrame,
      idCol: String, threshold: Double,
      aName: String, bName: String): DataFrame =
    candidates
      .join(toksA.select(col(idCol).as(aName), col("toks").as("toks_a"),
        col("n_toks").as("na")), aName)
      .join(toksB.select(col(idCol).as(bName), col("toks").as("toks_b"),
        col("n_toks").as("nb")), bName)
      .withColumn("inter", call_function("graft_overlap", col("toks_a"), col("toks_b")))
      .withColumn("jaccard", round(
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")), 4))
      .filter(col("jaccard") >= threshold)
      .select(col(aName), col(bName), col("jaccard"))

  /** 60-bit SimHash: per bit, the sign of the ±1 vote sum over token
    * hashes. Near-dups share most bits → banded equality join finds
    * them without a cross product.
    */
  def simhash(text: Column, bits: Int = 60): Column =
    // Native kernel ([[graft.functions.SimhashExpr]]): one md5 + a
    // `bits`-wide vote loop per DISTINCT token (distinctness matters —
    // duplicate tokens would bias the vote), identical arithmetic to
    // the portableHash/shiftright HOF formulation it replaced (which
    // allocated a 60-long array per token in interpreted lambdas).
    call_function("graft_simhash", array_distinct(TextAnalysis.tokens(text)), lit(bits))

  /** SimHash near-dup pairs: banded equality for candidate generation,
    * exact Hamming verify. Pigeonhole guarantee: a pair within Hamming
    * distance d differs in ≤ d bands, so with bands = d + 1 chunks at
    * least one band matches — candidate recall is EXACT for
    * maxHamming ≤ bands − 1. The join key (band, chunk) is
    * high-cardinality → uniform shuffle; no O(n²) scan anywhere.
    */
  def simhashNearDups(
      df: DataFrame, idCol: String, textCol: String,
      bits: Int = 60, bands: Int = 4, maxHamming: Int = 3): DataFrame = {
    require(maxHamming < bands, "pigeonhole needs maxHamming <= bands - 1")
    require(bits % bands == 0, s"bits=$bits must divide into bands=$bands")
    val r = bits / bands
    val sigs = Par.spread(df, col(idCol))
      .select(col(idCol), simhash(col(textCol), bits).as("sig"))
    val banded = sigs
      .withColumn("band", explode(sequence(lit(0), lit(bands - 1))))
      // chunk = (sig >> band*r) & (2^r - 1); the shift amount is a
      // Column, so go through the SQL shiftright (Scala overload wants
      // a literal Int).
      .withColumn("chunk",
        call_function("shiftright", col("sig"), (col("band") * lit(r)).cast("int"))
          .bitwiseAND(lit((1L << r) - 1)))
    val candidates = banded.as("l")
      .join(banded.as("r"),
        col("l.band") === col("r.band") && col("l.chunk") === col("r.chunk") &&
          col(s"l.$idCol") < col(s"r.$idCol"))
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"),
        col("l.sig").as("sig_a"), col("r.sig").as("sig_b"))
      .distinct()
    candidates
      .withColumn("hamming", bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  /** Exact n-gram (shingle) arrays for Jaccard verification — SORTED
    * distinct, via the native kernel ([[graft.functions.ShinglesExpr]]:
    * one pass, no per-shingle `slice`/`array_join` HOF allocations).
    * Texts shorter than n tokens yield an empty array (the HOF
    * formulation needed an explicit guard because Spark's
    * `sequence(1, 0)` DESCENDS; DuckDB's generate_series(1,0) is []).
    *
    * Contract: NULL text → NULL (null-in/null-out, like every built-in
    * collection function). Callers that want empty-array parity with
    * the old HOF form should wrap with `coalesce(shingles(t, n),
    * array())`; internal call sites explode the result, which drops
    * NULL and empty alike.
    */
  def shingles(text: Column, n: Int): Column =
    call_function("graft_shingles", TextAnalysis.tokens(text), lit(n))

  /** N-gram Jaccard near-dup over a blocking key (e.g. source).
    *
    * Scale shape — three exact prunings stacked (the per-block
    * quadratic self-join was 187 s at sf0.1; a full inverted-index join
    * 20 s; this plan ~5 s, all with IDENTICAL results):
    *
    *  1. Prefix filter (Vernica/Carey/Li, SIGMOD'10 §3.1, public
    *     algorithm): under any global total order on shingles, two sets
    *     with J ≥ t and the length filter below must share a shingle in
    *     each other's first |X| − ceil(t·|X|) + 1 sorted shingles — so
    *     only PREFIX shingles go into the inverted index.
    *  2. Length filter: J(A,B) ≥ t ⇒ I ≥ t(|A|+|B|)/(1+t) and
    *     I ≤ min ⇒ min ≥ t·max — pairs with mismatched sizes are
    *     dropped inside the join condition.
    *  3. Zero-overlap pairs never appear at all (J = 0 < t).
    *
    * Candidates are then verified with the exact intersection of the
    * FULL sorted shingle arrays. Join keys (block, shingle) are
    * high-cardinality → uniform partitioning; AQE splits stop-shingle
    * skew.
    *
    * NOTE: leaves the internal shingle cache to LRU eviction (fine for
    * run-once jobs like Verify/Bench); long-lived sessions should use
    * [[ngramJaccardPairsReleasable]] and call the hook after consuming.
    */
  def ngramJaccardPairs(
      df: DataFrame, idCol: String, textCol: String, blockCol: String,
      n: Int = 3, threshold: Double = 0.5): DataFrame =
    ngramJaccardPairsReleasable(df, idCol, textCol, blockCol, n, threshold)._1

  /** As [[ngramJaccardPairs]], plus the cache-release hook: the
    * operator persists its internal shingle frame (it feeds the
    * inverted index AND both sides of the verify join), and the lazy
    * result gives the caller no way to unpersist it — in a long-lived
    * session each invocation would otherwise pin a cached RDD until
    * LRU eviction. Call the hook after the result has been fully
    * consumed (an action ran); calling it earlier only costs a
    * recompute, never correctness.
    */
  def ngramJaccardPairsReleasable(
      df: DataFrame, idCol: String, textCol: String, blockCol: String,
      n: Int = 3, threshold: Double = 0.5): (DataFrame, () => Unit) = {
    require(threshold > 0.0, "threshold must be > 0 (zero-overlap pairs are pruned)")
    // Persisted: the shingle frame feeds the inverted index AND both
    // sides of the verify join — without it the O(rows·shingles·n)
    // shingle construction runs three times (the dominant cost: the
    // candidate join is ~10k pairs at sf0.1, the shingling ~500k array
    // builds). MEMORY_AND_DISK so a 100× corpus degrades to disk reads
    // instead of OOM.
    // `cached` is the exact Dataset persist() was called on — the
    // release hook must unpersist THAT handle (uncacheQuery with
    // cascade=false matches the cached plan, not descendants of it).
    val cached = Par.spread(df, col(idCol)).select(col(idCol), col(blockCol),
      shingles(col(textCol), n).as("sh")) // kernel output is already sorted
      .withColumn("n_sh", size(col("sh")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // prefix length: n_sh − floor(t·n_sh) + 1. floor, not the
    // theorem's ceil — binary rounding can push t·n_sh a ulp ABOVE
    // the exact product (10·0.3 = 3.0000000000000004) and a ceil
    // would then shorten the prefix below the safe bound; floor only
    // ever lengthens it, which is always correct.
    val s = cached.withColumn("n_pre",
      (col("n_sh") - floor(col("n_sh") * threshold) + 1).cast("int"))
    val inv = s.select(col(idCol), col(blockCol), col("n_sh"),
      explode(slice(col("sh"), lit(1), greatest(col("n_pre"), lit(0)))).as("shingle"))
    val candidates = inv.as("l")
      .join(inv.as("r"),
        col(s"l.$blockCol") === col(s"r.$blockCol") &&
          col("l.shingle") === col("r.shingle") &&
          col(s"l.$idCol") < col(s"r.$idCol") &&
          // length filter: min ≥ t·max, with a ulp of slack so a pair
          // sitting exactly on the bound (J = t) survives FP rounding
          col("l.n_sh") >= col("r.n_sh") * threshold - 1e-9 &&
          col("r.n_sh") >= col("l.n_sh") * threshold - 1e-9)
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"))
      .distinct()
    val full = s.select(col(idCol), col("sh"), col("n_sh"))
    val pairs = candidates
      .join(full.select(col(idCol).as("id_a"), col("sh").as("sh_a"), col("n_sh").as("na")), "id_a")
      .join(full.select(col(idCol).as("id_b"), col("sh").as("sh_b"), col("n_sh").as("nb")), "id_b")
      .withColumn("inter", call_function("graft_overlap", col("sh_a"), col("sh_b")))
      // Filter on the EXACT ratio — the prefix/length prunes above are
      // exact in true Jaccard, so a rounded filter would keep boundary
      // pairs (J < t rounding up to t) that candidate generation
      // correctly pruned. Rounding is presentation-only.
      .withColumn("jaccard_x",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard_x") >= threshold)
      .select(col("id_a"), col("id_b"), round(col("jaccard_x"), 4).as("jaccard"))
    (pairs, () => { cached.unpersist(); () })
  }

  /** Directional containment pairs — `|A ∩ B| / |A| >= threshold`
    * over n-gram shingle sets: A is (near-)CONTAINED in B, the quote /
    * excerpt / boilerplate-subset case symmetric Jaccard (q27) misses
    * when |A| << |B| (J shrinks with the size gap, containment
    * doesn't). The Lee et al. 2022 sub-document dedup companion.
    *
    * Scale shape: candidate generation is an inverted-index equi-join
    * of A-side PREFIXES (if c >= t, one of A's first
    * `n - floor(t*n) + 1` sorted shingles must occur in B — floor,
    * not the theorem's ceil, absorbs the binary-rounding ulp exactly
    * as [[ngramJaccardPairs]]) against B-side FULL postings; no
    * all-pairs anywhere, no symmetric length filter (the size gap is
    * the point). Verification gates on EXACT integers —
    * `10*inter >= t10*|A|` — so the emitted pair set is
    * engine-independent; `threshold` must be a multiple of 0.1.
    *
    * @return `id_a` (contained), `id_b` (container), `na`, `inter`,
    *         `containment` (rounded to 4)
    */
  def containmentPairs(
      df: DataFrame, idCol: String, textCol: String, blockCol: String,
      n: Int = 3, threshold: Double = 0.9): DataFrame = {
    val t10 = math.round(threshold * 10).toInt
    require(t10 >= 1 && t10 <= 10 && math.abs(t10 / 10.0 - threshold) < 1e-12,
      s"threshold must be a multiple of 0.1 in (0, 1]: $threshold")
    // NOT spread (r19): the shingle fold here is cheap relative to the
    // three consumers' plan — adding the exchange measured 1.27 s →
    // 2.33 s at sf0.1 (the shuffle is not reused across the inv/full
    // branches), so the original scan-rooted form stays.
    val sh = df.select(col(idCol), col(blockCol),
        shingles(col(textCol), n).as("sh"))
      .withColumn("n_sh", size(col("sh")))
      .filter(col("n_sh") > 0)
    val pre = sh.withColumn("n_pre",
      (col("n_sh") - floor(col("n_sh") * threshold) + 1).cast("int"))
    val aPost = pre.select(col(idCol).as("id_a"), col(blockCol),
      explode(slice(col("sh"), lit(1), greatest(col("n_pre"), lit(0))))
        .as("shingle"))
    val bPost = sh.select(col(idCol).as("id_b"), col(blockCol),
      explode(col("sh")).as("shingle"))
    val cand = aPost
      .join(bPost, Seq(blockCol, "shingle"))
      .filter(col("id_a") =!= col("id_b"))
      .select("id_a", "id_b").distinct()
    val full = sh.select(col(idCol), col("sh"), col("n_sh"))
    cand
      .join(full.select(col(idCol).as("id_a"), col("sh").as("sh_a"),
        col("n_sh").as("na")), "id_a")
      .join(full.select(col(idCol).as("id_b"), col("sh").as("sh_b")),
        "id_b")
      .withColumn("inter",
        call_function("graft_overlap", col("sh_a"), col("sh_b")))
      .filter(col("inter") * 10 >= lit(t10) * col("na"))
      .select(col("id_a"), col("id_b"), col("na").cast("long").as("na"),
        col("inter").cast("long").as("inter"),
        round(col("inter").cast("double") / col("na"), 4)
          .as("containment"))
  }

  /** Benchmark decontamination — drop corpus documents that share ANY
    * n-gram with a benchmark/test set (the standard guard against
    * train-on-test leakage; n-gram overlap is how the big public
    * corpora do it).
    *
    * Scale shape: the benchmark is dim-sized (thousands of prompts),
    * the corpus is the 100 TB side — so the benchmark's distinct
    * shingle set is built once and BROADCAST into a `left_semi` probe
    * against the corpus's exploded shingles; the corpus never
    * shuffles. Documents shorter than n tokens have no shingles and
    * trivially survive.
    */
  def contaminatedIds(docs: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int = 5): DataFrame = {
    val benchSh = bench
      .select(explode(shingles(col(textCol), n)).as("shingle")).distinct()
    docs.select(col(idCol), explode(shingles(col(textCol), n)).as("shingle"))
      .join(broadcast(benchSh), Seq("shingle"), "left_semi")
      .select(idCol).distinct()
  }

  /** [[contaminatedIds]]' complement: the surviving corpus. */
  def decontaminate(docs: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, n: Int = 5): DataFrame =
    docs.join(contaminatedIds(docs, bench, idCol, textCol, n),
      Seq(idCol), "left_anti")

  /** LSH band-tuning planning table — the S-curve arithmetic every
    * [[minhashNearDups]] scaladoc hand-waves ("pick b·r for your
    * threshold"), materialized as a queryable dim: for each candidate
    * (bands b, rows-per-band r) config, the detection probability
    * P(s) = 1 − (1 − s^r)^b on a similarity grid, its value at the
    * dedup threshold, the false-positive / false-negative areas
    * (∫ P below / ∫ (1−P) above the threshold — the shuffle-volume
    * vs missed-dup tradeoff a 100 TB band choice is made on), and the
    * curve midpoint s₅₀. A planning query, so the frame is
    * |configs| × |grid| literal rows — zero scans, zero shuffles
    * beyond the dim-sized group.
    *
    * Engine portability: powers are explicit left-associated
    * multiplication chains (never `pow`, whose libm rounding differs
    * across engines); P snaps to integer NANO units per grid point,
    * so the area integrals are exact order-free integer sums.
    *
    * @param configs         (bands, rowsPerBand) candidates
    * @param grid            similarity grid resolution (points at
    *                        i/grid, i = 1..grid−1)
    * @param thresholdPermil dedup threshold in permil; must land on a
    *                        grid point
    * @return per config: `bands`, `rows_per_band`, `k` (= b·r
    *         signature size), `p_at_threshold_nano`, `fp_area_nano`,
    *         `fn_area_nano`, `s50_permil` (first grid point with
    *         P ≥ ½; null if the curve never reaches it)
    */
  def lshTuningTable(
      spark: org.apache.spark.sql.SparkSession,
      configs: Seq[(Int, Int)], grid: Int,
      thresholdPermil: Int): DataFrame = {
    require(grid > 1 && thresholdPermil * grid % 1000 == 0,
      s"threshold $thresholdPermil‰ must land on a point of the " +
        s"$grid-grid")
    require(configs.nonEmpty, "at least one (bands, rows) config")
    val tIdx = thresholdPermil * grid / 1000
    val frames = configs.map { case (b, r) =>
      require(b > 0 && r > 0, s"positive bands/rows: ($b, $r)")
      val s = col("i").cast("double") / lit(grid.toDouble)
      val sr = (1 to r).foldLeft(lit(1.0): Column)((acc, _) => acc * s)
      val onems = lit(1.0) - sr
      val q = (1 to b).foldLeft(lit(1.0): Column)((acc, _) => acc * onems)
      spark.range(1, grid).toDF("i").select(
        lit(b).as("bands"), lit(r).as("rows_per_band"), col("i"),
        round((lit(1.0) - q) * 1e9).cast("long").as("p_nano"))
    }
    frames.reduce(_ unionByName _)
      .groupBy("bands", "rows_per_band")
      .agg(
        max(when(col("i") === tIdx, col("p_nano")))
          .as("p_at_threshold_nano"),
        sum(when(col("i") < tIdx, col("p_nano")).otherwise(0L))
          .as("_fp"),
        sum(when(col("i") >= tIdx, lit(1000000000L) - col("p_nano"))
          .otherwise(0L)).as("_fn"),
        min(when(col("p_nano") >= 500000000L, col("i"))).as("_s50i"))
      .select(col("bands"), col("rows_per_band"),
        (col("bands") * col("rows_per_band")).as("k"),
        col("p_at_threshold_nano"),
        expr(s"_fp DIV ${grid}L").as("fp_area_nano"),
        expr(s"_fn DIV ${grid}L").as("fn_area_nano"),
        expr(s"_s50i * 1000 DIV ${grid}L").as("s50_permil"))
  }
}
