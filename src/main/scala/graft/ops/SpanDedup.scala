package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Exact-substring deduplication — the REMOVAL half of Lee et al. 2022
  * ("Deduplicating Training Data Makes Language Models Better"),
  * completing the detection signal of
  * [[TextAnalysis.repeatedNgramSignals]] (q75): any token span of
  * length >= n that occurs more than once ANYWHERE in the corpus
  * (across documents or within one) is excised from every occurrence
  * except a single canonical one, and documents are reassembled from
  * their surviving tokens.
  *
  * Semantics, precisely: a span is a token n-gram window (a repeated
  * span longer than n is the union of its overlapping repeated
  * n-gram windows, so windows of exactly n suffice — Lee et al. §4's
  * suffix-array observation). The canonical KEPT occurrence of each
  * repeated n-gram is the lexicographically smallest (doc, position);
  * every other occurrence marks its n token positions for removal,
  * and a document's removed set is the union of its marked windows.
  * Docs shorter than n tokens pass through unchanged.
  *
  * Scale shape — the distributed re-expression of the paper's
  * single-machine suffix array: one narrow window projection per doc,
  * one map-side-combinable groupBy on the n-gram (count + min-struct,
  * the [[LineDedup]] keeper shape), one join back restricted to
  * repeated grams, one explode of MARKED windows only (repeated text
  * is the minority of a healthy corpus), and one per-doc reassembly
  * aggregate. High-cardinality uniform keys throughout; no windows
  * over unpartitioned frames; nothing driver-side. At 100 TB the
  * gram join key would swap for `portableHash(gram)` exactly as
  * documented on [[LineDedup]] — the oracle-checked form keys on the
  * exact string so the comparison is collision-free by construction.
  */
object SpanDedup {

  /** @param df      documents
    * @param idCol   orderable document id
    * @param textCol whitespace-tokenizable text
    * @param n       minimum repeated span length in tokens (Lee et
    *                al. use 50 for web corpora)
    * @return one row per input document: `idCol`, `n_tokens` (before),
    *         `n_removed` (token positions excised), `clean_text`
    *         (surviving tokens joined by single spaces, `""` if
    *         everything fell)
    */
  def removeRepeatedSpans(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    require(n > 0, s"span length must be positive: $n")
    // Tokenize into a NAMED column first: inlining the tokenizer
    // expression into the n-gram transform would re-run the regex per
    // window element (no common-subexpression elimination inside HOF
    // lambdas) — O(tokens x doc_len) regex calls instead of O(docs).
    // Materialized once for its three consumers (the window frame
    // feeds both the keeper aggregate and the join-back; the token
    // arrays feed reassembly) — the same 3-consumer pin trade as
    // CorpusPipeline.fates.
    // Par.spread: the tokenize fold (and the 1-partition checkpoint it
    // would otherwise pin) rides the single-row-group scan.
    val tokenized = Par.spread(df, col(idCol))
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("tk"))
      .transform(Pin.shared)

    // Every n-token window of every doc: (id, pos, gram), pos 0-based.
    // ngramsFromTokens already guards docs shorter than n.
    val windows = tokenized
      .select(col(idCol),
        posexplode(TextAnalysis.ngramsFromTokens(col("tk"), n))
          .as(Seq("pos", "gram")))

    // Canonical occurrence per gram + its corpus count — ONE map-side
    // combinable aggregate (the LineDedup keeper shape).
    val keeper = windows
      .groupBy("gram")
      .agg(count(lit(1)).as("cnt"),
        min(struct(col(idCol), col("pos"))).as("keep"))

    // Marked windows: occurrences of repeated grams other than the
    // canonical one. Each contributes its n covered token positions;
    // collect_set dedups overlapping windows, so per-doc coverage is
    // ONE id-keyed aggregate (bounded by doc length).
    val covByDoc = windows
      .join(keeper.filter(col("cnt") > 1), "gram")
      .where(struct(col(idCol), col("pos")) =!= col("keep"))
      .select(col(idCol),
        explode(sequence(col("pos"), col("pos") + (n - 1))).as("tpos"))
      .groupBy(idCol)
      .agg(collect_set(col("tpos")).as("_cov"))

    // Reassemble NARROW: one doc-level left join (covered docs are a
    // subset of the corpus), then surviving tokens fall out of an
    // index filter that preserves order — no token-level shuffle, no
    // re-sort, and empty/short docs ride through unchanged.
    tokenized
      .join(covByDoc, Seq(idCol), "left")
      .select(col(idCol),
        size(col("tk")).cast("long").as("n_tokens"),
        when(col("_cov").isNull, lit(0L))
          .otherwise(size(col("_cov")).cast("long")).as("n_removed"),
        when(col("_cov").isNull, array_join(col("tk"), " "))
          .otherwise(array_join(
            filter(col("tk"), (_, i) => !array_contains(col("_cov"), i)),
            " ")).as("clean_text"))
  }
}
