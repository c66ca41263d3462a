package graft.ops

import graft.functions.Hashing
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data Selection via Importance Resampling (Xie et al., NeurIPS 2023)
  * — the hashed-n-gram importance-weight selector used to pick raw web
  * documents that "read like" a trusted target corpus (Wikipedia,
  * textbooks) without training a model: fit two bag-of-hashed-n-grams
  * unigram distributions (target p, raw q), weight every raw document
  * by `log w(x) = sum_f n_f(x) * (log p_f - log q_f)`, then resample
  * via Gumbel-top-k (equivalent to sampling without replacement
  * proportionally to w).
  *
  * Features are hashed unigrams AND adjacent bigrams (the paper's
  * choice) bucketed into `dim` cells with [[Hashing.portableHash]], so
  * the DuckDB oracle replays the weights bit-for-bit; smoothing is
  * add-alpha over the full `dim` buckets on both distributions. The
  * Gumbel noise is deterministic — `u = (h("g:" || id) mod 1e6 + 0.5)
  * / 1e6`, `g = -ln(-ln(u))` — the standard inverse-CDF draw with the
  * portable hash as the uniform source, so selection is reproducible
  * across engines and runs.
  *
  * Scale shape (the point of DSIR is that it runs where a model-based
  * scorer cannot): per-doc bucket counts are one map-side-combinable
  * aggregate; both model frames are at most `dim` rows, joined onto
  * the doc-bucket frame by broadcast, so the raw corpus never
  * shuffles except its own per-doc aggregate; selection is
  * `TakeOrderedAndProject` (distributed partial top-k, k << corpus)
  * and the selected-flag join broadcasts the k-row id list. Nothing
  * here is proportional to corpus x corpus.
  */
object Dsir {

  /** The features of a token array `tk`: every token plus every
    * adjacent `"prev cur"` bigram.
    */
  private def feats(tk: Column): Column =
    concat(tk,
      when(size(tk) >= 2,
        transform(sequence(lit(2), size(tk)), i =>
          concat(element_at(tk, i - 1), lit(" "), element_at(tk, i))))
        .otherwise(array().cast("array<string>")))

  /** Per-document hashed feature-bucket counts: `(idCol, bucket, n)`.
    * Features = every token plus every adjacent `"prev cur"` bigram
    * (tokens never contain spaces, so the bigram key cannot collide
    * with a unigram).
    */
  def docFeatures(
      df: DataFrame, idCol: String, textCol: String, dim: Int): DataFrame = {
    require(dim > 0, s"dim must be positive: $dim")
    // Spread before the token+bigram explode: the feature fold is the
    // hot kernel and the driver's single-row-group inputs scan as one
    // task (no-op at production scale — see [[Par.spread]]).
    Par.spread(df, col(idCol))
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("tk"))
      .select(col(idCol), explode(feats(col("tk"))).as("f"))
      .select(col(idCol),
        pmod(Hashing.portableHash(col("f")), lit(dim.toLong)).as("bucket"))
      .groupBy(idCol, "bucket").agg(count(lit(1)).as("n"))
  }

  /** Corpus-level bucket counts `(bucket, cnt)` — the distribution fit,
    * needing no id column (the target corpus may be idless).
    */
  def corpusFeatures(df: DataFrame, textCol: String, dim: Int): DataFrame = {
    require(dim > 0, s"dim must be positive: $dim")
    Par.spread(df).select(TextAnalysis.tokens(col(textCol)).as("tk"))
      .select(explode(feats(col("tk"))).as("f"))
      .select(pmod(Hashing.portableHash(col("f")), lit(dim.toLong))
        .as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
  }

  /** Importance-weight every `raw` document against `target` and flag
    * the Gumbel-top-k resample. Documents with no features score null
    * and are never selected.
    *
    * @return `idCol`, `n_feats`, `logw` (rounded to 4), `selected`
    */
  def importanceSelect(
      raw: DataFrame, idCol: String, textCol: String, target: DataFrame,
      dim: Int = 1024, alpha: Double = 1.0, k: Int = 100): DataFrame = {
    require(alpha > 0, s"alpha must be positive for unseen buckets: $alpha")
    require(k > 0, s"k must be positive: $k")
    // Pinned: rawFeats feeds BOTH the q-distribution fit
    // and the per-doc scoring join; lazy, the token+bigram explode —
    // the operator's dominant CPU — ran twice.
    val rawFeats = docFeatures(raw, idCol, textCol, dim)
      .transform(Pin.shared)
    val qCounts = rawFeats.groupBy("bucket").agg(sum("n").as("qcnt"))
    val tCounts = corpusFeatures(target, textCol, dim)
      .withColumnRenamed("cnt", "tcnt")
    val totals = qCounts.agg(sum("qcnt").cast("double").as("q_total"))
      .crossJoin(tCounts.agg(sum("tcnt").cast("double").as("t_total")))
    // Every bucket that can appear in rawFeats appears in qCounts, so
    // the model frame (<= dim rows) covers all joins below.
    val model = qCounts
      .join(tCounts, Seq("bucket"), "left")
      .crossJoin(broadcast(totals))
      .select(col("bucket"),
        (log((coalesce(col("tcnt"), lit(0L)).cast("double") + lit(alpha)) /
            (col("t_total") + lit(alpha) * dim)) -
          log((col("qcnt").cast("double") + lit(alpha)) /
            (col("q_total") + lit(alpha) * dim))).as("lpr"))
    val scored = rawFeats
      .join(broadcast(model), Seq("bucket"))
      .groupBy(idCol)
      .agg(sum("n").as("n_feats"), sum(col("n") * col("lpr")).as("logw"))
    val u = (pmod(Hashing.portableHash(
        concat(lit("g:"), col(idCol).cast("string"))),
      lit(1000000L)).cast("double") + lit(0.5)) / lit(1000000.0)
    val keyed = scored.withColumn("gkey", col("logw") - log(-log(u)))
    val topIds = keyed
      .orderBy(col("gkey").desc, col(idCol))
      .limit(k)
      .select(col(idCol), lit(true).as("selected"))
    raw.select(col(idCol))
      .join(keyed.select(col(idCol), col("n_feats"), col("logw")),
        Seq(idCol), "left")
      .join(broadcast(topIds), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_feats"), lit(0L)).as("n_feats"),
        round(col("logw"), 4).as("logw"),
        coalesce(col("selected"), lit(false)).as("selected"))
  }
}
