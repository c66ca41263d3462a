package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Unigram language-model perplexity scoring — the CCNet-style quality
  * gate (Wenzek et al. 2020 score with a KenLM 5-gram; the distributed
  * SHAPE is identical at any order): train token statistics on a
  * reference corpus, then score every candidate document by its mean
  * negative log-likelihood under the smoothed model. Low-NLL documents
  * read like the reference corpus; high-NLL documents are noise, menus,
  * or the wrong language — the single most used content filter in
  * public LLM-corpus pipelines.
  *
  * Scale shape: training is one explode + one map-side-combinable
  * count per token; the model (vocab counts) is tiny relative to the
  * corpus — a few million rows even for web-scale text — so scoring
  * broadcasts it and stays a narrow explode → broadcast-join →
  * per-doc mean: the 100 TB candidate corpus never shuffles.
  */
object LanguageModel {

  /** Token → occurrence count over the training frame. */
  def trainUnigram(df: DataFrame, textCol: String): DataFrame =
    df.select(explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))

  /** Bigram counts over the training frame: `(prev, cur, cnt)` for
    * every adjacent token pair — the conditional half of an
    * interpolated bigram model. Same one-aggregate scale shape as
    * [[trainUnigram]]; the model stays vocabulary²-bounded in theory,
    * corpus-bigram-bounded (far smaller) in practice.
    */
  def trainBigram(df: DataFrame, textCol: String): DataFrame = {
    val tk = col("tk")
    df.select(TextAnalysis.tokens(col(textCol)).as("tk"))
      .select(explode(when(size(tk) >= 2,
        transform(sequence(lit(2), size(tk)), i =>
          struct(element_at(tk, i - 1).as("prev"),
            element_at(tk, i).as("cur"))))
        .otherwise(array().cast("array<struct<prev:string,cur:string>>")))
        .as("bg"))
      .groupBy(col("bg.prev").as("prev"), col("bg.cur").as("cur"))
      .agg(count(lit(1)).as("bcnt"))
  }

  /** Mean NLL under the interpolated bigram model
    * `p(cur|prev) = lambda * p_bi + (1 - lambda) * p_uni` — one order
    * up from [[scoreNll]] (the KenLM direction of Wenzek et al.'s
    * CCNet scorer, same distributed shape at any order). Both terms
    * are add-alpha smoothed over the unigram vocabulary V; a
    * document's first token (no context) scores by the unigram term
    * alone; bigram context counts come from the bigram frame itself
    * (sum over `prev`), so the two model frames are self-consistent.
    *
    * Scale shape: both model frames broadcast; scoring is a narrow
    * explode → three broadcast joins → per-doc mean. The corpus never
    * shuffles except the final per-doc aggregate.
    *
    * @return `idCol`, `n_tokens`, `nll` (rounded to 4)
    */
  def scoreBigramNll(
      docs: DataFrame, idCol: String, textCol: String,
      uni: DataFrame, bi: DataFrame,
      alpha: Double = 1.0, lambda: Double = 0.7): DataFrame = {
    require(alpha > 0, s"alpha must be positive for OOV mass: $alpha")
    require(lambda >= 0 && lambda <= 1, s"lambda must be in [0, 1]: $lambda")
    val stats = uni.agg(
      sum("cnt").cast("double").as("t_total"),
      count(lit(1)).cast("double").as("v_size"))
    val ctx = bi.groupBy("prev").agg(sum("bcnt").as("ctx_cnt"))
    val tk = col("tk")
    val items = docs
      .select(col(idCol), TextAnalysis.tokens(col(textCol)).as("tk"))
      .select(col(idCol), explode(when(size(tk) >= 1,
        transform(sequence(lit(1), size(tk)), i =>
          struct(element_at(tk, i).as("cur"),
            when(i > 1, element_at(tk, i - 1)).as("prev"))))
        .otherwise(array().cast("array<struct<cur:string,prev:string>>")))
        .as("it"))
      .select(col(idCol), col("it.cur").as("cur"), col("it.prev").as("prev"))
    val pUni = (coalesce(col("ucnt"), lit(0L)).cast("double") + lit(alpha)) /
      (col("t_total") + lit(alpha) * col("v_size"))
    val pBi = (coalesce(col("bcnt"), lit(0L)).cast("double") + lit(alpha)) /
      (coalesce(col("ctx_cnt"), lit(0L)).cast("double") +
        lit(alpha) * col("v_size"))
    // (1 - lambda) is COMPUTED, not a literal, so the oracle's
    // (1.0 - 0.7) lands on the identical IEEE double.
    val p = when(col("prev").isNull, pUni)
      .otherwise(lit(lambda) * pBi + lit(1.0 - lambda) * pUni)
    val scored = items
      .join(broadcast(uni.select(col("token").as("cur"),
        col("cnt").as("ucnt"))), Seq("cur"), "left")
      .join(broadcast(bi), Seq("prev", "cur"), "left")
      .join(broadcast(ctx), Seq("prev"), "left")
      .crossJoin(broadcast(stats))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"), avg(-log(p)).as("nll"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        round(col("nll"), 4).as("nll"))
  }

  /** Kneser–Ney smoothed bigram NLL per group — the standard n-gram
    * smoothing (Kneser & Ney 1995; Chen & Goodman 1999's benchmark
    * winner) one rung above [[scoreBigramNll]]'s add-alpha
    * interpolation: the backoff distribution is the CONTINUATION
    * count (in how many distinct contexts does w appear) rather than
    * raw frequency, which stops high-count-but-single-context tokens
    * ("Francisco") from stealing backoff mass.
    *
    * With d the absolute discount, for a test bigram (w1, w2):
    *
    *   seen context w1:  P = max(c12 − d, 0)/c1
    *                        + d·N1+(w1·)/c1 · N1+(·w2)/B
    *   unseen context:   P = N1+(·w2)/B   (pure continuation)
    *
    * where B = distinct training bigram types. Bigrams with P = 0
    * (w2 never seen as a continuation AND pair unseen) are
    * UNSCORABLE: counted in `n_skipped`, excluded from the mean —
    * the documented contract (the NaiveBayes empty-token lesson:
    * never silently drop, always count).
    *
    * Each −ln P is snapped to integer nano-nats before the group
    * mean, so the oracle replays the identical integers. Scale
    * shape: the model frames are bigram-TYPE-bounded — sub-linear in
    * corpus size but unbounded, so the model joins are left to
    * Catalyst/AQE (broadcast when small, shuffle when not) rather
    * than hint-forced; only the 1-row type count broadcasts. The
    * test corpus explodes once and shuffles once for the final group
    * aggregate.
    *
    * @return per group: `groupCol`, `n_bigrams`, `n_scored`,
    *         `n_skipped`, `kn_nll` (round 4; null if nothing scored)
    */
  def knBigramNll(
      train: DataFrame, test: DataFrame, groupCol: String,
      textCol: String, d: Double = 0.75): DataFrame = {
    require(d > 0 && d < 1, s"discount must be in (0, 1): $d")
    val bi = trainBigram(train, textCol).transform(Pin.shared)
    val ctx = bi.groupBy("prev").agg(sum("bcnt").as("c1"),
      count(lit(1)).as("n1fwd"))
    val cont = bi.groupBy("cur").agg(count(lit(1)).as("ncont"))
    val btypes = bi.agg(count(lit(1)).as("b"))
    val tk = col("tk")
    val items = test
      .select(col(groupCol), TextAnalysis.tokens(col(textCol)).as("tk"))
      .select(col(groupCol), explode(when(size(tk) >= 2,
        transform(sequence(lit(2), size(tk)), i =>
          struct(element_at(tk, i - 1).as("prev"),
            element_at(tk, i).as("cur"))))
        .otherwise(array().cast("array<struct<prev:string,cur:string>>")))
        .as("bg"))
      .select(col(groupCol), col("bg.prev").as("prev"),
        col("bg.cur").as("cur"))
    def dd(c: String) = col(c).cast("double")
    val pCont = coalesce(col("ncont"), lit(0L)).cast("double") / dd("b")
    val p = when(col("c1").isNotNull,
      greatest(coalesce(col("bcnt"), lit(0L)).cast("double") - lit(d),
        lit(0.0)) / dd("c1") +
        lit(d) * dd("n1fwd") / dd("c1") * pCont)
      .otherwise(pCont)
    val scored = items
      .join(bi, Seq("prev", "cur"), "left")
      .join(ctx, Seq("prev"), "left")
      .join(cont, Seq("cur"), "left")
      .crossJoin(broadcast(btypes))
      .withColumn("_nll_u",
        when(p > 0, round(-log(p) * lit(1e9)).cast("long")))
    scored.groupBy(groupCol)
      .agg(count(lit(1)).as("n_bigrams"),
        count(col("_nll_u")).as("n_scored"),
        (count(lit(1)) - count(col("_nll_u"))).as("n_skipped"),
        sum("_nll_u").as("_s"))
      .select(col(groupCol), col("n_bigrams"), col("n_scored"),
        col("n_skipped"),
        round(col("_s").cast("double") / lit(1e9) /
          col("n_scored").cast("double"), 4).as("kn_nll"))
  }

  /** Mean negative log-likelihood of each document under the add-alpha
    * smoothed unigram model `lm` (from [[trainUnigram]]):
    * p(t) = (cnt(t) + alpha) / (T + alpha * V) with T = total training
    * tokens and V = training vocabulary size; out-of-vocabulary tokens
    * get cnt = 0. Zero-token documents score null.
    *
    * @return `idCol`, `n_tokens`, `nll` (rounded to 4; lower = more
    *         reference-like)
    */
  def scoreNll(
      docs: DataFrame, idCol: String, textCol: String,
      lm: DataFrame, alpha: Double = 1.0): DataFrame = {
    require(alpha > 0, s"alpha must be positive for OOV mass: $alpha")
    val stats = lm.agg(
      sum("cnt").cast("double").as("t_total"),
      count(lit(1)).cast("double").as("v_size"))
    val toks = docs.select(col(idCol),
      explode(TextAnalysis.tokens(col(textCol))).as("token"))
    val scored = toks
      .join(broadcast(lm), Seq("token"), "left")
      .crossJoin(broadcast(stats))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        avg(-log((coalesce(col("cnt"), lit(0L)).cast("double") + lit(alpha)) /
          (col("t_total") + lit(alpha) * col("v_size")))).as("nll"))
    docs.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        round(col("nll"), 4).as("nll"))
  }
}
