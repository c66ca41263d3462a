package graft.ops

import graft.functions.Hashing
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Corpus-to-corpus similarity matrix: vocabulary Jaccard between
  * every pair of sources — the "how much does crawl A overlap crawl
  * B" input to mixing/weighting decisions (a near-duplicate source
  * deserves one slot, not two). Token-set similarity at the SOURCE
  * grain, where the dedup tier works at the document grain.
  *
  * Two tiers, q154-style: the scale path reduces each source to a
  * k-minimum-values sketch of its token hashes — per-source state is
  * k longs regardless of corpus size, and the pairwise compare runs
  * on the #sources² sketch frame, never on data — while the exact
  * tier (distinct (source, token) inverted-index self-join) is the
  * oracle-visible evaluation that makes the estimate's error
  * measurable in the same row. At 100 TB you keep only the sketch
  * tier; the md5-based hashes make every sketch value engine-
  * portable, so the estimate itself is hash-compared, not
  * tolerance-judged.
  */
object SourceSim {

  /** Exact histogram-intersection similarity between slice token
    * distributions: HI(a,b) = Σ_t min(p_a(t), p_b(t)) ∈ [0,1] — the
    * exact counterpart of the KMV-sketch matrix, for when the
    * vocabularies fit (HI = 1 ⇔ identical distributions). Only
    * tokens PRESENT in both slices contribute (min is 0 otherwise),
    * so the pair enumeration is an equi-join on token — per-token
    * fan-out is bounded by slices-per-token, never |slices|².
    *
    * Each min(p,q) term snaps to integer nano before the per-pair
    * sum; the top-k rank runs on the integer score.
    *
    * @return top `k` pairs: `src_a` < `src_b`, `n_common_tokens`,
    *         `hist_intersection` (round 6)
    */
  def histIntersection(
      df: DataFrame, sliceCol: String, textCol: String,
      k: Int): DataFrame = {
    val counts = df.select(col(sliceCol).as("s"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy("s", "tok").agg(count(lit(1)).as("c"))
    val tot = counts.groupBy("s").agg(sum("c").as("n"))
    val withP = counts.join(tot, Seq("s")).transform(Pin.shared)
    val pairs = withP.as("a").join(withP.as("b"),
        col("a.tok") === col("b.tok") && col("a.s") < col("b.s"))
      .select(col("a.s").as("src_a"), col("b.s").as("src_b"),
        round(least(col("a.c").cast("double") / col("a.n").cast("double"),
          col("b.c").cast("double") / col("b.n").cast("double")) *
          lit(1e9)).cast("long").as("term"))
    val scored = pairs.groupBy("src_a", "src_b")
      .agg(count(lit(1)).as("n_common_tokens"), sum("term").as("_hi"))
    // Explicit top-k over the |sources|²-bounded pair frame
    // (TakeOrderedAndProject) — no rank window.
    scored
      .orderBy(col("_hi").desc, col("src_a").asc, col("src_b").asc)
      .limit(k)
      .select(col("src_a"), col("src_b"), col("n_common_tokens"),
        round(col("_hi").cast("double") / lit(1e9), 6)
          .as("hist_intersection"))
  }

  /** @return one row per source pair (a < b): `source_a`, `source_b`,
    *         exact vocab sizes `n_a`/`n_b`, exact `n_int`, exact
    *         `jacc`, and the KMV `jacc_est` (both rounded to 4)
    */
  def pairwiseVocabJaccard(
      df: DataFrame, sourceCol: String, textCol: String,
      k: Int): DataFrame = {
    require(k >= 2, s"k must be at least 2: $k")
    val toks = df
      .select(col(sourceCol).as("src"),
        explode(TextAnalysis.tokens(col(textCol))).as("token"))
      .distinct()
    val sk = toks
      .select(col("src"), Hashing.portableHash(col("token")).as("h"))
      .groupBy("src")
      .agg(expr(s"graft_kmv(h, $k)").as("sig"), count(lit(1)).as("n"))
    val inter = toks.as("x").join(toks.as("y"),
        col("x.token") === col("y.token") && col("x.src") < col("y.src"))
      .groupBy(col("x.src").as("source_a"), col("y.src").as("source_b"))
      .agg(count(lit(1)).as("n_int"))
    val pairs = sk.select(col("src").as("source_a"), col("sig").as("a"),
        col("n").as("n_a"))
      .join(sk.select(col("src").as("source_b"), col("sig").as("b"),
        col("n").as("n_b")), col("source_a") < col("source_b"))
      .join(inter, Seq("source_a", "source_b"), "left")
      .withColumn("n_int", coalesce(col("n_int"), lit(0L)))
    pairs
      .withColumn("u", slice(array_sort(array_union(col("a"), col("b"))),
        1, k))
      .withColumn("m", size(col("u")))
      .withColumn("matches", size(array_intersect(
        array_intersect(col("u"), col("a")), col("b"))))
      .select(col("source_a"), col("source_b"),
        col("n_a"), col("n_b"), col("n_int"),
        (round(col("n_int").cast("double") /
          (col("n_a") + col("n_b") - col("n_int")).cast("double"), 4)
          + lit(0.0)).as("jacc"),
        (round(col("matches").cast("double") / col("m").cast("double"), 4)
          + lit(0.0)).as("jacc_est"))
  }
}
