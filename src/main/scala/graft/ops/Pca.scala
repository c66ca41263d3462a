package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Top principal component of an embedding column by distributed power
  * iteration — the classic whitening / drift-analysis primitive (and
  * the first step of "all-but-the-top" embedding post-processing, Mu &
  * Viswanath ICLR'18): center, then iterate `v <- normalize(X^T X v)`.
  * The covariance matrix is NEVER materialized — each round is two
  * corpus passes: per-row scalar `s_i = (x_i - mu) . v` (a narrow map
  * against the broadcast literal `v`), then per-position
  * `t_j = sum_i x_ij s_i - mu_j sum_i s_i` (one posexplode aggregate
  * over `dim` keys). Driver state is two `dim`-length vectors —
  * model-sized, like [[Similarity.trainCentroids]]' codebook.
  *
  * Determinism: `v0` is the plane-0 row of the shared md5 sign
  * universe scaled by `1/sqrt(dim)` (exact for power-of-4 dims), so
  * the whole trajectory — including the component's sign — replays
  * bit-for-bit in the DuckDB oracle; all driver-side reductions run
  * left-to-right in position order to match the oracle's `list_sum`.
  *
  * The two `collect()` calls in [[fit]] are bounded by construction:
  * each materializes exactly `dim` rows (one per vector position,
  * dim ≤ 256 everywhere in this catalog → ≤ 256 doubles), never a
  * data-proportional frame — the same model-sized codebook pattern as
  * [[Similarity.trainCentroids]] / [[Bpe]]'s merge rules. At larger
  * dims the vectors still fit the driver trivially (dim 4096 = 32 KB);
  * the thing to change at that point is shipping `v` as a broadcast
  * variable instead of a `typedlit` literal, so the per-round plan
  * string stops embedding the full vector.
  */
object Pca {

  private def sign(plane: Int, d: Int): Double = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s"$plane:$d".getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    if ((java.lang.Long.parseLong(hex, 16) & 1L) == 1L) 1.0 else -1.0
  }

  /** Fit: `(mu, v)` as driver-side model vectors — see the class doc
    * for the per-round plan shape.
    */
  def fit(
      df: DataFrame, vecCol: String, dim: Int = 64,
      iters: Int = 3): (Array[Double], Array[Double]) = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val xs = df.select(col(vecCol).as("vec")).filter(size(col("vec")) === dim)
      .transform(Pin.shared) // reused 2x per round + the mean pass
    val mu: Array[Double] = xs
      .select(posexplode(col("vec")).as(Seq("p", "x")))
      .groupBy("p").agg(avg(col("x").cast("double")).as("m"))
      .orderBy("p").collect().map(_.getDouble(1))
    var v: Array[Double] =
      Array.tabulate(dim)(j => sign(0, j) / math.sqrt(dim.toDouble))
    for (_ <- 1 to iters) {
      val muDotV = {
        var acc = 0.0; var j = 0
        while (j < dim) { acc += mu(j) * v(j); j += 1 }; acc
      }
      val vLit = typedlit(v.toSeq)
      // graft_dot, not aggregate(zip_with(...)): the HOF pair is
      // interpreted per element (measured 2.4 s per round pass over
      // 2000×64 at sf0.1 vs ~0.1 s codegen'd); summation order and
      // null/length semantics are identical, so the trajectory — and
      // the DuckDB oracle replay — is bit-for-bit unchanged (r19).
      val withS = xs.select(col("vec"),
        (call_function("graft_dot", col("vec"), vLit)
          - lit(muDotV)).as("s"))
      val sTot = withS.agg(sum("s")).head.getDouble(0)
      val txs: Array[Double] = withS
        .select(posexplode(col("vec")).as(Seq("p", "x")), col("s"))
        .groupBy("p").agg(sum(col("x").cast("double") * col("s")).as("t"))
        .orderBy("p").collect().map(_.getDouble(1))
      val t = Array.tabulate(dim)(j => txs(j) - mu(j) * sTot)
      val norm = {
        var acc = 0.0; var j = 0
        while (j < dim) { acc += t(j) * t(j); j += 1 }; math.sqrt(acc)
      }
      v = t.map(_ / norm)
    }
    (mu, v)
  }

  /** @return one row per position (1-based): `pos`, `mu` (the column
    *         mean), `loading` (the unit top-component entry), both
    *         raw doubles (caller rounds)
    */
  def topComponent(
      df: DataFrame, vecCol: String, dim: Int = 64,
      iters: Int = 3): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val (mu, v) = fit(df, vecCol, dim, iters)
    spark.createDataset((1 to dim).map(p => (p, mu(p - 1), v(p - 1))))
      .toDF("pos", "mu", "loading")
  }

  /** Residual after removing `(mu, v)` — the UNROUNDED deflation step
    * shared by [[removeTop]] and [[topComponents]]. `s` mirrors the
    * training projection exactly (zip_with aggregate minus the mu.v
    * scalar), so the oracle replays the deflated frame bit-for-bit.
    */
  private def residual(
      vec: Column, mu: Array[Double], v: Array[Double],
      dim: Int): Column = {
    val muDotV = {
      var acc = 0.0; var j = 0
      while (j < dim) { acc += mu(j) * v(j); j += 1 }; acc
    }
    val muLit = typedlit(mu.toSeq)
    val vLit = typedlit(v.toSeq)
    // graft_dot ≡ the HOF fold it replaced, bit-for-bit (see fit).
    val s = call_function("graft_dot", vec, vLit) - lit(muDotV)
    transform(vec, (x, i) =>
      x.cast("double") - element_at(muLit, i + 1) - s *
        element_at(vLit, i + 1))
  }

  /** Top `k` principal components by DEFLATION: fit, subtract the
    * fitted component from every vector (the [[removeTop]] residual,
    * unrounded), fit again on the residual frame — each stage is the
    * [[fit]] power iteration, so the whole trajectory stays
    * oracle-replayable. The residual frames are pinned per stage
    * ([[Pin.loop]]; lineage would otherwise double every component).
    *
    * @return one row per (component 1..k, pos 1..dim): the unit
    *         loading (raw double, caller rounds)
    */
  def topComponents(
      df: DataFrame, vecCol: String, dim: Int = 64, iters: Int = 3,
      k: Int = 2): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    val spark = df.sparkSession
    import spark.implicits._
    var cur = df.select(col(vecCol).as("_v"))
      .filter(size(col("_v")) === dim)
    val comps = scala.collection.mutable.ArrayBuffer[Array[Double]]()
    for (c <- 1 to k) {
      val (mu, v) = fit(cur, "_v", dim, iters)
      comps += v
      if (c < k)
        cur = Pin.loop(c, cur.select(residual(col("_v"), mu, v, dim).as("_v")))
    }
    spark.createDataset(for {
      c <- 1 to k; p <- 1 to dim
    } yield (c, p, comps(c - 1)(p - 1)))
      .toDF("component", "pos", "loading")
  }

  /** All-but-the-top-K: [[removeTop]] generalized through the
    * [[topComponents]] deflation loop — subtract the top `k`
    * components (each fitted on the previous residual) from every
    * vector, keeping ids attached. K=2..8 is the usual operating
    * range for embedding isotropy correction.
    *
    * @return `idCol`, `resid` (array of `dim` doubles rounded to 4)
    */
  def removeTopK(
      df: DataFrame, idCol: String, vecCol: String, dim: Int = 64,
      iters: Int = 3, k: Int = 2): DataFrame = {
    require(k >= 1, s"k must be >= 1: $k")
    var cur = df.select(col(idCol), col(vecCol).as("_v"))
      .filter(size(col("_v")) === dim)
    for (c <- 1 to k) {
      val (mu, v) = fit(cur.select("_v"), "_v", dim, iters)
      cur = Pin.loop(c,
        cur.select(col(idCol), residual(col("_v"), mu, v, dim).as("_v")))
    }
    cur.select(col(idCol),
      transform(col("_v"), e => round(e, 4) + lit(0.0)).as("resid"))
  }

  /** "All-but-the-top" post-processing (Mu & Viswanath ICLR'18):
    * subtract the mean and the top-component projection from every
    * embedding — `x' = x - mu - ((x - mu) . v) v` — the cheap fix for
    * anisotropic embedding spaces before cosine retrieval. Fitting
    * aside, the correction is a pure narrow map against the two
    * broadcast literal model vectors: no shuffle, no state.
    *
    * @return `idCol`, `resid` (array of `dim` doubles rounded to 4,
    *         null for wrong-size vectors)
    */
  def removeTop(
      df: DataFrame, idCol: String, vecCol: String, dim: Int = 64,
      iters: Int = 3): DataFrame = {
    val (mu, v) = fit(df, vecCol, dim, iters)
    val vec = col(vecCol)
    df.select(col(idCol),
      when(size(vec) === dim,
        transform(residual(vec, mu, v, dim), e => round(e, 4) + lit(0.0)))
        .as("resid"))
  }

  /** Whitening audit for [[removeTop]] (Mu & Viswanath's
    * all-but-the-top): per-dimension variance of the raw embeddings
    * vs the top-component residuals — removing the dominant
    * direction should FLATTEN the variance profile; dimensions whose
    * ratio barely moves weren't aligned with it. The evidence that
    * the projection did what the paper promises, per dimension.
    *
    * Raw components snap to micro-ints and residuals (already
    * round-4 by [[removeTop]]'s contract) to 1e4-ints, so both
    * variance columns are ratios of exact integer moments.
    *
    * @return per dimension: `pos` (1-based), `n`, `var_before`
    *         (round 6), `var_after` (round 6), `ratio` (round 4;
    *         after/before)
    */
  def whitenAudit(
      df: DataFrame, idCol: String, vecCol: String, dim: Int = 64,
      iters: Int = 3): DataFrame = {
    val valid = df.where(size(col(vecCol)) === dim)
    def moments(src: DataFrame, c: String, scale: Double,
        out: String) = src
      .select(posexplode(col(c)).as(Seq("pos0", "x")))
      .withColumn("xu", round(col("x").cast("double") * lit(scale))
        .cast("long"))
      .groupBy("pos0")
      .agg(count(lit(1)).as(s"n_$out"), sum("xu").as(s"s_$out"),
        sum(col("xu") * col("xu")).as(s"ss_$out"))
    def variance(n: String, s: String, ss: String, scale: Double) =
      (col(ss).cast("double") - col(s).cast("double") *
        col(s).cast("double") / col(n).cast("double")) /
        (col(n).cast("double") - lit(1.0)) / lit(scale * scale)
    val before = moments(valid, vecCol, 1e6, "b")
    val after = moments(
      removeTop(valid, idCol, vecCol, dim, iters), "resid", 1e4, "a")
    before.join(after, Seq("pos0"))
      .select((col("pos0") + 1).cast("int").as("pos"),
        col("n_b").as("n"),
        round(variance("n_b", "s_b", "ss_b", 1e6), 6).as("var_before"),
        round(variance("n_a", "s_a", "ss_a", 1e4), 6).as("var_after"),
        round(variance("n_a", "s_a", "ss_a", 1e4) /
          variance("n_b", "s_b", "ss_b", 1e6), 4).as("ratio"))
  }
}
