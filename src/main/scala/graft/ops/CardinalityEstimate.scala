package graft.ops

import graft.functions.Hashing
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Sketch-based join-cardinality estimation — the optimizer-side
  * question ("how many keys do these two tables share?") answered
  * WITHOUT running the join. Each side is reduced to a KMV sketch
  * (`graft_kmv`, the k smallest distinct key hashes — one bounded
  * array per side over the shuffle); the two k-sized arrays then give
  *
  *  - distinct-count estimates per side ((k−1)·2⁶⁰ / h_k, q78's
  *    estimator),
  *  - a union sketch (k smallest of the merged arrays) and its
  *    distinct-union estimate,
  *  - a Jaccard estimate ρ = |K∪ ∩ K_A ∩ K_B| / |K∪| (the fraction of
  *    union-sketch members both sides saw), and
  *  - the intersection estimate ρ · |A∪B|̂ — the join's distinct-key
  *    cardinality.
  *
  * At 100 TB this is two parallel scans shipping k longs each; the
  * exact answer is a full distinct + join of both key sets. All sketch
  * arithmetic is integer/array ops on [[Hashing.portableHash]] values,
  * so an external engine replays the ENTIRE estimate bit-for-bit
  * (q154's oracle does) — including the estimator's error, which the
  * emitted exact tier exposes side by side.
  */
object CardinalityEstimate {

  /** Chapman capture–recapture population estimate (the bias-corrected
    * Lincoln–Petersen): run two INDEPENDENT deterministic hash
    * "captures" of the id space and estimate the total from their
    * overlap — N̂ = (n₁+1)(n₂+1)/(m+1) − 1. The estimator behind
    * "how big is the true corpus when each crawl only sees part of
    * it": two partial snapshots bound the whole without ever
    * enumerating it. Here the truth is available, so the error is
    * MEASURED (the eval harness discipline), not assumed.
    *
    * One conditional-sum aggregate over the id scan; hash membership
    * is the q57 split discipline (portable md5 buckets), so the
    * captures replay in any engine.
    *
    * @return one row: `n_true`, `n_a`, `n_b`, `n_both`, `chapman_est`
    *         (round 2), `err_ppm` (signed, vs truth)
    */
  def chapmanEstimate(
      df: DataFrame, idCol: String, pctA: Int, pctB: Int): DataFrame = {
    def in(tag: String, pct: Int) = pmod(Hashing.portableHash(
      concat(col(idCol).cast("string"), lit(s":$tag"))), lit(100L)) <
      pct.toLong
    val agg = df.agg(
      count(lit(1)).as("n_true"),
      sum(when(in("crA", pctA), 1L).otherwise(0L)).as("n_a"),
      sum(when(in("crB", pctB), 1L).otherwise(0L)).as("n_b"),
      sum(when(in("crA", pctA) && in("crB", pctB), 1L).otherwise(0L))
        .as("n_both"))
    def d(c: String) = col(c).cast("double")
    val est = (d("n_a") + lit(1.0)) * (d("n_b") + lit(1.0)) /
      (d("n_both") + lit(1.0)) - lit(1.0)
    agg.select(col("n_true"), col("n_a"), col("n_b"), col("n_both"),
      round(est, 2).as("chapman_est"),
      (round((est / d("n_true") - lit(1.0)) * lit(1e6)) + lit(0.0))
        .cast("long").as("err_ppm"))
  }

  /** One-row report: exact distinct counts (left / right /
    * intersection) next to the KMV estimates (union / Jaccard /
    * intersection). Null keys are excluded on both tiers (a null key
    * never joins).
    */
  def kmvJoinEstimate(
      left: DataFrame, leftKey: String,
      right: DataFrame, rightKey: String, k: Int): DataFrame = {
    require(k >= 2, s"k must be at least 2: $k")
    def keyHashes(df: DataFrame, keyCol: String): DataFrame =
      df.where(col(keyCol).isNotNull)
        .select(Hashing.portableHash(col(keyCol).cast("string")).as("h"))
    val skA = keyHashes(left, leftKey).agg(expr(s"graft_kmv(h, $k)").as("a"))
    val skB = keyHashes(right, rightKey).agg(expr(s"graft_kmv(h, $k)").as("b"))

    // Exact tier: one distinct pass over the tagged key union; the
    // intersection is the keys carrying both flags.
    def keys(df: DataFrame, keyCol: String, l: Int, r: Int): DataFrame =
      df.where(col(keyCol).isNotNull)
        .select(col(keyCol).cast("string").as("x"),
          lit(l).as("inl"), lit(r).as("inr"))
    val exact = keys(left, leftKey, 1, 0)
      .unionByName(keys(right, rightKey, 0, 1))
      .groupBy("x").agg(max("inl").as("l"), max("inr").as("r"))
      .agg(sum("l").as("n_left_exact"), sum("r").as("n_right_exact"),
        sum(col("l") * col("r")).as("n_inter_exact"))

    def kmvEst(arr: Column): Column =
      when(size(arr) < k, size(arr).cast("double"))
        .otherwise(lit((k - 1).toDouble) * lit(1152921504606846976L) /
          element_at(arr, k).cast("double"))

    val u = slice(array_sort(array_union(col("a"), col("b"))), 1, k)
    val m = size(col("u"))
    val matches = size(array_intersect(array_intersect(col("u"), col("a")), col("b")))
    val unionEst = kmvEst(col("u"))
    val jacc = matches.cast("double") / m.cast("double")

    skA.crossJoin(skB)
      .withColumn("u", u)
      .crossJoin(exact)
      .select(
        col("n_left_exact"), col("n_right_exact"), col("n_inter_exact"),
        (round(kmvEst(col("a")), 1) + lit(0.0)).as("left_est"),
        (round(kmvEst(col("b")), 1) + lit(0.0)).as("right_est"),
        (round(unionEst, 1) + lit(0.0)).as("union_est"),
        (round(jacc, 4) + lit(0.0)).as("jacc_est"),
        (round(jacc * unionEst, 1) + lit(0.0)).as("inter_est"))
  }

  /** The per-(group, bucket) HLL register table — the mergeable,
    * persistable form ([[hllFromRegisters]] consumes it; q358 stores
    * it as an index and answers distinct queries without re-reading
    * raw keys). Register value = max ρ over keys in the bucket.
    */
  def hllRegisters(
      df: DataFrame, groupCol: String, keyCol: String,
      p: Int): DataFrame = {
    require(p >= 4 && p <= 16, s"p in [4,16]: $p")
    hllBase(df, groupCol, keyCol, p)
      .groupBy("_g", "_b").agg(max("_rho").as("_m"))
      .select(col("_g").as(groupCol), col("_b").as("bucket"),
        col("_m").as("register"))
  }

  /** Per-group + merged estimates from a STORED register table — the
    * query-time half of the sketch index: no raw keys are touched,
    * and the merged (all-group) estimate is the element-wise register
    * max, exactly the law [[hllReport]] proves.
    *
    * @return per group: `registers_used`, `zeros`, `sum_scaled`,
    *         `hll_est` (round 2); repeated: `merged_est` (round 2)
    */
  def hllFromRegisters(
      regs: DataFrame, groupCol: String, p: Int): DataFrame = {
    require(p >= 4 && p <= 16, s"p in [4,16]: $p")
    val r = regs.select(col(groupCol).as("_g"),
      col("bucket").as("_b"), col("register").as("_m"))
    val perGroup = hllSummarize(r, Seq("_g"), p)
    val mergedEst = hllSummarize(
      r.groupBy("_b").agg(max("_m").as("_m")), Seq.empty, p)
      .select(round(col("_est"), 2).as("merged_est"))
    perGroup.crossJoin(broadcast(mergedEst))
      .select(col("_g").as(groupCol), col("registers_used"),
        col("zeros"), col("sum_scaled"),
        round(col("_est"), 2).as("hll_est"), col("merged_est"))
  }

  /** (group, bucket, rho) per input key — shared scan of the register
    * builders. */
  private def hllBase(
      df: DataFrame, groupCol: String, keyCol: String,
      p: Int): DataFrame = {
    val m = 1 << p
    val rmax = 61 - p // max rho: (60-p)-bit window, 1-based
    df.select(col(groupCol).as("_g"), col(keyCol).cast("string").as("_k"))
      .where(col("_k").isNotNull)
      .withColumn("_h", Hashing.portableHash(col("_k")))
      .withColumn("_b", pmod(col("_h"), lit(m.toLong)))
      .withColumn("_rho", expr(
        s"CASE WHEN _h DIV ${m}L = 0 THEN ${rmax}L" +
          s" ELSE ${rmax}L - length(bin(_h DIV ${m}L)) END"))
  }

  /** Exact-integer harmonic summary + estimate over a (_g?, _b, _m)
    * register frame; `grp` empty = one merged row. Emits `_raw`/`_est`
    * unrounded for the caller to shape.
    */
  private def hllSummarize(
      regs: DataFrame, grp: Seq[String], p: Int): DataFrame = {
    val m = 1 << p
    val rmax = 61 - p
    val alpha = s"(0.7213 / (1.0 + 1.079 / $m.0))"
    val g = if (grp.isEmpty) regs.groupBy() else regs.groupBy(grp.map(col): _*)
    g.agg(count(lit(1)).as("registers_used"),
        sum(expr(s"shiftleft(1L, cast($rmax - _m AS INT))")).as("_su"))
      .withColumn("zeros", lit(m.toLong) - col("registers_used"))
      .withColumn("sum_scaled",
        col("_su") + col("zeros") * lit(1L << rmax))
      .withColumn("_raw", expr(
        s"$alpha * $m.0 * $m.0 * CAST(${1L << rmax}L AS DOUBLE)" +
          " / CAST(sum_scaled AS DOUBLE)"))
      .withColumn("_est", expr(
        s"CASE WHEN _raw <= 2.5 * $m.0 AND zeros > 0" +
          s" THEN $m.0 * ln($m.0 / CAST(zeros AS DOUBLE))" +
          " ELSE _raw END"))
      .drop("_su")
  }

  /** HyperLogLog distinct-count sketch (Flajolet et al. 2007) with the
    * SHARD-MERGE law proven in-query — the property KMV (q78) shares
    * but HLL delivers in O(m) fixed registers per shard: register j
    * holds max(ρ) over keys hashing to bucket j, and the union of two
    * shards is the element-wise register MAX, so a 1000-executor scan
    * ships m longs per partition and merges associatively. This op
    * builds per-group register tables, merges them, and checks the
    * merged table equals the one built over the ungrouped scan —
    * `merge_register_mismatches` MUST be 0.
    *
    * Engine-portable arithmetic (the KMV discipline,
    * `functions/KmvSketch.scala:20` explains why Spark's built-in
    * `approx_count_distinct` registers can't be oracle-checked):
    * h = [[Hashing.portableHash]] ∈ [0, 2⁶⁰); bucket = h mod m;
    * ρ = (61−p) − bitlen(h div m) (the 1-based first-one position in
    * the (60−p)-bit window, bitlen via `bin()`, identical in both
    * engines); the harmonic-mean denominator Σ 2^−M is kept EXACT as
    * the integer Σ 2^((61−p)−M) plus 2^(61−p) per empty register —
    * order-free, so sum order can't drift a double. The only floats
    * are the final α·m²/Σ division and the small-range linear-counting
    * branch (m·ln(m/zeros) when raw ≤ 2.5m and zeros > 0), both single
    * expressions over exact integers.
    *
    * @param p register-index bits; m = 2^p registers (64 at the test
    *          scale; production would use 12–14)
    * @return per group: `n_keys`, `n_distinct_exact`,
    *         `registers_used`, `zeros`, `sum_scaled` (the exact
    *         integer denominator), `hll_raw` (round 2), `hll_est`
    *         (round 2, correction applied), `err_ppm` (signed, vs
    *         exact); repeated on every row: `merged_est` (round 2,
    *         from the max-merged per-group registers),
    *         `merge_register_mismatches` (vs the ungrouped build)
    */
  def hllReport(
      df: DataFrame, groupCol: String, keyCol: String,
      p: Int = 6): DataFrame = {
    require(p >= 4 && p <= 16, s"p in [4,16]: $p")
    val base = hllBase(df, groupCol, keyCol, p)
    def summarize(regs: DataFrame, grp: Seq[String]): DataFrame =
      hllSummarize(regs, grp, p)
    // per-group register tables → per-group estimates
    val regs = base.groupBy("_g", "_b").agg(max("_rho").as("_m"))
      .transform(Pin.shared)
    val perGroup = summarize(regs, Seq("_g"))
    val exact = base.groupBy("_g").agg(
      count(lit(1)).as("n_keys"),
      countDistinct(col("_k")).as("n_distinct_exact"))
    // merge law: element-wise max of the per-group registers must
    // equal the registers of the ungrouped scan, bucket by bucket.
    val merged = regs.groupBy("_b").agg(max("_m").as("_m"))
    val global = base.groupBy("_b").agg(max("_rho").as("_m"))
    val mismatches = merged.select(col("_b"), col("_m").as("_mm"))
      .join(global.select(col("_b"), col("_m").as("_mg")), Seq("_b"), "full")
      .agg(coalesce(sum(when(col("_mm").isNull || col("_mg").isNull ||
        col("_mm") =!= col("_mg"), 1L).otherwise(0L)), lit(0L))
        .as("merge_register_mismatches"))
    val mergedEst = summarize(merged, Seq.empty)
      .select(round(col("_est"), 2).as("merged_est"))
    exact.join(perGroup, Seq("_g"))
      .crossJoin(broadcast(mergedEst))
      .crossJoin(broadcast(mismatches))
      .select(col("_g").as(groupCol), col("n_keys"),
        col("n_distinct_exact"), col("registers_used"), col("zeros"),
        col("sum_scaled"),
        round(col("_raw"), 2).as("hll_raw"),
        round(col("_est"), 2).as("hll_est"),
        expr("CAST(round((_est / CAST(n_distinct_exact AS DOUBLE)" +
          " - 1.0) * 1000000.0) AS BIGINT)").as("err_ppm"),
        col("merged_est"), col("merge_register_mismatches"))
  }
}
