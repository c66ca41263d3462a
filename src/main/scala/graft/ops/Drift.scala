package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distribution-drift detection between two samples of a numeric
  * column — the "did the new corpus version shift?" gate a training
  * pipeline runs before swapping data in: a two-sample
  * Kolmogorov–Smirnov statistic per group, computed entirely from
  * [[graft.functions.HistSketchAgg]] histogram sketches.
  *
  * KS = max over bucket edges of |CDF_a − CDF_b|, evaluated at the
  * sketch's bucket boundaries — exact for the binned distributions,
  * within one bucket width of the raw-sample statistic. Each side
  * reduces to one sketch aggregate (8·nbins bytes per group over the
  * shuffle); the CDF compare runs on the dense (groups × nbins) frame
  * both sketches already are — two corpora are compared without
  * either shipping a row. All arithmetic is integer counts then one
  * division, so an external engine reproduces the statistic exactly.
  */
object Drift {

  /** Population Stability Index per group from the same two
    * histogram sketches: PSI = Σ_b (p_b − q_b)·ln(p_b/q_b) with the
    * standard ε-floor on empty buckets (industry convention: <0.1
    * stable, 0.1–0.25 drifting, >0.25 shifted). The counts are
    * integers off the sketch; p, q, and the log terms are fixed-
    * shape double expressions. PSI complements [[ksFromHists]]: KS
    * sees the worst single quantile shift, PSI accumulates mass
    * moved across ALL buckets.
    */
  def psiFromHists(
      a: DataFrame, b: DataFrame, groupCol: String, valueCol: String,
      lo: Double, hi: Double, nbins: Int, eps: Double): DataFrame = {
    def buckets(df: DataFrame, cnt: String): DataFrame =
      df.groupBy(groupCol)
        .agg(expr(s"graft_hist(CAST($valueCol AS DOUBLE), ${lo}D, ${hi}D, $nbins)")
          .as("_h"))
        .select(col(groupCol), posexplode(col("_h")).as(Seq("b", cnt)))
    val wAll = Window.partitionBy(groupCol)
    val joined = buckets(a, "ca").join(buckets(b, "cb"), Seq(groupCol, "b"))
      .withColumn("n_a", sum("ca").over(wAll))
      .withColumn("n_b", sum("cb").over(wAll))
      .where(col("n_a") > 0 && col("n_b") > 0)
      .withColumn("p", greatest(
        col("ca").cast("double") / col("n_a").cast("double"), lit(eps)))
      .withColumn("q", greatest(
        col("cb").cast("double") / col("n_b").cast("double"), lit(eps)))
    joined
      .groupBy(col(groupCol), col("n_a"), col("n_b"))
      .agg((round(sum((col("p") - col("q")) * log(col("p") / col("q"))), 4)
        + lit(0.0)).as("psi"))
      .select(col(groupCol), col("n_a"), col("n_b"), col("psi"))
  }

  /** Standardized-mean-difference drift screen across MANY numeric
    * columns at once: SMD = |m₁ − m₀| / √((v₀+v₁)/2) per column
    * between two cohorts — the scale-free "which feature moved"
    * triage that runs BEFORE the per-column deep dives (KS, PSI, QQ).
    * SMD < 0.1 is conventionally negligible.
    *
    * Columns are unpivoted with per-column integer snap scales
    * (SMD is scale-invariant, so the snap only sets granularity and
    * each column can pick one that keeps Σx² inside int64); all
    * moments are exact integer sums in ONE pass over the unpivoted
    * frame.
    *
    * @param cols (column, snapScale) pairs
    * @return per column: `column`, `n0`, `n1`, `mean0`, `mean1`
    *         (snapped units, round 4), `smd` (round 4)
    */
  def smdScreen(
      df: DataFrame, cohortCol: String,
      cols: Seq[(String, Long)]): DataFrame = {
    val melted = cols.map { case (c, scale) =>
      df.select(col(cohortCol).cast("int").as("arm"),
        lit(c).as("column"),
        round(col(c).cast("double") * lit(scale.toDouble)).cast("long")
          .as("x"))
    }.reduce(_ unionByName _)
    val mom = melted.where(col("x").isNotNull)
      .groupBy("column", "arm")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"))
    def d(c: Column) = c.cast("double")
    val withV = mom
      .withColumn("mean", d(col("sx")) / d(col("n")))
      .withColumn("v", (d(col("sxx")) - d(col("sx")) * d(col("sx")) /
        d(col("n"))) / (d(col("n")) - lit(1.0)))
    val a0 = withV.where(col("arm") === 0)
      .select(col("column"), col("n").as("n0"), col("mean").as("m0"),
        col("v").as("v0"))
    val a1 = withV.where(col("arm") === 1)
      .select(col("column"), col("n").as("n1"), col("mean").as("m1"),
        col("v").as("v1"))
    a0.join(a1, Seq("column"))
      .select(col("column"), col("n0"), col("n1"),
        round(col("m0"), 4).as("mean0"), round(col("m1"), 4).as("mean1"),
        round(abs(col("m1") - col("m0")) /
          sqrt((col("v0") + col("v1")) / lit(2.0)), 4).as("smd"))
  }

  /** Jensen–Shannon divergence between two corpora's token
    * distributions — the symmetric, bounded (≤ ln 2) distribution-
    * shift readout. The canonical use: BEFORE vs AFTER a dedup/
    * filter stage, answering "did cleaning skew the content mix" —
    * dedup that removes boilerplate SHOULD move the needle a little;
    * a large JS means the filter is deleting a topic.
    *
    * JS = ½Σ p·ln(p/m) + ½Σ q·ln(q/m), m = (p+q)/2, over the union
    * vocabulary. Each term is snapped to integer nano-nats before the
    * sum (the q238 discipline): one ln per vocab row on identical
    * rationals, integer sums, order-free. Two token-count aggregates
    * + one vocab-sized full-outer join.
    *
    * @return one row: `docs_a`, `docs_b`, `tokens_a`, `tokens_b`,
    *         `vocab_union`, `js_nats` (round 6)
    */
  def jsTokenShift(
      a: DataFrame, b: DataFrame, textCol: String): DataFrame = {
    def counts(df: DataFrame) = df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
    val ca = counts(a)
    val cb = counts(b)
    val na = a.agg(count(lit(1)).as("docs_a"))
      .crossJoin(broadcast(ca.agg(sum("c").as("tokens_a"))))
    val nb = b.agg(count(lit(1)).as("docs_b"))
      .crossJoin(broadcast(cb.agg(sum("c").as("tokens_b"))))
    val joined = ca.withColumnRenamed("c", "c_a")
      .join(cb.withColumnRenamed("c", "c_b"), Seq("tok"), "full_outer")
      .select(coalesce(col("c_a"), lit(0L)).as("c_a"),
        coalesce(col("c_b"), lit(0L)).as("c_b"))
      .crossJoin(broadcast(na)).crossJoin(broadcast(nb))
    def dd(c: Column) = c.cast("double")
    val p = dd(col("c_a")) / dd(col("tokens_a"))
    val q = dd(col("c_b")) / dd(col("tokens_b"))
    val m = (p + q) / lit(2.0)
    def half(x: Column, cnt: Column) = when(cnt > 0,
      round(x / lit(2.0) * log(x / m) * lit(1e9)).cast("long"))
      .otherwise(0L)
    joined
      .withColumn("_t", half(p, col("c_a")) + half(q, col("c_b")))
      .groupBy("docs_a", "docs_b", "tokens_a", "tokens_b")
      .agg(count(lit(1)).as("vocab_union"), sum("_t").as("_js"))
      .select(col("docs_a"), col("docs_b"), col("tokens_a"),
        col("tokens_b"), col("vocab_union"),
        round(col("_js").cast("double") / lit(1e9), 6).as("js_nats"))
  }

  /** Quantile–quantile profile of two cohorts of one metric: the
    * interpolated quantile of each side at a shared probability grid,
    * plus their difference — the SHAPE-level drift readout that a
    * scalar KS/PSI compresses away (is the gap in the tail or the
    * middle?). `percentile`'s interpolation is the q143-pinned kernel,
    * so both engines emit identical doubles.
    *
    * One aggregate per cohort (map-side combinable percentile
    * sketch), then everything runs on the |ps|-row grid.
    *
    * @return per probability `p`: `n_a`, `n_b`, `q_a`, `q_b`,
    *         `gap` = q_b − q_a (all quantiles round 4)
    */
  def qqProfile(
      df: DataFrame, cohortCol: String, valueCol: String,
      cohortA: String, cohortB: String, ps: Seq[Double]): DataFrame = {
    val pArr = s"array(${ps.map(p => s"${p}D").mkString(", ")})"
    def side(c: String, pfx: String) = df
      .where(col(cohortCol) === c && col(valueCol).isNotNull)
      .agg(count(lit(1)).as(s"n_$pfx"),
        expr(s"percentile($valueCol, $pArr)").as(s"qs_$pfx"))
      .select(col(s"n_$pfx"),
        posexplode(col(s"qs_$pfx")).as(Seq("i", s"q_$pfx")))
    side(cohortA, "a").join(side(cohortB, "b"), Seq("i"))
      .select(
        element_at(lit(ps.toArray), col("i") + 1).as("p"),
        col("n_a"), col("n_b"),
        round(col("q_a"), 4).as("q_a"), round(col("q_b"), 4).as("q_b"),
        (round(col("q_b") - col("q_a"), 4) + lit(0.0)).as("gap"))
  }

  /** Per (group, bin) of the two sides' `graft_hist` sketches: the
    * running counts `cum_a`/`cum_b` and the totals `n_a`/`n_b`; groups
    * empty on either side are dropped.
    */
  private def histCdfs(
      a: DataFrame, b: DataFrame, groupCol: String, valueCol: String,
      lo: Double, hi: Double, nbins: Int): DataFrame = {
    def buckets(df: DataFrame, cnt: String): DataFrame =
      df.groupBy(groupCol)
        .agg(expr(s"graft_hist(CAST($valueCol AS DOUBLE), ${lo}D, ${hi}D, $nbins)")
          .as("_h"))
        .select(col(groupCol), posexplode(col("_h")).as(Seq("b", cnt)))
    val w = Window.partitionBy(groupCol).orderBy("b")
    val wAll = Window.partitionBy(groupCol)
    buckets(a, "ca").join(buckets(b, "cb"), Seq(groupCol, "b"))
      .withColumn("cum_a", sum("ca").over(w))
      .withColumn("cum_b", sum("cb").over(w))
      .withColumn("n_a", sum("ca").over(wAll))
      .withColumn("n_b", sum("cb").over(wAll))
      .where(col("n_a") > 0 && col("n_b") > 0)
  }

  /** |F_A − F_B| at one bin of [[histCdfs]]. */
  private def cdfGap: Column =
    abs(col("cum_a").cast("double") / col("n_a").cast("double") -
      col("cum_b").cast("double") / col("n_b").cast("double"))

  /** @return one row per group: groupCol, `n_a`, `n_b`, `ks`
    *         (rounded to 4; groups present in only one side are
    *         omitted — no distribution to compare against)
    */
  def ksFromHists(
      a: DataFrame, b: DataFrame, groupCol: String, valueCol: String,
      lo: Double, hi: Double, nbins: Int): DataFrame = {
    histCdfs(a, b, groupCol, valueCol, lo, hi, nbins)
      .groupBy(col(groupCol), col("n_a"), col("n_b"))
      .agg((round(max(cdfGap), 4) + lit(0.0)).as("ks"))
      .select(col(groupCol), col("n_a"), col("n_b"), col("ks"))
  }

  /** EXACT two-sample Kolmogorov–Smirnov statistic — the
    * sketch-free tier above [[ksFromHists]] (whose D is only as sharp
    * as its bins): D = sup|F_A − F_B| evaluated at every distinct
    * pooled value, kept EXACT as the integer
    * Dstar = max|cumA·n_B − cumB·n_A| (D = Dstar / (n_A·n_B), so no
    * double ever enters the max). Ties are handled the standard way: F is
    * read AFTER all ties at a value are consumed, because the
    * cumulative counts live at value-distinct grain.
    *
    * Scale shape: one (value → countA, countB) aggregate, then
    * [[Rank.globalRowNumber]] + two [[Rank.prefixSum]] passes over
    * the value-distinct frame — never a single-task window over
    * data-proportional rows. The critical value λ = D·√(n_A·n_B/
    * (n_A+n_B)) is emitted in milli-units for the caller's lookup
    * table (the p-value series is a scalar the caller can apply).
    *
    * @return 1 row: `n_a`, `n_b`, `d_star` (exact integer numerator),
    *         `d_ppm` (= D in ppm, integer floor), `lambda_milli`
    *         (round via integer floor of λ·1000)
    */
  def ksExact(
      a: DataFrame, b: DataFrame, valueCol: String): DataFrame = {
    val pooled = a.select(col(valueCol).cast("long").as("_v"),
        lit(1L).as("_ca"), lit(0L).as("_cb"))
      .where(col("_v").isNotNull)
      .unionByName(b.select(col(valueCol).cast("long").as("_v"),
        lit(0L).as("_ca"), lit(1L).as("_cb"))
        .where(col("_v").isNotNull))
      .groupBy("_v")
      .agg(sum("_ca").as("_na"), sum("_cb").as("_nb"))
    val ranked = Rank.globalRowNumber(pooled, Seq("_v" -> true), "_rk")
    val cum = Rank.prefixSum(
      Rank.prefixSum(ranked, "_rk", "_na", "_cuma"),
      "_rk", "_nb", "_cumb")
    val totals = pooled.agg(sum("_na").as("n_a"), sum("_nb").as("n_b"))
    cum.crossJoin(broadcast(totals))
      .select(col("n_a"), col("n_b"),
        abs(col("_cuma") * col("n_b") - col("_cumb") * col("n_a"))
          .as("_dstar"))
      .groupBy("n_a", "n_b")
      .agg(max("_dstar").as("d_star"))
      .select(col("n_a"), col("n_b"), col("d_star"),
        expr("(d_star * 1000000) DIV (n_a * n_b)").as("d_ppm"),
        expr("CAST(floor(CAST(d_star AS DOUBLE) / " +
          "(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) * " +
          "sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) / " +
          "(CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))) * 1000.0) " +
          "AS BIGINT)").as("lambda_milli"))
  }

  /** 1-D Wasserstein-1 (earth-mover) distance per group from the same
    * `graft_hist` sketches as [[ksFromHists]]: W₁ = ∫|CDF_A − CDF_B|
    * = Σ_bins |ΔCDF| · binwidth. KS reports only the WORST single
    * gap; EMD integrates the whole displacement, so a distribution
    * that shifted a little everywhere (which KS under-scores) and one
    * with a single spike (which KS over-scores) are ranked by the
    * actual mass×distance to move — the drift scalar a re-balancing
    * job actually pays. Same scale shape as KS: two bounded sketches
    * per group, bucket frames are nbins-sized.
    *
    * @return per group: `n_a`, `n_b`, `emd` (round 4, in VALUE units)
    */
  def emdFromHists(
      a: DataFrame, b: DataFrame, groupCol: String, valueCol: String,
      lo: Double, hi: Double, nbins: Int): DataFrame = {
    val width = (hi - lo) / nbins
    histCdfs(a, b, groupCol, valueCol, lo, hi, nbins)
      .groupBy(col(groupCol), col("n_a"), col("n_b"))
      .agg((round(sum(cdfGap) * lit(width), 4) + lit(0.0)).as("emd"))
      .select(col(groupCol), col("n_a"), col("n_b"), col("emd"))
  }

  /** Embedding centroid drift per group: cosine of each group's mean
    * vector against the corpus mean, plus the norm ratio — the
    * embedding-space analogue of [[jsTokenShift]]: a group whose
    * centroid swings away from (or collapses toward) the corpus
    * centroid has semantically drifted even when its token marginals
    * look stable. A LOW centroid norm relative to members flags
    * internal dispersion (vectors cancelling), which is why the
    * per-group norm is reported too.
    *
    * Scale shape: posexplode to (group, dim, value) and everything
    * after is map-side-combinable sums over a |groups|×dim key space —
    * the embedding matrix itself never collects, never crosses a
    * window, and shuffles once on its own (group, dim) keys. The
    * dim-sized centroid frames self-join only at |groups|×dim grain.
    *
    * @return per group: `n_vecs`, `cos_to_global` (round 6),
    *         `norm` (round 6), `norm_ratio` (round 6, vs the global
    *         centroid norm)
    */
  def centroidDrift(
      df: DataFrame, groupCol: String, vecCol: String): DataFrame = {
    val comps = df
      .select(col(groupCol).as("_g"),
        posexplode(col(vecCol)).as(Seq("_i", "_v")))
      .select(col("_g"), col("_i"), col("_v").cast("double").as("_v"))
    val byGroup = comps.groupBy("_g", "_i")
      .agg(sum("_v").as("_s"), count(lit(1)).as("_n"))
      .select(col("_g"), col("_i"), (col("_s") / col("_n")).as("_c"))
    // Global centroid = mean over ALL vectors, computed directly from
    // the component stream (NOT reconstructed from per-group means:
    // that walks a different floating-point path than the oracle's
    // plain sum/count and can drift in the last ulps).
    val global = comps.groupBy("_i")
      .agg((sum("_v") / count(lit(1))).as("_cg"))
    val dots = byGroup.join(global, Seq("_i"))
      .groupBy("_g")
      .agg(sum(col("_c") * col("_cg")).as("_dot"),
        sum(col("_c") * col("_c")).as("_nn"),
        sum(col("_cg") * col("_cg")).as("_gg"))
    val nvec = df.groupBy(col(groupCol).as("_g"))
      .agg(count(lit(1)).as("n_vecs"))
    nvec.join(dots, Seq("_g"))
      .select(col("_g").as(groupCol), col("n_vecs"),
        round(col("_dot") / (sqrt(col("_nn")) * sqrt(col("_gg"))), 6)
          .as("cos_to_global"),
        round(sqrt(col("_nn")), 6).as("norm"),
        round(sqrt(col("_nn")) / sqrt(col("_gg")), 6).as("norm_ratio"))
  }

  /** The (`_g`, `_b`, `_cnt`) occupied-bin histogram every OT entry
    * point starts from — one map-side-combinable corpus aggregate,
    * checkpointed because each consumer reads it 2–3 times.
    */
  def binCounts(
      df: DataFrame, groupCol: String, valueCol: String,
      lo: Double, hi: Double, nbins: Int): DataFrame = {
    val w = (hi - lo) / nbins
    df.where(col(valueCol).isNotNull)
      .select(col(groupCol).as("_g"),
        least(greatest(floor((col(valueCol).cast("double") - lit(lo))
          / lit(w)), lit(0)), lit(nbins - 1)).cast("long").as("_b"))
      .groupBy("_g", "_b")
      .agg(count(lit(1)).as("_cnt")).transform(Pin.shared)
  }

  /** Entropic optimal-transport (Sinkhorn, Cuturi NeurIPS'13) distance
    * from each group's value distribution to the ALL-GROUPS reference
    * distribution — the principled "how much mass must move, and how
    * far" number where [[ksFromHists]] sees only the worst quantile
    * and PSI ignores the ground metric entirely: a source whose
    * lengths are uniformly 64 chars longer than the corpus scores a
    * small OT cost, while PSI/KS saturate.
    *
    * Scale shape: ONE corpus pass builds the (groups × nbins)
    * histogram (map-side-combinable counts); everything after runs on
    * MODEL-SIZED frames — the B² kernel literal and the groups × B
    * scaling vectors — through `iters` fixed Sinkhorn rounds
    * (u = p ⊘ Kv, v = q ⊘ Kᵀu), each two bounded joins + two
    * combinable aggregates, lineage pinned per round
    * ([[Pin.rebase]]). Nothing data-proportional iterates.
    *
    * Determinism: the kernel `exp(−|i−j| / ((B−1)·eps))` and all
    * scaling arithmetic are fixed-shape double expressions an
    * external engine replays (q118's GD-loop precedent); only the
    * emitted cost is rounded. Empty bins carry zero mass: `0/x = 0`
    * guards keep u, v finite (K > 0 everywhere, so no 0-denominator
    * exists on occupied bins).
    *
    * @return one row per group: groupCol, `n` (values binned),
    *         `ot_cost` (Σ u_i K_ij v_j c_ij, c normalized to [0,1],
    *         round 6)
    */
  def sinkhornToReference(
      df: DataFrame, groupCol: String, valueCol: String,
      lo: Double, hi: Double, nbins: Int,
      eps: Double = 0.1, iters: Int = 8): DataFrame = {
    require(nbins >= 2 && eps > 0 && iters >= 1,
      s"nbins >= 2, eps > 0, iters >= 1: $nbins, $eps, $iters")
    val cnts = binCounts(df, groupCol, valueCol, lo, hi, nbins)
    sinkhornFromHists(
        cnts, cnts.groupBy("_b").agg(sum("_cnt").as("_cnt")),
        nbins, eps, iters)
      .withColumnRenamed("_g", groupCol)
  }

  /** [[sinkhornToReference]] with EXPLICIT histograms — the form a
    * monitoring path uses when the reference lives in the persisted
    * hist-partials index instead of being re-derived from the corpus
    * (fold the stored partials per bin, rebin if coarser bins are
    * wanted, and pass them as `refHist`). `hist` is (`_g`, `_b`,
    * `_cnt`) per group; `refHist` is (`_b`, `_cnt`). Bins must index
    * the SAME [0, nbins) domain on both sides.
    *
    * @return one row per group: `_g`, `n` (group mass), `ot_cost`
    */
  def sinkhornFromHists(
      hist: DataFrame, refHist: DataFrame, nbins: Int,
      eps: Double = 0.1, iters: Int = 8): DataFrame = {
    require(nbins >= 2 && eps > 0 && iters >= 1,
      s"nbins >= 2, eps > 0, iters >= 1: $nbins, $eps, $iters")
    val spark = hist.sparkSession
    val cnts = hist.select(col("_g"), col("_b"), col("_cnt"))
      .transform(Pin.shared)
    val p = cnts.withColumn("_m",
      col("_cnt").cast("double") /
        sum("_cnt").over(Window.partitionBy("_g")))
    val totals = refHist.groupBy().agg(sum("_cnt").as("_tot"))
    val q = refHist
      .crossJoin(broadcast(totals))
      .select(col("_b").as("_j"),
        (col("_cnt").cast("double") / col("_tot").cast("double"))
          .as("_qm"))
      .transform(Pin.shared)
    // The B² kernel literal: both engines evaluate exp on the same
    // IEEE argument, so the tables agree to the ulp. Stays a
    // LocalRelation — checkpointing a driver-literal frame only costs
    // an action.
    import spark.implicits._
    val kernel = (0 until nbins).flatMap { i =>
      (0 until nbins).map { j =>
        val c = math.abs(i - j).toDouble / (nbins - 1)
        (i.toLong, j.toLong, math.exp(-c / eps), c)
      }
    }.toDF("_i", "_j", "_kk", "_c")
    val pm = p.select(col("_g"), col("_b").as("_i"), col("_m"))
      .transform(Pin.shared)
    var v = cnts.select("_g").distinct()
      .crossJoin(q.select("_j")).withColumn("_vv", lit(1.0))
    def uFrom(vCur: DataFrame): DataFrame = {
      val kv = vCur.join(kernel, Seq("_j"))
        .groupBy("_g", "_i").agg(sum(col("_kk") * col("_vv")).as("_s"))
      pm.join(kv, Seq("_g", "_i"))
        .select(col("_g"), col("_i"),
          when(col("_m") > 0, col("_m") / col("_s")).otherwise(lit(0.0))
            .as("_uu"))
    }
    for (it <- 1 to iters) {
      val ktu = uFrom(v).join(kernel, Seq("_i"))
        .groupBy("_g", "_j").agg(sum(col("_kk") * col("_uu")).as("_s2"))
      val next = ktu.join(q, Seq("_j"))
        .select(col("_g"), col("_j"),
          when(col("_qm") > 0, col("_qm") / col("_s2"))
            .otherwise(lit(0.0)).as("_vv"))
      // The v-chain is LINEAR (each round consumes v once), so a
      // per-round pin would be one action per round for nothing. Pin
      // every 4th round to bound plan depth, and on the last round
      // because the cost expression consumes the final v twice.
      v = if (it % 4 == 0 || it == iters) Pin.rebase(next) else next
    }
    val cost = uFrom(v).join(kernel, Seq("_i"))
      .join(v, Seq("_g", "_j"))
      .groupBy("_g")
      .agg(sum(col("_uu") * col("_kk") * col("_vv") * col("_c"))
        .as("_cost"))
    val ns = cnts.groupBy("_g").agg(sum("_cnt").as("n"))
    ns.join(cost, Seq("_g"))
      .select(col("_g"), col("n"),
        (round(col("_cost"), 6) + lit(0.0)).as("ot_cost"))
  }

  /** Entropic Wasserstein-2 BARYCENTER of the per-group distributions
    * (Benamou–Carlier–Cuturi–Nenna–Peyré '15, iterative Bregman
    * projections) — the principled TARGET profile for mixture
    * rebalancing: the distribution closest in transport cost to every
    * source simultaneously, where the naive pooled average just
    * mirrors whichever source has the most rows. Equal weights
    * (1/|groups|) per source. The ground cost is SQUARED bin distance
    * (W2): under the linear W1 cost the barycenter of two point
    * masses is any point between them (the whole geodesic ties), so
    * the iterates collapse arbitrarily; W2 makes it uniquely the
    * midpoint — geometric interpolation, the property the mixture
    * planner wants.
    *
    * Per round (all frames groups × bins or bins-sized, never
    * row-proportional):  u_k = p_k ⊘ K v_k;
    * ln b = Σ_k w·ln(Kᵀu_k · v_k)  (the weighted geometric mean — the
    * v_k factor keeps the mean over the CURRENT projections);
    * v_k = v_k · b ⊘ (Kᵀu_k · v_k). Initial v_k = 1. Every step is a
    * fixed-shape double expression (exp/ln/division), so an external
    * engine replays the trajectory exactly (q368's parity precedent).
    *
    * @return one row per bin: `b`, `bary` (barycenter mass, round 6),
    *         `pooled` (the naive all-rows histogram mass, round 6,
    *         for contrast)
    */
  def sinkhornBarycenter(
      df: DataFrame, groupCol: String, valueCol: String,
      lo: Double, hi: Double, nbins: Int,
      eps: Double = 0.1, iters: Int = 8): DataFrame = {
    require(nbins >= 2 && eps > 0 && iters >= 1,
      s"nbins >= 2, eps > 0, iters >= 1: $nbins, $eps, $iters")
    val spark = df.sparkSession
    val cnts = binCounts(df, groupCol, valueCol, lo, hi, nbins)
    // DENSE per-group mass: missing bins as explicit zeros — the
    // geometric mean needs every (group, bin) cell present.
    import spark.implicits._
    // bins is a driver literal (LocalRelation) and groups a one-join
    // derivation of the checkpointed counts — neither is worth an
    // eager checkpoint action.
    val bins = (0L until nbins.toLong).toDF("_b")
    val groups = cnts.select("_g").distinct()
    val p = groups.crossJoin(bins)
      .join(cnts, Seq("_g", "_b"), "left")
      .select(col("_g"), col("_b"),
        (coalesce(col("_cnt"), lit(0L)).cast("double") /
          sum(coalesce(col("_cnt"), lit(0L)))
            .over(Window.partitionBy("_g"))).as("_m"))
      .transform(Pin.shared)
    val kernel = (0 until nbins).flatMap { i =>
      (0 until nbins).map { j =>
        val c = math.abs(i - j).toDouble / (nbins - 1)
        (i.toLong, j.toLong, math.exp(-c * c / eps))
      }
    }.toDF("_i", "_j", "_kk")
    // v_k dense over (group, bin), init 1.
    var v = groups.crossJoin(bins.select(col("_b").as("_j")))
      .withColumn("_vv", lit(1.0))
    var bary: DataFrame = null
    for (it <- 1 to iters) {
      val kv = v.join(kernel, Seq("_j"))
        .groupBy("_g", "_i").agg(sum(col("_kk") * col("_vv")).as("_s"))
      val u = p.select(col("_g"), col("_b").as("_i"), col("_m"))
        .join(kv, Seq("_g", "_i"))
        .select(col("_g"), col("_i"),
          when(col("_m") > 0, col("_m") / col("_s")).otherwise(lit(0.0))
            .as("_uu"))
      // phi_k = (K^T u_k) * v_k — each group's current projection onto
      // the barycenter marginal; all strictly positive when any mass
      // exists (K > 0), so the ln is total on real corpora. Left lazy:
      // it is groups × bins sized and consumed twice inside the SAME
      // round plan, and the per-round v pin below bounds the
      // replication at one round's depth, so a pin of its own would
      // buy nothing but a job.
      val phi = u.join(kernel, Seq("_i"))
        .groupBy("_g", "_j").agg(sum(col("_kk") * col("_uu")).as("_kt"))
        .join(v, Seq("_g", "_j"))
        .select(col("_g"), col("_j"), (col("_kt") * col("_vv")).as("_phi"),
          col("_kt"))
      val b = phi.groupBy("_j")
        .agg(exp(avg(log(col("_phi")))).as("_bm"))
      bary = b
      // v_k ← v_k · b ⊘ φ_k, and φ_k = v_k · Kᵀu_k, so v_k = b ⊘ Kᵀu_k.
      v = Pin.loop(it, phi.join(b, Seq("_j"))
        .select(col("_g"), col("_j"),
          (col("_bm") / col("_kt")).as("_vv")))
    }
    val pooled = cnts.groupBy(col("_b"))
      .agg(sum("_cnt").as("_pc"))
    val poolTot = cnts.groupBy().agg(sum("_cnt").as("_pt"))
    bins.join(bary.withColumnRenamed("_j", "_b"), Seq("_b"), "left")
      .join(pooled, Seq("_b"), "left")
      .crossJoin(broadcast(poolTot))
      .select(col("_b").as("b"),
        (round(coalesce(col("_bm"), lit(0.0)), 6) + lit(0.0)).as("bary"),
        (round(coalesce(col("_pc"), lit(0L)).cast("double") /
          col("_pt").cast("double"), 6) + lit(0.0)).as("pooled"))
  }
}
