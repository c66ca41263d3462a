package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A/B experiment readout with CUPED variance reduction (Deng et al.
  * WSDM'13): Welch-style t on the raw per-user metric, then the same
  * contrast on y − θ·(x − x̄) where x is a pre-experiment covariate
  * and θ = cov(x,y)/var(x) pooled over all users. CUPED removes the
  * variance the covariate explains (θ is the OLS slope), tightening
  * the same experiment without touching assignment.
  *
  * Determinism contract: per-user metrics arrive as exact integer
  * cents, every per-arm moment (Σy, Σy², Σx, Σxy, Σx², n) is an
  * exact 64-bit integer sum — the ONLY order-sensitive step is made
  * order-free — and all ratio math runs in double on those exact
  * sums with a fixed expression shape, so an external engine
  * reproduces t, θ, and the adjusted means bit-for-bit. The data
  * shuffles once (user grain) then once more to the 2-row arm frame;
  * every window below runs on those 2 rows.
  */
object Experiment {

  /** @param perUser columns `arm` (0/1), `x`, `y` — integer cents
    * @return one row per arm: n, mean_y, var_y, mean_adj, var_adj
    *         (dollar units), plus experiment-level theta, t_raw,
    *         t_cuped repeated on both rows
    */
  def cupedReport(perUser: DataFrame): DataFrame = {
    val arms = perUser.groupBy("arm").agg(
      count(lit(1)).as("n"),
      sum("y").as("sy"), sum(col("y") * col("y")).as("syy"),
      sum("x").as("sx"), sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"))
    val all = Window.partitionBy()
    def d(c: String) = col(c).cast("double")
    val nD = d("n")
    val meanY = d("sy") / (nD * lit(100.0))
    val meanX = d("sx") / (nD * lit(100.0))
    val varY = (d("syy") - d("sy") * d("sy") / nD) /
      ((nD - lit(1.0)) * lit(10000.0))
    val varX = (d("sxx") - d("sx") * d("sx") / nD) /
      ((nD - lit(1.0)) * lit(10000.0))
    val covXY = (d("sxy") - d("sx") * d("sy") / nD) /
      ((nD - lit(1.0)) * lit(10000.0))
    val withPool = arms
      .withColumn("_tn", sum("n").over(all).cast("double"))
      .withColumn("_tsx", sum("sx").over(all).cast("double"))
      .withColumn("_tsy", sum("sy").over(all).cast("double"))
      .withColumn("_tsxx", sum("sxx").over(all).cast("double"))
      .withColumn("_tsxy", sum("sxy").over(all).cast("double"))
    val theta = (col("_tsxy") - col("_tsx") * col("_tsy") / col("_tn")) /
      (col("_tsxx") - col("_tsx") * col("_tsx") / col("_tn"))
    val poolMeanX = col("_tsx") / (col("_tn") * lit(100.0))
    val staged = withPool
      .withColumn("_theta", theta)
      .withColumn("_mean_y", meanY)
      .withColumn("_var_y", varY)
      .withColumn("_mean_adj",
        meanY - col("_theta") * (meanX - poolMeanX))
      .withColumn("_var_adj",
        varY - lit(2.0) * col("_theta") * covXY +
          col("_theta") * col("_theta") * varX)
    val signed = when(col("arm") === 1, lit(1.0)).otherwise(lit(-1.0))
    // Zero standard error (degenerate zero-variance arms) → null t,
    // not an ANSI divide-by-zero.
    def tStat(meanCol: String, varCol: String): Column = {
      val se = sqrt(sum(col(varCol) / nD).over(all))
      when(se > 0.0, sum(signed * col(meanCol)).over(all) / se)
    }
    staged
      .withColumn("_t_raw", tStat("_mean_y", "_var_y"))
      .withColumn("_t_cuped", tStat("_mean_adj", "_var_adj"))
      .select(col("arm"), col("n"),
        round(col("_mean_y"), 4).as("mean_y"),
        round(col("_var_y"), 4).as("var_y"),
        round(col("_mean_adj"), 4).as("mean_adj"),
        round(col("_var_adj"), 4).as("var_adj"),
        round(col("_theta"), 6).as("theta"),
        round(col("_t_raw"), 4).as("t_raw"),
        round(col("_t_cuped"), 4).as("t_cuped"))
  }

  /** Difference-in-differences readout: the causal contrast for a
    * treatment that switches ON at a known time — DiD = (treat_post −
    * treat_pre) − (control_post − control_pre) nets out both the
    * group baseline and the common time trend (the two confounders a
    * naive post-only compare absorbs). SE from the four independent
    * cell variances (unequal-variance, Welch-style).
    *
    * Exactness: per-cell n/Σx/Σx² are exact integer sums (integer
    * metric units in); all ratios are fixed-shape doubles over them.
    * One shuffle to the 4-cell frame; everything after is 4 rows.
    *
    * @param df rows with `armCol` (0/1), `postCol` (0/1), integer
    *           `valueCol`
    * @return one row: n00/n01/n10/n11 (arm,post), mean00..mean11
    *         (round 4), `did` (round 4), `se` (round 4), `t`
    *         (round 4; null if se is 0)
    */
  def diffInDiff(
      df: DataFrame, armCol: String, postCol: String,
      valueCol: String): DataFrame = {
    val x = col(valueCol).cast("long")
    val cells = df.where(x.isNotNull)
      .groupBy(col(armCol).cast("int").as("arm"),
        col(postCol).cast("int").as("post"))
      .agg(count(lit(1)).as("n"), sum(x).as("sx"),
        sum(x * x).as("sxx"))
    def d(c: Column) = c.cast("double")
    val withM = cells
      .withColumn("mean", d(col("sx")) / d(col("n")))
      .withColumn("von", (d(col("sxx")) - d(col("sx")) * d(col("sx")) /
        d(col("n"))) / (d(col("n")) * (d(col("n")) - lit(1.0))))
    def cell(a: Int, p: Int, c: String, as: String) = withM
      .where(col("arm") === a && col("post") === p)
      .select(col("n").as(s"n$a$p"), col(c).as(as))
    val j = cell(0, 0, "mean", "m00")
      .crossJoin(cell(0, 1, "mean", "m01"))
      .crossJoin(cell(1, 0, "mean", "m10"))
      .crossJoin(cell(1, 1, "mean", "m11"))
      .crossJoin(withM.agg(sum("von").as("_sevar")))
    val did = (col("m11") - col("m10")) - (col("m01") - col("m00"))
    val se = sqrt(col("_sevar"))
    j.select(col("n00"), col("n01"), col("n10"), col("n11"),
      round(col("m00"), 4).as("mean00"), round(col("m01"), 4).as("mean01"),
      round(col("m10"), 4).as("mean10"), round(col("m11"), 4).as("mean11"),
      (round(did, 4) + lit(0.0)).as("did"),
      round(se, 4).as("se"),
      (round(when(se > 0.0, did / se), 4) + lit(0.0)).as("t"))
  }

  /** Post-stratified treatment effect: the per-stratum contrasts
    * weighted by stratum SHARE — the estimator that stays unbiased
    * when arm balance differs across strata (the pooled diff mixes
    * stratum composition into the effect; [[simpsonScan]] detects
    * that failure, this fixes it). SE from the within-stratum Welch
    * variances, share-weighted.
    *
    * Exactness: integer moments per (stratum, arm); shares are exact
    * integer ratios; one fixed-shape double expression per output
    * column.
    *
    * @return per stratum: n0, n1, `share_ppm` (integer), `diff`
    *         (round 4), plus the pooled post-stratified `effect`
    *         (round 4, repeated) and its `se` (round 4, repeated)
    */
  def postStratified(
      df: DataFrame, strataCol: String, armCol: String,
      valueCol: String): DataFrame = {
    val x = col(valueCol).cast("long")
    val cells = df.where(x.isNotNull)
      .select(col(strataCol).as("s"), col(armCol).cast("int").as("arm"),
        x.as("x"))
      .groupBy("s", "arm")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum(col("x") * col("x")).as("sxx"))
    def d(c: Column) = c.cast("double")
    val per = cells
      .withColumn("mean", d(col("sx")) / d(col("n")))
      .withColumn("von", (d(col("sxx")) - d(col("sx")) * d(col("sx")) /
        d(col("n"))) / (d(col("n")) * (d(col("n")) - lit(1.0))))
    val a0 = per.where(col("arm") === 0)
      .select(col("s"), col("n").as("n0"), col("mean").as("m0"),
        col("von").as("v0"))
    val a1 = per.where(col("arm") === 1)
      .select(col("s"), col("n").as("n1"), col("mean").as("m1"),
        col("von").as("v1"))
    val strata = a0.join(a1, Seq("s"))
      .withColumn("n_s", col("n0") + col("n1"))
      .transform(Pin.shared)
    val tot = strata.agg(sum("n_s").as("_nt"))
    val staged = strata.crossJoin(broadcast(tot))
      .withColumn("_w", d(col("n_s")) / d(col("_nt")))
      .withColumn("_d", col("m1") - col("m0"))
      .withColumn("_wd_n", round(col("_w") * col("_d") * lit(1e6))
        .cast("long"))
      .withColumn("_wv_n", round(col("_w") * col("_w") *
        (col("v0") + col("v1")) * lit(1e9)).cast("long"))
      .transform(Pin.shared)
    val pooled = staged.agg(sum("_wd_n").as("_e"), sum("_wv_n").as("_v"))
    staged.crossJoin(broadcast(pooled))
      .select(col("s"), col("n0"), col("n1"),
        expr("(n_s * 1000000) DIV _nt").as("share_ppm"),
        (round(col("_d"), 4) + lit(0.0)).as("diff"),
        (round(col("_e").cast("double") / lit(1e6), 4) + lit(0.0))
          .as("effect"),
        round(sqrt(col("_v").cast("double") / lit(1e9)), 4).as("se"))
  }

  /** Simpson's-paradox detector: compare the pooled two-group mean
    * difference against the SAME difference inside each stratum and
    * flag strata whose sign reverses — the classic signal that the
    * pooled readout is confounded by stratum mix, not a real effect.
    *
    * Exactness: integer moments per (stratum, arm); `reversed` is the
    * product-sign test diff_s · diff_pooled < 0 on the unrounded
    * doubles both engines derive from the same integer sums.
    *
    * @return per stratum: n0, n1, mean0, mean1 (round 4), `diff`
    *         (round 4), `pooled_diff` (round 4, repeated),
    *         `reversed` (int 0/1)
    */
  def simpsonScan(
      df: DataFrame, strataCol: String, armCol: String,
      valueCol: String): DataFrame = {
    val x = col(valueCol).cast("long")
    val in = df.where(x.isNotNull)
      .select(col(strataCol), col(armCol).cast("int").as("arm"),
        x.as("x"))
    val byStrata = in.groupBy(strataCol, "arm")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"))
    def d(c: Column) = c.cast("double")
    def side(a: Int, pfx: String) = byStrata.where(col("arm") === a)
      .select(col(strataCol), col("n").as(s"n$a"),
        (d(col("sx")) / d(col("n"))).as(s"${pfx}"))
    val pooled = in.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"))
      .withColumn("m", d(col("sx")) / d(col("n")))
    val pDiff = pooled.where(col("arm") === 1).select(col("m").as("p1"))
      .crossJoin(pooled.where(col("arm") === 0).select(col("m").as("p0")))
      .select((col("p1") - col("p0")).as("_pooled"))
    side(0, "m0").join(side(1, "m1"), Seq(strataCol))
      .crossJoin(broadcast(pDiff))
      .select(col(strataCol), col("n0"), col("n1"),
        round(col("m0"), 4).as("mean0"), round(col("m1"), 4).as("mean1"),
        (round(col("m1") - col("m0"), 4) + lit(0.0)).as("diff"),
        (round(col("_pooled"), 4) + lit(0.0)).as("pooled_diff"),
        when((col("m1") - col("m0")) * col("_pooled") < 0.0, 1)
          .otherwise(0).as("reversed"))
  }
}
