package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Training-mixture planner: temperature-α source weights (the
  * multilingual/multi-source sampling rule of mBERT/XLM-R and the
  * Pile — sample source i with p_i ∝ c_i^α, α ∈ [0, 1] flattening
  * the head so small sources are not drowned), with an epoch-cap
  * audit: any source whose plan implies more than `maxEpochs` passes
  * over its data is flagged and clipped, and the clipped token mass
  * is reported so the shortfall is visible instead of silently
  * re-absorbed.
  *
  * Scale shape: the input is already source-grain (one combinable
  * count aggregate upstream); everything here is arithmetic over the
  * leaderboard-sized source frame plus one 1-row normalization
  * broadcast. Exact-integer discipline where it matters: token counts
  * and clipped budgets stay int64 (floor semantics documented);
  * doubles appear in the α-power weights only.
  */
object Mixing {

  /** @param df           source-grain frame: (sourceCol, tokensCol)
    * @param alpha        sampling temperature (1 = proportional,
    *                     0 = uniform)
    * @param targetTokens total training-token budget to apportion
    * @param maxEpochs    max passes over any single source's data
    * @return one row per source: `source`, `tokens`, `weight` (round
    *         6, sums to 1), `planned_tokens` (floor of T·p_i),
    *         `epochs` (round 4), `capped` (epochs > maxEpochs),
    *         `granted_tokens` (planned, clipped at maxEpochs·tokens),
    *         `shortfall_tokens` (planned − granted)
    */
  def temperaturePlan(
      df: DataFrame, sourceCol: String, tokensCol: String,
      alpha: Double, targetTokens: Long, maxEpochs: Double): DataFrame = {
    require(alpha >= 0.0 && alpha <= 1.0, s"alpha in [0,1]: $alpha")
    require(targetTokens > 0, s"targetTokens must be positive")
    require(maxEpochs > 0, s"maxEpochs must be positive")
    val base = df.select(col(sourceCol).as("source"),
        col(tokensCol).cast("long").as("tokens"))
      .where(col("tokens") > 0L)
    val weighted = base.withColumn("_wgt",
      pow(col("tokens").cast("double"), lit(alpha)))
    val z = weighted.agg(sum("_wgt").as("_z"))
    weighted.crossJoin(broadcast(z))
      .withColumn("weight_raw", col("_wgt") / col("_z"))
      .withColumn("planned_tokens",
        floor(lit(targetTokens.toDouble) * col("weight_raw")).cast("long"))
      .withColumn("epochs_raw",
        col("planned_tokens").cast("double") / col("tokens").cast("double"))
      .withColumn("capped", col("epochs_raw") > maxEpochs)
      .withColumn("granted_tokens",
        when(col("capped"),
          floor(lit(maxEpochs) * col("tokens").cast("double")).cast("long"))
          .otherwise(col("planned_tokens")))
      .select(col("source"), col("tokens"),
        round(col("weight_raw"), 6).as("weight"),
        col("planned_tokens"),
        round(col("epochs_raw"), 4).as("epochs"),
        col("capped"), col("granted_tokens"),
        (col("planned_tokens") - col("granted_tokens"))
          .as("shortfall_tokens"))
  }

  /** Iterative proportional fitting (raking, Deming–Stephan 1940):
    * reweight a two-way (row × col) composition so BOTH marginals hit
    * caller targets — the corpus-rebalancing move when you must match
    * a target language mix WITHOUT changing each language's source
    * profile more than necessary (IPF is the minimum-KL such
    * adjustment). Alternate row- and column-scaling for a fixed
    * number of rounds; with fixed rounds the result is deterministic
    * and the oracle replays it exactly.
    *
    * Integer-exact throughout: cell masses live in ppb of the corpus
    * (int64), each scaling is `(w · target) DIV marginal-mass` —
    * products stay ≤ 1e18 < 2^63. Cells below 1 ppb floor to 0 and
    * stay there (documented: raking a cell that is < 10⁻⁹ of the
    * corpus is noise at any realistic grain).
    *
    * Scale shape: ONE (row × col) count aggregate over the data; all
    * `rounds` iterations run on that grid frame with leaderboard-sized
    * marginal broadcasts — the corpus is never touched again.
    *
    * @param rowTargets (row value, target ppb) — rows absent here get
    *                   target 0 and rake to nothing; targets should
    *                   sum to ~1e9
    * @param colTargets same for the column marginal
    * @return per cell: rowCol, colCol, `n`, `n_ppb` (observed),
    *         `w_ppb` (raked), plus on every row `row_dev_ppb` /
    *         `col_dev_ppb` (max |achieved − target| over the
    *         respective marginal after the last round)
    */
  def ipfRake(
      df: DataFrame, rowCol: String, colCol: String,
      rowTargets: Seq[(String, Long)], colTargets: Seq[(String, Long)],
      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 30, s"rounds in [1,30]: $rounds")
    val spark = df.sparkSession
    import spark.implicits._
    val rt = broadcast(rowTargets.toDF(rowCol, "_rt"))
    val ct = broadcast(colTargets.toDF(colCol, "_ct"))
    val cells = df.groupBy(col(rowCol), col(colCol))
      .agg(count(lit(1)).as("n"))
    val total = cells.agg(sum("n").as("_tot"))
    var w = cells.crossJoin(broadcast(total))
      .withColumn("w_ppb", expr("(n * 1000000000) DIV _tot"))
      .drop("_tot")
      .withColumn("n_ppb", col("w_ppb"))
      .transform(Pin.shared)
    for (_ <- 0 until rounds) {
      val rm = w.groupBy(rowCol).agg(sum("w_ppb").as("_rm"))
      w = w.join(broadcast(rm), Seq(rowCol))
        .join(rt, Seq(rowCol), "left")
        .withColumn("w_ppb",
          when(col("_rm") > 0L,
            expr("(w_ppb * coalesce(_rt, 0)) DIV _rm")).otherwise(0L))
        .drop("_rm", "_rt")
      val cm = w.groupBy(colCol).agg(sum("w_ppb").as("_cm"))
      w = w.join(broadcast(cm), Seq(colCol))
        .join(ct, Seq(colCol), "left")
        .withColumn("w_ppb",
          when(col("_cm") > 0L,
            expr("(w_ppb * coalesce(_ct, 0)) DIV _cm")).otherwise(0L))
        .drop("_cm", "_ct")
      // Each round reads `w` TWICE (marginal + rescale join), so the
      // un-pinned logical plan doubles per half-round — the measured
      // exponential-planning trap. Grid state is model-sized: pin
      // every round (see Pin's doc).
      w = Pin.rebase(w)
    }
    val rowDev = w.groupBy(rowCol).agg(sum("w_ppb").as("_am"))
      .join(rt, Seq(rowCol), "left")
      .agg(max(abs(col("_am") - coalesce(col("_rt"), lit(0L))))
        .as("row_dev_ppb"))
    val colDev = w.groupBy(colCol).agg(sum("w_ppb").as("_am"))
      .join(ct, Seq(colCol), "left")
      .agg(max(abs(col("_am") - coalesce(col("_ct"), lit(0L))))
        .as("col_dev_ppb"))
    w.crossJoin(broadcast(rowDev)).crossJoin(broadcast(colDev))
      .select(col(rowCol), col(colCol), col("n"), col("n_ppb"),
        col("w_ppb"), col("row_dev_ppb"), col("col_dev_ppb"))
  }
}
