package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Split conformal prediction (Vovk et al.; Lei et al. JASA 2018):
  * wrap ANY point predictor in a distribution-free interval with
  * finite-sample coverage ≥ 1 − α. Here the predictor is the
  * group-conditional mean learned on a calibration split; the
  * conformity score is the absolute residual; the radius q̂ is the
  * ⌈(n+1)(1−α)⌉-th smallest calibration residual — an EXACT order
  * statistic, not an interpolated percentile, because the coverage
  * guarantee is stated in terms of that rank.
  *
  * Scale shape: the split is a portable hash bit (no sampling state),
  * the predictor is one combinable group aggregate broadcast back,
  * and the order statistic comes from [[Rank.globalRowNumber]] — a
  * distributed range-partitioned sort, never a single-task
  * `Window.orderBy` over the residual frame (the q214 lesson). The
  * 1-row q̂ frame broadcasts into the evaluation pass. Residuals are
  * exact integer micro-units end-to-end; doubles only in the report.
  */
object Conformal {

  /** @param df       input frame
    * @param idCol    unique row id (split hashing + rank tie-break)
    * @param groupCol predictor conditioning column
    * @param valueCol numeric response (snapped to micro-units)
    * @param alphaPpm miscoverage α in ppm (e.g. 100000 = 10%)
    * @return 1 row: `n_cal`, `n_eval` (evaluation rows whose group
    *         HAS a calibration predictor — rows in groups unseen at
    *         calibration time carry no interval and are counted in
    *         `n_eval_dropped` instead of silently vanishing),
    *         `n_eval_dropped`, `k` (the order-statistic rank), `q`
    *         (interval half-width, round 6), `n_covered`,
    *         `coverage_ppm` (integer floor; null when n_eval = 0),
    *         `target_ppm` (= 1e6 − alphaPpm), `mean_width` (round 6,
    *         = 2q̂). Degenerate splits (empty calibration half) still
    *         emit the 1-row report, with null k/q/coverage.
    */
  def splitConformalMean(
      df: DataFrame, idCol: String, groupCol: String, valueCol: String,
      alphaPpm: Long): DataFrame = {
    require(alphaPpm > 0 && alphaPpm < 1000000L,
      s"alphaPpm in (0, 1e6): $alphaPpm")
    // round-then-cast (HALF_UP, the house cents convention) so the
    // DuckDB oracle's CAST(round(v*1e6) AS BIGINT) lands on the
    // identical integer — a bare double→long cast truncates in Spark
    // but ROUNDS in DuckDB.
    val in = df.select(col(idCol).as("_id"), col(groupCol).as("_g"),
        round(col(valueCol).cast("double") * 1e6).cast("long").as("_v"))
      .where(col("_v").isNotNull)
      // Calibration = even portable-hash parity; consumed by both
      // halves of the protocol, pin the scan.
      .withColumn("_cal",
        pmod(graft.functions.Hashing.portableHash(
          col("_id").cast("string")), lit(2L)) === 0L)
      .transform(Pin.shared)
    val mu = in.where(col("_cal"))
      .groupBy("_g")
      // Predictor mean floors to integer micro-units so both engines
      // carry the identical model.
      .agg(expr("sum(_v) DIV count(1)").as("_mu"))
    val calRes = in.where(col("_cal"))
      .join(broadcast(mu), Seq("_g"))
      .select(col("_id"), abs(col("_v") - col("_mu")).as("_r"))
    val nCal = calRes.agg(count(lit(1)).as("n_cal"))
    // k = ceil((n_cal + 1) * (1 - alpha)); clamp to n_cal (small-n
    // degenerate case where the guarantee needs the +inf interval —
    // we report the max residual instead and the coverage shows it).
    val ranked = Rank.globalRowNumber(
      calRes, Seq("_r" -> true, "_id" -> true), "_rk")
    val qrow = ranked.crossJoin(broadcast(nCal))
      // ceil(a/b) as exact int64: (a + b − 1) DIV b.
      .withColumn("_k",
        least(col("n_cal"),
          expr(s"((n_cal + 1) * ${1000000L - alphaPpm}L + 999999L)" +
            " DIV 1000000L")))
      .where(col("_rk") === col("_k"))
      .select(col("_k").as("k"), col("_r").as("_q"))
    // 1-row always: an empty calibration half leaves k/q null instead
    // of collapsing the whole report to 0 rows.
    val qhat = nCal.join(broadcast(qrow), lit(true), "left")
    val eval = in.where(!col("_cal"))
      // LEFT join: eval rows in groups with no calibration predictor
      // are COUNTED (n_eval_dropped), never silently discarded.
      .join(broadcast(mu), Seq("_g"), "left")
      .crossJoin(broadcast(qhat))
      .agg(first(col("n_cal")).as("n_cal"), first(col("k")).as("k"),
        first(col("_q")).as("_q"),
        coalesce(sum(when(col("_mu").isNotNull, 1L).otherwise(0L)),
          lit(0L)).as("n_eval"),
        coalesce(sum(when(col("_mu").isNull, 1L).otherwise(0L)),
          lit(0L)).as("n_eval_dropped"),
        coalesce(sum(when(col("_mu").isNotNull &&
            abs(col("_v") - col("_mu")) <= col("_q"), 1L)
          .otherwise(0L)), lit(0L)).as("n_covered"))
    eval.select(col("n_cal"), col("n_eval"), col("n_eval_dropped"),
      col("k"),
      round(col("_q").cast("double") / 1e6, 6).as("q"),
      col("n_covered"),
      expr("CASE WHEN n_eval > 0 THEN" +
        " (n_covered * 1000000) DIV n_eval END").as("coverage_ppm"),
      lit(1000000L - alphaPpm).as("target_ppm"),
      round(col("_q").cast("double") * 2.0 / 1e6, 6).as("mean_width"))
  }
}
