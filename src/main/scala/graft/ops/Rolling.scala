package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trailing-window (range-frame) statistics over an event stream —
  * the batch form of the per-entity rolling features every telemetry /
  * fraud / monitoring pipeline computes: "this user's event count,
  * mean and z-score over the last hour, as of each event". A range
  * frame (value-based, `[t - window, t]`) rather than a row frame:
  * row frames silently change meaning with event density, and range
  * frames are deterministic under timestamp ties (all tied rows are in
  * or out together, regardless of physical order).
  *
  * Scale shape: one shuffle by entity + a per-entity time sort — the
  * same cost as any per-key sessionization; entities are numerous and
  * bounded (a user's events fit an executor), so the window partition
  * is safe. The frame is expressed over `unix_micros`, which Spark's
  * range-frame machinery requires to be numeric; inclusive bounds on
  * both engines.
  */
object Rolling {

  /** Per-entity trailing stats at each event.
    *
    * @param windowSec trailing window width in seconds (inclusive:
    *                  rows at exactly `t - windowSec` count)
    * @return input keys plus `n_win` (events in window, incl. current),
    *         `avg_win`, `z` — the current value's z-score against the
    *         window (null when the window has <2 events or zero
    *         variance), rounded to 4
    */
  def trailingStats(
      events: DataFrame, keyCol: String, tsCol: String, valueCol: String,
      windowSec: Long): DataFrame = {
    require(windowSec > 0, s"window must be positive: $windowSec")
    val emitted = Seq("n_win", "avg_win", "z")
    require(emitted.forall(c => !events.columns.contains(c)),
      s"trailingStats emits $emitted: rename colliding input columns first")
    val w = Window.partitionBy(keyCol)
      .orderBy(col("_micros"))
      .rangeBetween(-windowSec * 1000000L, 0L)
    events
      // cast handles TIMESTAMP_NTZ inputs (session tz is UTC, so the
      // instant is unchanged); unix_micros itself wants TIMESTAMP
      .withColumn("_micros", unix_micros(col(tsCol).cast("timestamp")))
      .withColumn("n_win", count(col(valueCol)).over(w))
      .withColumn("avg_win", avg(col(valueCol)).over(w))
      .withColumn("_sd", stddev_samp(col(valueCol)).over(w))
      .withColumn("z",
        when(col("n_win") >= 2 && col("_sd") > 0,
          (col(valueCol) - col("avg_win")) / col("_sd")))
      .withColumn("avg_win", round(col("avg_win"), 4))
      .withColumn("z", round(col("z"), 4))
      .drop("_micros", "_sd")
  }

  /** Forward-fill (R `na.locf` / pandas `ffill`): replace each null in
    * `valueCols` with the most recent non-null value within the
    * partition, ordered by `orderCols` — the standard gap-repair step
    * for sensor/price/telemetry series before resampling or joins.
    * Leading nulls (no prior observation) stay null.
    *
    * Scale shape: one window per partition key, ordered rows frame —
    * the partition key keeps the corpus off a single task; all
    * `valueCols` share the same window spec so Catalyst collapses
    * them into ONE Window operator (one sort, not one per column).
    */
  def forwardFill(
      df: DataFrame, partCols: Seq[String], orderCols: Seq[String],
      valueCols: Seq[String]): DataFrame = {
    require(partCols.nonEmpty,
      "forwardFill requires partition keys: an unpartitioned ordered " +
        "window moves the whole dataset to one task")
    require(orderCols.nonEmpty && valueCols.nonEmpty,
      "forwardFill needs ordering and value columns")
    val w = Window.partitionBy(partCols.map(col): _*)
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    valueCols.foldLeft(df) { (d, c) =>
      d.withColumn(c, last(col(c), ignoreNulls = true).over(w))
    }
  }

  /** Linear interpolation of null gaps against a numeric time axis —
    * R `zoo::na.approx(rule = 1)` parity: each null between two
    * observed values gets the time-weighted average of its bracketing
    * neighbors; leading/trailing nulls (no bracket) STAY null. The
    * four bracket quantities come from last/first `ignoreNulls`
    * windows over the same per-entity sort — one shuffle on the
    * partition keys, no self-join, no iteration, and the weight
    * `(t−t₀)/(t₁−t₀)` is a single fixed-shape double expression any
    * engine reproduces.
    */
  def interpolate(
      df: DataFrame, partCols: Seq[String], timeCol: String,
      tieCol: String, valueCol: String): DataFrame = {
    require(partCols.nonEmpty,
      "interpolate requires partition keys: an unpartitioned ordered " +
        "window moves the whole dataset to one task")
    // tieCol pins the order of same-timestamp rows — without it, a
    // null row tied with its bracketing observation makes the fill
    // engine-dependent.
    val part = Window.partitionBy(partCols.map(col): _*)
      .orderBy(col(timeCol), col(tieCol))
    val back = part.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = part.rowsBetween(Window.currentRow, Window.unboundedFollowing)
    val v = col(valueCol).cast("double")
    val t = col(timeCol).cast("double")
    val tObs = when(v.isNotNull, t)
    val vp = last(v, ignoreNulls = true).over(back)
    val tp = last(tObs, ignoreNulls = true).over(back)
    val vn = first(v, ignoreNulls = true).over(fwd)
    val tn = first(tObs, ignoreNulls = true).over(fwd)
    df.withColumn(valueCol,
      when(v.isNotNull, v)
        .when(vp.isNotNull && vn.isNotNull,
          vp + (vn - vp) * ((t - tp) / (tn - tp)))
        .otherwise(lit(null).cast("double")))
  }

  /** Trailing rolling MEDIAN of daily volume — the robust counterpart
    * of [[trailingStats]]' mean (one outage day drags a 7-day mean for
    * a week; the median shrugs). A median can't ride a plain window
    * frame, so the trailing window is materialized as the bounded
    * shifted self-join ([[ewmaChart]]'s discipline) and each (group,
    * day) takes `percentile` over its ≤`window` contributors — all
    * frames (groups × days)-sized.
    *
    * @return per (group, day) with a FULL window: `g`, `d`,
    *         `roll_mean` (round 4), `roll_median` (round 4)
    */
  def rollingMedian(
      df: DataFrame, groupCol: String, dayCol: String,
      window: Int): DataFrame = {
    val daily = Seasonal.dailyCounts(df, groupCol, dayCol)
    val contrib = daily.select(col("g"),
        explode(sequence(lit(0), lit(window - 1))).as("j"),
        (col("d") + col("j").cast("long")).as("d"), col("x").as("xp"))
    daily.select(col("g"), col("d"))
      .join(contrib, Seq("g", "d"))
      .groupBy("g", "d")
      .agg(count(lit(1)).as("_n"), sum("xp").as("_s"),
        expr("percentile(xp, 0.5D)").as("_med"))
      .where(col("_n") === window)
      .select(col("g"), col("d"),
        round(col("_s").cast("double") / col("_n").cast("double"), 4)
          .as("roll_mean"),
        round(col("_med"), 4).as("roll_median"))
  }

  /** The lag-1..window EWMA weights as plain doubles — ONE generator
    * for the Spark literals and the oracle SQL so the two engines
    * cannot disagree on a pow().
    */
  def ewmaWeights(alpha: Double, window: Int): Seq[Double] =
    (1 to window).map(j => alpha * math.pow(1.0 - alpha, j - 1))

  /** EWMA control chart over each group's daily volume: compare every
    * day's count to the exponentially-weighted average of the PRIOR
    * `window` days (α·(1−α)^(j−1) weights, renormalized over the lags
    * available) and flag days beyond `kSigma` rolling standard
    * deviations — the classic monitoring chart that reacts faster
    * than a plain moving average because recent days dominate.
    *
    * Lag-dependent weights can't ride a plain window frame, so the
    * prior window is materialized as a bounded shifted equi-join:
    * each day contributes itself to its next `window` days (a
    * `window`-sized explode — the ACF discipline), joined back on
    * (group, day). All frames are (groups × days)-sized.
    *
    * Exactness: per-lag weight and weight·x are snapped to integer
    * micro-units before summation (order-free), σ comes from exact
    * integer Σx/Σx², and the flag compares doubles both engines
    * derive from the same integers.
    *
    * @return per (group, day) with ≥`minPrior` prior days: `g`, `d`,
    *         `x`, `n_prior`, `ewma` (round 4), `sigma` (round 4),
    *         `flag` (0/1)
    */
  def ewmaChart(
      df: DataFrame, groupCol: String, dayCol: String,
      alpha: Double, window: Int, kSigma: Int,
      minPrior: Int): DataFrame = {
    val daily = Seasonal.dailyCounts(df, groupCol, dayCol)
    // Day d−j contributes to day d with weight α(1−α)^(j−1) — the
    // weights are PRE-COMPUTED Scala literals (shared with the
    // oracle via [[ewmaWeights]]), so no cross-engine pow() ever
    // runs.
    val ws = ewmaWeights(alpha, window)
    val contrib = daily.select(col("g"),
        explode(sequence(lit(1), lit(window))).as("j"),
        (col("d") + col("j").cast("long")).as("d"),
        col("x").as("xp"))
      .withColumn("w", element_at(lit(ws.toArray), col("j")))
      .withColumn("w_u", round(col("w") * lit(1e6)).cast("long"))
      .withColumn("wx_u",
        round(col("w") * col("xp").cast("double") * lit(1e6))
          .cast("long"))
    val prior = contrib.groupBy("g", "d").agg(
      count(lit(1)).as("n_prior"),
      sum("w_u").as("_sw"), sum("wx_u").as("_swx"),
      sum("xp").as("_sx"), sum(col("xp") * col("xp")).as("_sxx"))
    def dd(c: String) = col(c).cast("double")
    daily.join(prior, Seq("g", "d"))
      .where(col("n_prior") >= minPrior)
      .withColumn("_ewma", dd("_swx") / dd("_sw"))
      .withColumn("_sigma", sqrt(
        (dd("_sxx") - dd("_sx") * dd("_sx") / dd("n_prior")) /
          (dd("n_prior") - lit(1.0))))
      .select(col("g"), col("d"), col("x"), col("n_prior"),
        round(col("_ewma"), 4).as("ewma"),
        round(col("_sigma"), 4).as("sigma"),
        // σ = 0 (a perfectly flat prior window) degenerates the band
        // to a point: compare against the prior MEAN in exact integer
        // form (x·n ≠ Σx) — the double EWMA carries micro-snap noise
        // that would false-positive every row.
        when(col("_sigma") > 0.0,
          when(abs(col("x").cast("double") - col("_ewma")) >
            lit(kSigma.toDouble) * col("_sigma"), 1).otherwise(0))
          .otherwise(when(col("x") * col("n_prior") =!= col("_sx"), 1)
            .otherwise(0))
          .as("flag"))
  }
}
