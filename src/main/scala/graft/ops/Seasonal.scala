package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Calendar-seasonality profile + anomaly gate: per (group, slot)
  * — slot = day-of-week here — the average daily volume, and per day
  * a deviation flag against ITS OWN slot's average (Monday compares
  * to Mondays). The "is today's crawl volume weird" monitor that a
  * global mean can't express when weekday/weekend cycles dominate.
  *
  * Exactness: daily volumes are integer counts; the "day exceeds
  * k× its slot mean" compare is cross-multiplied into pure integer
  * arithmetic (`day_n · slot_days > k · slot_total`), so the flag
  * never touches floating point. Shares are one division at the
  * end. Two aggregates, both map-side combinable; windows run on
  * the (groups × slots) frame.
  */
object Seasonal {

  /** @param kNum/kDen anomaly threshold k = kNum/kDen as integers
    *                  (e.g. 3/2 → flag days above 1.5× slot mean)
    * @return per (group, dow 1..7): `n_days`, `total`, `mean_daily`
    *         (round 4), `share` of group volume (round 6),
    *         `n_anomaly_days` (exact integer compare)
    */
  def dowProfile(
      df: DataFrame, groupCol: String, dayCol: String,
      kNum: Long, kDen: Long): DataFrame = {
    val daily = df
      .select(col(groupCol).as("g"), col(dayCol).cast("long").as("d"))
      .groupBy("g", "d")
      .agg(count(lit(1)).as("day_n"))
      // Epoch day 0 = 1970-01-01 (Thursday = ISO dow 4).
      .withColumn("dow", (pmod(col("d") + lit(3L), lit(7L)) + lit(1L))
        .cast("int"))
    val slot = daily.groupBy("g", "dow")
      .agg(count(lit(1)).as("n_days"), sum("day_n").as("total"))
    val flagged = daily.join(slot, Seq("g", "dow"))
      .withColumn("_anom",
        when(col("day_n") * col("n_days") * lit(kDen) >
          lit(kNum) * col("total"), 1L).otherwise(0L))
      .groupBy("g", "dow")
      .agg(sum("_anom").as("n_anomaly_days"))
    val wG = Window.partitionBy("g")
    slot.join(flagged, Seq("g", "dow"))
      .withColumn("_g_total", sum("total").over(wG))
      .select(col("g"), col("dow"), col("n_days"), col("total"),
        round(col("total").cast("double") / col("n_days").cast("double"), 4)
          .as("mean_daily"),
        round(col("total").cast("double") / col("_g_total").cast("double"), 6)
          .as("share"),
        col("n_anomaly_days"))
  }

  /** Daily event counts per group on a gap-filled calendar: `g`, `d`
    * (the day as a long), `x` — one row per day from each group's
    * first to its last event day, missing days counted as 0.
    */
  private[ops] def dailyCounts(
      df: DataFrame, groupCol: String, dayCol: String): DataFrame = {
    val counted = df
      .select(col(groupCol).as("g"), col(dayCol).cast("long").as("d"))
      .where(col("g").isNotNull && col("d").isNotNull)
      .groupBy("g", "d").agg(count(lit(1)).as("x"))
    counted.groupBy("g")
      .agg(min("d").as("_lo"), max("d").as("_hi"))
      .select(col("g"), explode(sequence(col("_lo"), col("_hi"))).as("d"))
      .join(counted, Seq("g", "d"), "left")
      .withColumn("x", coalesce(col("x"), lit(0L)))
  }

  /** Sample autocorrelation function of each group's daily volume at
    * lags 1..`maxLag` — the "is there a weekly cycle / is yesterday
    * predictive" diagnostic that decides whether [[dowProfile]]'s
    * slot model is even warranted. Standard ACF normalization: one
    * global mean and one global sum-of-squares per group (NOT
    * per-lag), so r_k is comparable across lags and r_0 ≡ 1.
    *
    * Missing calendar days count as zero volume (the honest series
    * for event data), via a per-group `sequence` day grid. Scale
    * shape: one daily-count aggregate off the event grain; the grid,
    * the lag self-join (an equi-join on (group, day+k) after a
    * maxLag-sized explode), and all moment math run on the
    * (groups × days) frame, bounded by the calendar span.
    *
    * @return per (group, lag): `n_days`, `n_pairs`, `acf` (round 4)
    */
  def acf(
      df: DataFrame, groupCol: String, dayCol: String,
      maxLag: Int): DataFrame = {
    val daily = dailyCounts(df, groupCol, dayCol)
    val mom = daily.groupBy("g").agg(
      count(lit(1)).as("n_days"), sum("x").as("_sx"),
      sum(col("x") * col("x")).as("_sxx"))
    // Denominator Σ(x−μ)² = Σx² − (Σx)²/n, from exact integer sums.
    val base = daily.join(mom, Seq("g"))
      .withColumn("_mu", col("_sx").cast("double") /
        col("n_days").cast("double"))
    val shifted = base.select(col("g"),
        explode(sequence(lit(1), lit(maxLag))).as("lag"),
        (col("d") + col("lag").cast("long")).as("d"),
        col("x").as("x_lag"))
    // Σ(x−μ)(x'−μ) = Σxx' − μ(Σx + Σx') + nμ²: every Σ is an exact
    // integer sum, so the only doubles are this fixed-shape final
    // expression — order-free, hence engine-portable.
    base.join(shifted, Seq("g", "d"))
      .groupBy("g", "lag")
      .agg(max("n_days").as("n_days"), count(lit(1)).as("n_pairs"),
        sum(col("x") * col("x_lag")).as("_sxy"),
        sum("x").as("_spx"), sum("x_lag").as("_spl"),
        max("_sx").as("_gsx"), max("_sxx").as("_gsxx"))
      .withColumn("_mu", col("_gsx").cast("double") /
        col("n_days").cast("double"))
      .withColumn("_num", col("_sxy").cast("double") -
        col("_mu") * (col("_spx") + col("_spl")).cast("double") +
        col("n_pairs").cast("double") * col("_mu") * col("_mu"))
      .withColumn("_den", col("_gsxx").cast("double") -
        col("_gsx").cast("double") * col("_gsx").cast("double") /
          col("n_days").cast("double"))
      .where(col("_den") > 0.0)
      .select(col("g"), col("lag"), col("n_days"), col("n_pairs"),
        // + 0.0 normalizes −0.0 (a tiny negative acf rounding to
        // zero) so the cross-engine hash can't split on sign bit.
        (round(col("_num") / col("_den"), 4) + lit(0.0)).as("acf"))
  }

  /** Inter-arrival cadence profile per stream: gap percentiles plus
    * the burstiness coefficient CV² = var/mean² of the gaps — the
    * Poisson litmus (CV² ≈ 1 memoryless, ≫ 1 bursty, ≪ 1 regular)
    * that says whether rate-based capacity math ([[dowProfile]],
    * q181) is even applicable to this stream.
    *
    * Gaps are integer MILLIseconds (µs DIV 1000 — keeps Σgap² inside
    * int64 for month-scale spans; exactness survives because both
    * engines floor identically); moments are exact integer sums; one
    * lag window partitioned by the stream key.
    *
    * @return per stream: `n_gaps`, `mean_gap_s` (round 3),
    *         `p50_gap_s`, `p90_gap_s` (round 3), `cv2` (round 4)
    */
  def interarrivalProfile(
      df: DataFrame, groupCol: String, tsUsCol: String,
      tieCol: String): DataFrame = {
    val w = Window.partitionBy("g").orderBy(col("tu").asc, col("tie").asc)
    val gaps = df.select(col(groupCol).as("g"),
        col(tsUsCol).cast("long").as("tu"), col(tieCol).as("tie"))
      .withColumn("_prev", lag("tu", 1).over(w))
      .where(col("_prev").isNotNull)
      .withColumn("gap_ms", expr("(tu - _prev) DIV 1000"))
    def d(c: String) = col(c).cast("double")
    gaps.groupBy("g")
      .agg(count(lit(1)).as("n_gaps"),
        sum("gap_ms").as("_s"), sum(col("gap_ms") * col("gap_ms")).as("_ss"),
        expr("percentile(gap_ms, 0.5D)").as("_p50"),
        expr("percentile(gap_ms, 0.9D)").as("_p90"))
      .select(col("g"), col("n_gaps"),
        round(d("_s") / d("n_gaps") / lit(1e3), 3).as("mean_gap_s"),
        round(col("_p50") / lit(1e3), 3).as("p50_gap_s"),
        round(col("_p90") / lit(1e3), 3).as("p90_gap_s"),
        // CV² = (Σg²·n − (Σg)²) / (Σg)² — one fixed-shape expression
        // over the exact integer moments (population variance).
        round((d("_ss") * d("n_gaps") - d("_s") * d("_s")) /
          (d("_s") * d("_s")), 4).as("cv2"))
  }

  /** Cross-correlation of two event streams' daily volumes at lags
    * −maxLag..maxLag — "does series A LEAD series B" (clicks lead
    * purchases?): r_k correlates a_t with b_{t+k}, so a peak at
    * positive k means A moves first. The two-series sibling of
    * [[acf]], with the same exact-integer decomposition —
    * Σ(a−ā)(b'−b̄) expands into pure integer sums, one fixed-shape
    * double at the edge.
    *
    * Both series share one calendar grid (the union span, zeros
    * filled); all frames are day-span-sized.
    *
    * @return per lag k: `lag`, `n_pairs`, `ccf` (round 4)
    */
  def crossCorrelation(
      a: DataFrame, b: DataFrame, dayCol: String,
      maxLag: Int): DataFrame = {
    def daily(df: DataFrame, out: String) = df
      .select(col(dayCol).cast("long").as("d"))
      .where(col("d").isNotNull)
      .groupBy("d").agg(count(lit(1)).as(out))
    val ca = daily(a, "xa")
    val cb = daily(b, "xb")
    val joined = ca.join(cb, Seq("d"), "full_outer")
      .select(col("d"), coalesce(col("xa"), lit(0L)).as("xa"),
        coalesce(col("xb"), lit(0L)).as("xb"))
    val grid = joined.agg(min("d").as("_lo"), max("d").as("_hi"))
      .select(explode(sequence(col("_lo"), col("_hi"))).as("d"))
    val series = grid.join(joined, Seq("d"), "left")
      .select(col("d"), coalesce(col("xa"), lit(0L)).as("xa"),
        coalesce(col("xb"), lit(0L)).as("xb"))
      .transform(Pin.shared)
    val mom = series.agg(count(lit(1)).as("nd"),
      sum("xa").as("sa"), sum(col("xa") * col("xa")).as("saa"),
      sum("xb").as("sb"), sum(col("xb") * col("xb")).as("sbb"))
    val shifted = series.select(
      explode(sequence(lit(-maxLag), lit(maxLag))).as("lag"),
      (col("d") - col("lag").cast("long")).as("d"),
      col("xb").as("xbl"))
    def d(c: String) = col(c).cast("double")
    series.select("d", "xa").join(shifted, Seq("d"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("xa") * col("xbl")).as("_sxy"),
        sum("xa").as("_spa"), sum("xbl").as("_spb"))
      .crossJoin(broadcast(mom))
      .withColumn("_ma", d("sa") / d("nd"))
      .withColumn("_mb", d("sb") / d("nd"))
      .withColumn("_num", d("_sxy") - col("_mb") * d("_spa") -
        col("_ma") * d("_spb") +
        col("n_pairs").cast("double") * col("_ma") * col("_mb"))
      .withColumn("_den", sqrt(
        (d("saa") - d("sa") * d("sa") / d("nd")) *
          (d("sbb") - d("sb") * d("sb") / d("nd"))))
      .where(col("_den") > 0.0)
      .select(col("lag"), col("n_pairs"),
        (round(col("_num") / col("_den"), 4) + lit(0.0)).as("ccf"))
  }

  /** Classical additive decomposition of each group's daily volume:
    * trend = centered 7-day moving average (emitted only where the
    * full window exists), seasonal = per-weekday mean of the
    * detrended series, remainder = x − trend − seasonal. The "what
    * part of today's volume is cycle vs drift vs surprise" readout
    * behind [[dowProfile]]'s anomaly gate.
    *
    * Exactness: daily volumes are integer counts; the trend is one
    * Σ7/7 division; the detrended value is snapped to integer
    * micro-units before the per-weekday mean, so that mean is a
    * ratio of exact integer sums (order-free across engines), and
    * the remainder is derived from the snapped values only. Missing
    * calendar days count as zero volume (same grid as [[acf]]).
    *
    * @return per (group, day) with a full trend window: `g`, `d`,
    *         `dow` (1=Mon..7=Sun), `x`, `trend` (round 4),
    *         `seasonal` (round 4), `remainder` (round 4)
    */
  def decompose(
      df: DataFrame, groupCol: String, dayCol: String): DataFrame = {
    val daily = dailyCounts(df, groupCol, dayCol)
    val w7 = Window.partitionBy("g").orderBy("d").rowsBetween(-3L, 3L)
    val trended = daily
      .withColumn("_s7", sum("x").over(w7))
      .withColumn("_n7", count(lit(1)).over(w7))
      .where(col("_n7") === 7)
      .withColumn("trend", col("_s7").cast("double") / lit(7.0))
      // Detrended value in exact micro-units: ±ulp-free across
      // engines because Σ7/7 is one division on an exact integer.
      .withColumn("detr_u",
        round((col("x").cast("double") - col("trend")) * lit(1e6))
          .cast("long"))
      .withColumn("dow",
        (pmod(col("d") + lit(3L), lit(7L)) + lit(1L)).cast("int"))
    val seas = trended.groupBy("g", "dow")
      .agg(sum("detr_u").as("_su"), count(lit(1)).as("_nu"))
      .withColumn("seas_u",
        expr("CAST(round(CAST(_su AS DOUBLE) / CAST(_nu AS DOUBLE)) " +
          "AS BIGINT)"))
    trended.join(seas.select("g", "dow", "seas_u"), Seq("g", "dow"))
      .select(col("g"), col("d"), col("dow"), col("x"),
        round(col("trend"), 4).as("trend"),
        (round(col("seas_u").cast("double") / lit(1e6), 4) + lit(0.0))
          .as("seasonal"),
        (round((col("detr_u") - col("seas_u")).cast("double") / lit(1e6),
          4) + lit(0.0)).as("remainder"))
  }
}
