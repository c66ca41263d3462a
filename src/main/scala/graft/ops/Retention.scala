package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** N-day bounce-back retention: of the entities active on day d, how
  * many were active again exactly on day d+N — the day-grain
  * engagement curve (q134's weekly cohort triangle answers the
  * since-first-seen question; this is the rolling per-day one).
  *
  * One distinct (entity, day) pass, then a self-equi-join on
  * (entity, day+N) — shuffle on the entity key, both sides the
  * distinct frame, never raw events. Integer day arithmetic and
  * integer counts; the rate is one floor-ppm division.
  */
object Retention {

  /** @return per base day d (only days with activity): `n_active`,
    *         `n_retained` (active on d AND d+N), `retained_ppm`
    */
  def nDayRetention(
      df: DataFrame, entityCol: String, dayCol: String,
      n: Int): DataFrame = {
    val active = df.select(col(entityCol).as("e"),
        col(dayCol).cast("long").as("d"))
      .where(col("e").isNotNull && col("d").isNotNull).distinct()
    val future = active.select(col("e"),
      (col("d") - lit(n.toLong)).as("d"))
    active.join(future.withColumn("_hit", lit(1L))
        .groupBy("e", "d").agg(max("_hit").as("_hit")),
        Seq("e", "d"), "left")
      .groupBy("d")
      .agg(count(lit(1)).as("n_active"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_retained"))
      .withColumn("retained_ppm",
        expr("(n_retained * 1000000) DIV n_active"))
  }

  /** Retention-decay fit: the pooled bounce-back rate at every lag
    * k = 1..maxLag in ONE shifted join (the ACF discipline — not
    * maxLag separate [[nDayRetention]] runs), plus an exponential
    * half-life from the OLS of ln(rate) on k. "How fast does
    * engagement decay" as one number, with the curve it came from.
    *
    * rate_k is a ratio of exact integer counts; the fit runs on
    * maxLag points with ln snapped to integer micro-nats (order-free,
    * scale cancels out of the slope).
    *
    * @return per lag: `lag`, `n_base` (entity-days with a day+lag
    *         candidate in span), `n_retained`, `rate` (round 4),
    *         `half_life_days` (round 2, repeated; null if decay
    *         slope ≥ 0)
    */
  def decayFit(
      df: DataFrame, entityCol: String, dayCol: String,
      maxLag: Int): DataFrame = {
    val active = df.select(col(entityCol).as("e"),
        col(dayCol).cast("long").as("d"))
      .where(col("e").isNotNull && col("d").isNotNull).distinct()
      .transform(Pin.shared)
    val span = active.agg(max("d").as("_mx"))
    val shifted = active
      .select(col("e"), explode(sequence(lit(1), lit(maxLag))).as("lag"),
        (col("d") + col("lag").cast("long")).as("d"))
    val hits = shifted
      .join(active.withColumn("_hit", lit(1L)), Seq("e", "d"), "left")
      // Only base days whose lag-target is inside the observed span
      // count (otherwise the tail lags are biased low by truncation).
      .crossJoin(broadcast(span))
      .where(col("d") <= col("_mx"))
      .groupBy("lag")
      .agg(count(lit(1)).as("n_base"),
        sum(coalesce(col("_hit"), lit(0L))).as("n_retained"))
      .transform(Pin.shared)
    // Zero-retention lags carry no ln: drop them from the fit (an
    // ANSI engine would otherwise throw casting ln 0 = −∞).
    val pts = hits.where(col("n_retained") > 0)
      .select(col("lag").cast("long").as("x"),
        round(log(col("n_retained").cast("double") /
          col("n_base").cast("double")) * lit(1e6)).cast("long").as("y"))
    val fit = pts.agg(count(lit(1)).as("n"), sum("x").as("sx"),
      sum("y").as("sy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"))
    def d(c: String) = col(c).cast("double")
    val slope = (d("n") * d("sxy") - d("sx") * d("sy")) /
      (d("n") * d("sxx") - d("sx") * d("sx")) / lit(1e6)
    val hl = fit.select(
      round(when(slope < 0.0, lit(-math.log(2.0)) / slope), 2)
        .as("half_life_days"))
    hits.crossJoin(broadcast(hl))
      .select(col("lag"), col("n_base"), col("n_retained"),
        round(col("n_retained").cast("double") /
          col("n_base").cast("double"), 4).as("rate"),
        col("half_life_days"))
  }

  /** Cohort lifetime-value curve: entities bucketed by first-seen
    * week, their integer-cents value accumulated by weeks-since-
    * cohort — the growth-accounting triangle ("how much is a week-N
    * user of cohort C worth so far") that q134's retention counts
    * can't price. Cohort size uses the FULL cohort (not just weeks
    * with revenue), so ltv is per acquired entity.
    *
    * Scale shape: one entity-grain min() for the cohort, one
    * (cohort, age) revenue aggregate, then the cumulative window
    * runs on the small (cohorts × ages) triangle.
    *
    * @return per (cohort_week, age_week) with activity: `n_cohort`,
    *         `rev_cents`, `cum_rev_cents`, `ltv_cents` (cum/entity,
    *         round 4)
    */
  def ltvCurve(
      df: DataFrame, entityCol: String, dayCol: String,
      valueCol: String): DataFrame = {
    val in = df.select(col(entityCol).as("e"),
        expr(s"CAST($dayCol AS LONG) DIV 7").as("wk"),
        col(valueCol).cast("long").as("v"))
      .where(col("e").isNotNull && col("wk").isNotNull)
    val cohorts = in.groupBy("e").agg(min("wk").as("cw"))
    val sizes = cohorts.groupBy("cw").agg(count(lit(1)).as("n_cohort"))
    val tri = in.join(cohorts, Seq("e"))
      .groupBy(col("cw"), (col("wk") - col("cw")).as("age"))
      .agg(sum(coalesce(col("v"), lit(0L))).as("rev_cents"))
    val wCum = org.apache.spark.sql.expressions.Window
      .partitionBy("cw").orderBy("age")
      .rowsBetween(org.apache.spark.sql.expressions.Window
        .unboundedPreceding, org.apache.spark.sql.expressions.Window
        .currentRow)
    tri.withColumn("cum_rev_cents", sum("rev_cents").over(wCum))
      .join(sizes, Seq("cw"))
      .select(col("cw").as("cohort_week"), col("age").as("age_week"),
        col("n_cohort"), col("rev_cents"), col("cum_rev_cents"),
        round(col("cum_rev_cents").cast("double") /
          col("n_cohort").cast("double"), 4).as("ltv_cents"))
  }
}
