package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Kaplan–Meier survival estimate over entity lifetimes with right
  * censoring (Kaplan & Meier, JASA 1958) — the churn/retention curve
  * that handles "still active" users correctly, which a naive
  * mean-lifetime cuts short.
  *
  * Lifetime model: per entity, duration = last_day − first_day. An
  * entity whose last activity is at least `censorGap` days before the
  * corpus horizon (global max day) is an OBSERVED churn; later last
  * days can't be distinguished from "still active", so those entities
  * are right-CENSORED at horizon − first_day. Ties follow the standard
  * convention: entities censored at t stay in the risk set for the
  * churn events at t.
  *
  * Scale shape: one entity-grain aggregate (shuffle on the entity
  * key), then all KM arithmetic — risk sets, products — runs on the
  * per-duration frame, whose size is bounded by the day span of the
  * data, not its row count. The cumulative windows below run on that
  * tiny frame. The survival product is exp∘Σln over exact integer
  * d/n ratios, accumulated in duration order in BOTH engines, so a
  * 6-dp round crosses the oracle compare.
  */
object Survival {

  /** @param df        event-grain frame
    * @param entityCol  entity key column
    * @param dayCol     epoch-day column (long)
    * @param censorGap  days of silence before horizon that count as
    *                   observed churn
    * @return per churn-time t (only durations with ≥1 observed churn):
    *         `t`, `n_risk`, `n_churn`, `n_censored` (censored exactly
    *         at t), `survival` (KM product, round 6)
    */
  def kaplanMeier(
      df: DataFrame, entityCol: String, dayCol: String,
      censorGap: Int): DataFrame = {
    val spans = df
      .select(col(entityCol).as("e"), col(dayCol).cast("long").as("d"))
      .where(col("e").isNotNull && col("d").isNotNull)
      .groupBy("e")
      .agg(min("d").as("first_d"), max("d").as("last_d"))
      // Entity-sized frame referenced twice (horizon + labeling):
      // one lineage cut instead of two event scans.
      .transform(Pin.shared)
    val horizon = spans.agg(max("last_d").as("h"))
    // 1-row broadcast cross: every entity needs the global horizon.
    val labeled = spans.crossJoin(broadcast(horizon))
      .select(
        when(col("last_d") <= col("h") - lit(censorGap.toLong),
          col("last_d") - col("first_d"))
          .otherwise(col("h") - col("first_d")).as("t"),
        (col("last_d") <= col("h") - lit(censorGap.toLong))
          .cast("long").as("observed"))
    val perT = labeled.groupBy("t").agg(
      sum("observed").as("n_churn"),
      sum(lit(1L) - col("observed")).as("n_censored"),
      count(lit(1)).as("n_at"))
    val byT = Window.orderBy("t")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perT
      // Risk set at t = everyone with duration ≥ t: total minus the
      // strictly-earlier cumulative — one window over the tiny frame.
      .withColumn("_cum", sum("n_at").over(byT))
      .withColumn("_tot", sum("n_at").over(Window.partitionBy()))
      .withColumn("n_risk", col("_tot") - col("_cum") + col("n_at"))
      .withColumn("_lnterm",
        when(col("n_churn") > 0,
          log(lit(1.0) - col("n_churn").cast("double") /
            col("n_risk").cast("double"))).otherwise(lit(0.0)))
      .withColumn("survival",
        round(exp(sum("_lnterm").over(byT)), 6))
      .where(col("n_churn") > 0)
      .select(col("t"), col("n_risk"), col("n_churn"),
        col("n_censored"), col("survival"))
  }
}
