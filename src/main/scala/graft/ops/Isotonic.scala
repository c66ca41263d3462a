package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Weighted isotonic regression over a BOUNDED bin frame — the
  * monotone calibration map (Zadrozny & Elkan KDD'02) that turns a
  * classifier's reliability diagram into a usable probability
  * corrector: fitted rates are the closest non-decreasing sequence to
  * the observed per-bin rates under squared loss.
  *
  * Instead of the sequential pool-adjacent-violators scan (hostile to
  * a distributed engine and to an SQL oracle), the fit uses PAV's
  * CLOSED-FORM minimax identity:
  *
  *   iso_i = max_{j ≤ i} min_{k ≥ i} ( Σ_{j..k} succ / Σ_{j..k} trial )
  *
  * — interval averages from integer prefix sums, so both engines
  * derive every candidate ratio from identical integers. The frame is
  * BINS (score buckets, vote counts), bounded by construction, so the
  * O(B³) interval enumeration and the ordering window are constant
  * work — the same dim-bounded argument as the PCA/BPE driver frames.
  *
  * @return per bin: `binCol`, `trials`, `rate` (round 6),
  *         `iso_rate` (round 6, non-decreasing in `binCol`)
  */
object Isotonic {

  def calibrate(
      bins: DataFrame, binCol: String, succCol: String,
      trialCol: String): DataFrame = {
    // Partition-less windows are safe here: the frame is the bounded
    // bin set.
    val w = Window.orderBy(col("x"))
    val pre = bins.select(col(binCol).cast("double").as("x"),
        col(succCol).cast("long").as("s"), col(trialCol).cast("long").as("t"))
      .withColumn("i", row_number().over(w))
      .withColumn("cs", sum("s").over(w))
      .withColumn("ct", sum("t").over(w))
      .transform(Pin.shared)
    // broadcast the tiny sides explicitly: the non-equi joins must
    // plan as BroadcastNestedLoopJoin over the bounded frame, never a
    // partitioned CartesianProduct (the PlanShapeSpec contract)
    val iv = pre.select(col("i").as("j"),
        (col("cs") - col("s")).as("csj"), (col("ct") - col("t")).as("ctj"))
      .join(broadcast(pre.select(col("i").as("k"), col("cs").as("csk"),
        col("ct").as("ctk"))), col("j") <= col("k"))
      .select(col("j"), col("k"),
        ((col("csk") - col("csj")).cast("double") /
          (col("ctk") - col("ctj")).cast("double")).as("avg"))
    val fit = pre.select(col("i"))
      .join(broadcast(iv), col("j") <= col("i") && col("k") >= col("i"))
      .groupBy("i", "j").agg(min("avg").as("m"))
      .groupBy("i").agg(max("m").as("iso"))
    pre.join(fit, "i")
      .select(col("x").as(binCol), col("t").as("trials"),
        round(col("s").cast("double") / col("t").cast("double"), 6)
          .as("rate"),
        round(col("iso"), 6).as("iso_rate"))
  }
}
