package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** RFM segmentation (recency / frequency / monetary): every customer
  * ranked into quintiles on each behavioral axis, then counted per
  * (R, F, M) cell — the classic marketing/value segmentation, and at
  * corpus scale the same shape ranks SOURCES by freshness / volume /
  * quality. Quintile cuts are exact integer rank arithmetic
  * (`(rank−1)·5 DIV n + 1`, ranks tie-broken by the entity key), so
  * every cell assignment is reproducible; monetary mass stays in
  * exact cents.
  */
object Rfm {

  /** @param df one row per (entity, event) with a slot (e.g. epoch
    *           day) and an integer amount
    * @return per populated (r_q, f_q, m_q) cell (quintile 5 = most
    *         recent / most frequent / highest spend): `n_entities`,
    *         `total_cents`
    */
  def segments(
      df: DataFrame, entityCol: String, slotCol: String,
      amountCol: String): DataFrame = {
    val per = df.groupBy(col(entityCol).as("e"))
      .agg(max(col(slotCol).cast("long")).as("last_slot"),
        count(lit(1)).as("freq"),
        sum(col(amountCol).cast("long")).as("cents"))
      // The three axis ranks re-sort this frame three times: pin it
      // so the upstream aggregation runs once.
      .transform(Pin.shared)
    // Three DISTRIBUTED global ranks (Rank.globalRowNumber — range-
    // partitioned sortBy+zipWithIndex), replacing the three
    // unpartitioned row_number windows that funneled every entity
    // through one task (the r11 verdict's q191 scale-killer). The
    // entity count is a 1-row aggregate broadcast back — never a
    // count-over-everything window.
    val ranked = Seq(
      (Seq("last_slot", "e"), "_rk_r"),
      (Seq("freq", "e"), "_rk_f"),
      (Seq("cents", "e"), "_rk_m"))
      .foldLeft(per) { case (acc, (keys, out)) =>
        Rank.globalRowNumber(acc, keys.map(_ -> true), out)
      }
    val scored = ranked
      .crossJoin(broadcast(per.agg(count(lit(1)).as("_n"))))
      .withColumn("r_q", expr("((_rk_r - 1) * 5) DIV _n + 1").cast("int"))
      .withColumn("f_q", expr("((_rk_f - 1) * 5) DIV _n + 1").cast("int"))
      .withColumn("m_q", expr("((_rk_m - 1) * 5) DIV _n + 1").cast("int"))
    scored.groupBy("r_q", "f_q", "m_q")
      .agg(count(lit(1)).as("n_entities"), sum("cents").as("total_cents"))
  }
}
