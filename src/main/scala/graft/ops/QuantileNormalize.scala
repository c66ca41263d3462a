package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Quantile normalization across groups (the microarray/batch-effect
  * classic): replace each group's values by the POOLED distribution's
  * value at the same within-group rank, so every group ends up with
  * an identical marginal distribution while preserving its internal
  * ordering — "make source A's length distribution comparable to the
  * corpus" without trusting either's scale.
  *
  * All rank arithmetic is exact integers: within-group rank r of n
  * maps to pooled index 1 + (r−1)·(N−1) DIV (n−1) (endpoints meet
  * exactly), and the mapped value is joined by that index — no
  * interpolation floats anywhere, so the mapping hash-compares
  * bit-for-bit. Two DISTRIBUTED sorts (pooled on v, grouped on
  * (g, v) — `Rank.globalRowNumber`, never a single-task window),
  * one index equi-join.
  */
object QuantileNormalize {

  /** @return per group: `n`, `mean_orig` and `mean_mapped` (exact
    *         integer sums over micro-units ÷ n, round 4), and the
    *         mapped min/max — identical across groups by
    *         construction, which is the visible proof the marginals
    *         were unified
    */
  def summary(
      df: DataFrame, groupCol: String, valueCol: String): DataFrame = {
    val x = col(valueCol).cast("long")
    val in = df.where(x.isNotNull)
      .select(col(groupCol).as("g"), x.as("v"))
      // Consumed three times (pooled rank, per-group rank, total):
      // pin it so the source scans once.
      .transform(Pin.shared)
    // The pooled rank runs over the RAW input rows — a DISTRIBUTED
    // sort (Rank.globalRowNumber), never a single-task
    // `row_number().over(Window.orderBy(v))` of the corpus itself
    // (the r11 verdict's q214 scale-killer). No tie-break column:
    // rows with equal v receive an arbitrary permutation of the tie
    // range, but the idx→pv mapping is invariant under it (equal v ⇒
    // equal pv), so the join result is deterministic.
    val pooled = Rank.globalRowNumber(in, Seq("v" -> true), "idx")
      .select(col("idx"), col("v").as("pv"))
    // Within-group ranks the same way: one distributed (g, v) sort,
    // then subtract each group's start offset (a prefix over the
    // |groups|-row frame — the only unpartitioned window, dim-sized).
    // `Window.partitionBy("g")` would put EVERY row of a group in one
    // task — with a handful of sources that is the q214 killer again,
    // one level down. Per-block permutation of within-group ties
    // cancels in the output: the tie block gets the same SET of ranks
    // either way, so each group's multiset of mapped pv is invariant.
    val offs = in.groupBy("g").agg(count(lit(1)).as("_n"))
      .withColumn("_off", coalesce(sum("_n").over(
        Window.orderBy("g")
          .rowsBetween(Window.unboundedPreceding, -1L)), lit(0L)))
    val ranked = Rank.globalRowNumber(
        in, Seq("g" -> true, "v" -> true), "_gr")
      .join(broadcast(offs), Seq("g"))
      .withColumn("_r", col("_gr") - col("_off"))
      // Total row count: 1-row aggregate broadcast back, not a
      // count-over-everything window.
      .crossJoin(broadcast(in.agg(count(lit(1)).as("_nt"))))
      .withColumn("idx",
        when(col("_n") === 1L, lit(1L))
          .otherwise(lit(1L) +
            expr("((_r - 1) * (_nt - 1)) DIV (_n - 1)")))
    ranked.join(pooled, Seq("idx"))
      .groupBy("g")
      .agg(count(lit(1)).as("n"),
        sum("v").as("_sv"), sum("pv").as("_sm"),
        min("pv").as("mapped_min"), max("pv").as("mapped_max"))
      .select(col("g"), col("n"),
        round(col("_sv").cast("double") / col("n").cast("double"), 4)
          .as("mean_orig"),
        round(col("_sm").cast("double") / col("n").cast("double"), 4)
          .as("mean_mapped"),
        col("mapped_min"), col("mapped_max"))
  }
}
