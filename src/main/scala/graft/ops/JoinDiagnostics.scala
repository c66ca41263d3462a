package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Join-explosion forecast: the EXACT output cardinality of an
  * equi-join computed from per-key multiplicities WITHOUT running the
  * join — Σ_k n_a(k)·n_b(k) — plus the keys that contribute most.
  * This is the "will this join 10× my data" planner question (q154's
  * KMV tier answers it approximately from sketches; this is the
  * exact tier you run on the aggregated key frame), and the top-key
  * report is the skew-salting shopping list for `ops/Skew`.
  *
  * Cost: one count aggregate per side (map-side combined), one
  * equi-join of the two KEY frames — never the data itself.
  */
object JoinDiagnostics {

  /** @return `topK` rows ranked by contribution (ties → key order)
    *         with per-key `n_left`/`n_right`/`out_rows`, plus the
    *         join-level totals repeated per row: `total_out_rows`,
    *         `top_share_ppm` (this key's share of the output)
    */
  def predictJoinSize(
      left: DataFrame, leftKey: String, right: DataFrame,
      rightKey: String, topK: Int): DataFrame = {
    val la = left.where(col(leftKey).isNotNull)
      .groupBy(col(leftKey).cast("string").as("key"))
      .agg(count(lit(1)).as("n_left"))
    val ra = right.where(col(rightKey).isNotNull)
      .groupBy(col(rightKey).cast("string").as("key"))
      .agg(count(lit(1)).as("n_right"))
    // The joined key frame is data-proportional (every shared key):
    // the total is a 1-row aggregate broadcast back and the top
    // contributors an explicit top-K (TakeOrderedAndProject) — never
    // an unpartitioned sum/rank window over the key dim. The rank
    // window then runs on the ≤ topK survivors only.
    val joined = la.join(ra, Seq("key"))
      .withColumn("out_rows", col("n_left") * col("n_right"))
      .transform(Pin.shared)
    joined
      .orderBy(col("out_rows").desc, col("key"))
      .limit(topK)
      .withColumn("rank", row_number().over(
        Window.orderBy(col("out_rows").desc, col("key"))).cast("int"))
      .crossJoin(broadcast(
        joined.agg(sum("out_rows").as("total_out_rows"))))
      .select(col("rank"), col("key"), col("n_left"), col("n_right"),
        col("out_rows"), col("total_out_rows"),
        expr("(out_rows * 1000000) DIV total_out_rows")
          .as("top_share_ppm"))
  }
}
