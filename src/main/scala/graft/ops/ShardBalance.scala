package graft.ops

import graft.functions.Hashing
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Partitioning-skew audit: BEFORE committing a layout, measure how
  * evenly each candidate sharding spreads the data — per shard the
  * row count, plus the imbalance summary (max/mean in ppm) that
  * decides whether a straggler will own the job. At 100 TB the
  * difference between a 1.05× and a 4× max/mean IS the wall-clock.
  *
  * Two candidate partitioners over the same key column:
  *  - `hash`: portable md5 hash mod n — what a hash-partitioned
  *    write produces (collision-level imbalance only, unless hot
  *    keys exist: all rows of one key land together);
  *  - `keyrange`: contiguous key ranges holding equal COUNTS of
  *    distinct keys (rank DIV) — what a range-partitioned write on
  *    naive equal-key-count boundaries produces; row-count skew then
  *    exposes per-key volume imbalance.
  * Both assignments are exact integer arithmetic on the key frame.
  */
object ShardBalance {

  /** @return one row per (strategy, shard): `n_rows`, `n_keys`, and
    *         the strategy-level `max_over_mean_ppm` repeated per row
    */
  def audit(df: DataFrame, keyCol: String, shards: Int): DataFrame = {
    require(shards >= 2, s"shards must be >= 2: $shards")
    val keyed = df.where(col(keyCol).isNotNull)
      .select(col(keyCol).cast("string").as("k"))
    val perKey = keyed.groupBy("k").agg(count(lit(1)).as("kn"))
      // Ranked AND counted below: pin so the rollup runs once.
      .transform(Pin.shared)
    val hashShard = perKey.select(lit("hash").as("strategy"),
      pmod(Hashing.portableHash(col("k")), lit(shards.toLong)).as("shard"),
      col("kn"))
    // The key frame is data-proportional (every distinct key):
    // DISTRIBUTED rank (Rank.globalRowNumber) + a 1-row count
    // broadcast, never an unpartitioned window over the key dim.
    val rangeShard = Rank.globalRowNumber(perKey, Seq("k" -> true), "_rk")
      .crossJoin(broadcast(perKey.agg(count(lit(1)).as("_nk"))))
      .select(lit("keyrange").as("strategy"),
        expr(s"((_rk - 1) * $shards) DIV _nk").as("shard"), col("kn"))
    val perShard = hashShard.unionByName(rangeShard)
      .groupBy("strategy", "shard")
      .agg(sum("kn").as("n_rows"), count(lit(1)).as("n_keys"))
    val wStrat = Window.partitionBy("strategy")
    perShard
      .withColumn("_tot", sum("n_rows").over(wStrat))
      .withColumn("_max", max("n_rows").over(wStrat))
      .select(col("strategy"), col("shard"), col("n_rows"), col("n_keys"),
        // max/mean = max·shards/total, floored to ppm — all integer.
        expr(s"(_max * $shards * 1000000) DIV _tot")
          .as("max_over_mean_ppm"))
  }
}
