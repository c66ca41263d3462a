package graft.ops

import graft.functions.Hashing.portableHash
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StructField, StructType}

/** Greedy k-center coreset selection (Gonzalez 1985, the 2-approximation
  * to the NP-hard k-center objective): pick the point farthest from the
  * current selection, k times — the classic "maximally diverse subset"
  * routine behind annotation-batch selection and seed picking for
  * clustering. The selection ORDER is part of the output: prefixes of
  * the result are themselves greedy solutions, so one run serves every
  * budget ≤ k.
  *
  * Determinism & portability: the first center is the point with the
  * smallest portable md5 hash of its id (seed-free, engine-replayable);
  * every candidate's distance-to-selection snaps to integer L2² MICRO
  * units ([[Pq.dist2]], three sequential-order dots) before the argmax,
  * so ranking never depends on double sum order; ties break on id.
  *
  * Scale shape: k bounded driver rounds, each one distributed scan
  * against the ≤ k-row broadcast center set with a map-side-combinable
  * per-point min — the selection state that crosses the driver is k ids
  * (the one legitimately driver-sized object here). The final coverage
  * radius (max-min distance, the k-center objective value) is audited
  * over the full frame.
  */
object Coreset {

  /** @return one row per selected center, in selection order:
    *         `rank` (0-based), `<idCol>`, `gain_micro` (the point's
    *         min-distance-to-selection when picked; null for the
    *         seed), plus repeated: `coverage_radius_micro` (the final
    *         k-center objective) and `n_points`
    */
  def kCenter(
      df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"k >= 1: $k")
    val spark = df.sparkSession
    val pts = df.select(col(idCol).cast("long").as("_id"),
        col(vecCol).as("_v"))
      .transform(Pin.shared)
    val seed = pts
      .withColumn("_h", portableHash(col("_id").cast("string")))
      .orderBy(col("_h"), col("_id")).limit(1)
      .select("_id").head().getLong(0)
    var selected = Vector[(Long, Option[Long])]((seed, None))
    def centers(ids: Seq[Long]) =
      pts.where(col("_id").isin(ids: _*))
        .select(col("_id").as("_cid"), col("_v").as("_cv"))
    def minDist(base: DataFrame, ids: Seq[Long]): DataFrame = base
      .crossJoin(broadcast(centers(ids)))
      .withColumn("_d",
        round(Pq.dist2(col("_v"), col("_cv")) * 1e6).cast("long"))
      .groupBy("_id").agg(min("_d").as("_md"))
    for (_ <- 1 until k) {
      val ids = selected.map(_._1)
      val pick = minDist(pts.where(!col("_id").isin(ids: _*)), ids)
        .orderBy(col("_md").desc, col("_id").asc).limit(1).head()
      selected :+= ((pick.getLong(0), Some(pick.getLong(1))))
    }
    val selRows = selected.zipWithIndex.map { case ((id, md), r) =>
      Row(r, id, md.map(Long.box).orNull)
    }
    val selDf = spark.createDataFrame(
      spark.sparkContext.parallelize(selRows, 1),
      StructType(Seq(StructField("rank", IntegerType, nullable = false),
        StructField(idCol, LongType, nullable = false),
        StructField("gain_micro", LongType, nullable = true))))
    val radius = minDist(pts, selected.map(_._1))
      .agg(max("_md").as("coverage_radius_micro"))
    val n = pts.agg(count(lit(1)).as("n_points"))
    selDf.crossJoin(broadcast(radius)).crossJoin(broadcast(n))
  }
}
