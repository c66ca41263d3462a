package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Grid-blocked nearest-neighbor spatial join: find each probe point's
  * nearest target point by equi-joining on coarse grid cells — the
  * target side is replicated into its 3×3 cell neighborhood, the probe
  * side joins on its OWN cell only, so candidate generation is an
  * equi-join (one shuffle on cell id) and NEVER an all-pairs cross.
  * This is the standard geo-blocking discipline (geohash / S2 cells):
  * at 100 TB the 9× replication of the (small) target side is the
  * entire extra cost, and skewed dense cells are an AQE/salting
  * problem, not an algorithmic one.
  *
  * Approximation contract (documented, inherent to one-ring blocking):
  * a probe whose true nearest neighbor lies ≥2 cells away — possible
  * only when its own 3×3 neighborhood is empty of closer targets —
  * gets the nearest IN-NEIGHBORHOOD target, and a probe with an empty
  * neighborhood gets no row. Widen `cellE6` to trade replication for
  * recall.
  *
  * Exactness: coordinates are integer micro-degrees; the ranking
  * distance is the EXACT integer squared planar degree distance
  * (dlat² + dlon²), so argmin and tie-breaks (smallest target id)
  * never touch floating point; the reported `dist_deg` is one IEEE
  * sqrt at the end.
  */
object SpatialJoin {

  /** @param probes  (idCol, latE6Col, lonE6Col) — integer micro-degrees,
    *                OFFSET-ENCODED NON-NEGATIVE (e.g. latitude+90°):
    *                cell assignment uses integer DIV, whose
    *                truncate-vs-floor semantics diverge between
    *                engines on negative operands
    * @param targets (idCol, latE6Col, lonE6Col)
    * @param cellE6  grid cell size in micro-degrees (e.g. 10000000 =
    *                10°)
    * @return per matched probe: probe id, `nn_id`, `dist2_e12`
    *         (exact integer squared distance in micro-deg²),
    *         `dist_deg` (round 6)
    */
  def nearestNeighbor(
      probes: DataFrame, pIdCol: String, pLatCol: String, pLonCol: String,
      targets: DataFrame, tIdCol: String, tLatCol: String,
      tLonCol: String, cellE6: Long): DataFrame = {
    def cell(c: String) = expr(s"$c DIV ${cellE6}L")
    val p = probes.select(col(pIdCol).as("pid"),
        col(pLatCol).cast("long").as("plat"),
        col(pLonCol).cast("long").as("plon"))
      .withColumn("cla", cell("plat")).withColumn("clo", cell("plon"))
    val off = Seq(-1L, 0L, 1L)
    val t9 = targets.select(col(tIdCol).as("tid"),
        col(tLatCol).cast("long").as("tlat"),
        col(tLonCol).cast("long").as("tlon"))
      .withColumn("dla", explode(lit(off.toArray)))
      .withColumn("dlo", explode(lit(off.toArray)))
      .select(col("tid"), col("tlat"), col("tlon"),
        (expr(s"tlat DIV ${cellE6}L") + col("dla")).as("cla"),
        (expr(s"tlon DIV ${cellE6}L") + col("dlo")).as("clo"))
    val wP = Window.partitionBy("pid")
      .orderBy(col("dist2_e12").asc, col("tid").asc)
    p.join(t9, Seq("cla", "clo"))
      .withColumn("dist2_e12",
        (col("plat") - col("tlat")) * (col("plat") - col("tlat")) +
          (col("plon") - col("tlon")) * (col("plon") - col("tlon")))
      .withColumn("_rn", row_number().over(wP))
      .where(col("_rn") === 1)
      .select(col("pid"), col("tid").as("nn_id"), col("dist2_e12"),
        round(sqrt(col("dist2_e12").cast("double")) / lit(1e6), 6)
          .as("dist_deg"))
  }

  /** Grid-density clustering (DBSCAN-lite): cells with ≥ `minPts`
    * points are dense; dense cells that touch (8-neighborhood) merge
    * into one cluster via connected components. The grid quantization
    * is what makes density clustering tractable at 100 TB: the point
    * set collapses to a cell-count frame after ONE aggregate, and
    * everything else — the adjacency self-join (an equi-join on
    * shifted cell keys, the [[nearestNeighbor]] 3×3 trick) and the
    * component iteration — runs on the dense-cell frame, whose size
    * is bounded by the grid, not the data.
    *
    * @param points  (latE6Col, lonE6Col) non-negative micro-degrees
    * @param cellE6  cell size; `minPts` density threshold
    * @return per cluster: `cluster` (min cell id), `n_cells`,
    *         `n_points`, `cla_min/cla_max/clo_min/clo_max` (cell
    *         bounding box)
    */
  def densityClusters(
      points: DataFrame, latE6Col: String, lonE6Col: String,
      cellE6: Long, minPts: Long): DataFrame = {
    val cells = points.select(
        expr(s"CAST($latE6Col AS LONG) DIV ${cellE6}L").as("cla"),
        expr(s"CAST($lonE6Col AS LONG) DIV ${cellE6}L").as("clo"))
      .groupBy("cla", "clo").agg(count(lit(1)).as("n_pts"))
      .where(col("n_pts") >= minPts)
      // Cell key: interleave-free encoding — grids are ≪ 1e6 cells
      // per axis by construction.
      .withColumn("cell", col("cla") * lit(1000000L) + col("clo"))
      .transform(Pin.shared)
    val off = Seq(-1L, 0L, 1L)
    val shifted = cells.select(col("cell").as("nb_cell"),
        col("cla"), col("clo"))
      .withColumn("dla", explode(lit(off.toArray)))
      .withColumn("dlo", explode(lit(off.toArray)))
      .where(col("dla") =!= 0L || col("dlo") =!= 0L)
      .select((col("cla") + col("dla")).as("cla"),
        (col("clo") + col("dlo")).as("clo"), col("nb_cell"))
    val edges = cells.join(shifted, Seq("cla", "clo"))
      .select(col("cell").as("src"), col("nb_cell").as("dst"))
      .where(col("src") < col("dst"))
    // Star-contraction, not hash-min: a dense blob snaking across the
    // grid has diameter ~ grid width (hash-min needs that many
    // rounds; star contraction needs O(log²)).
    val comp = Components.connectedComponentsStar(
      cells.select(col("cell")), "cell", edges, "src", "dst")
    cells.join(comp.select(col("id").as("cell"), col("component")),
        Seq("cell"))
      .groupBy(col("component").as("cluster"))
      .agg(count(lit(1)).as("n_cells"), sum("n_pts").as("n_points"),
        min("cla").as("cla_min"), max("cla").as("cla_max"),
        min("clo").as("clo_min"), max("clo").as("clo_max"))
  }
}
