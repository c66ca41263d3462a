package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank over a document graph — link-analysis centrality as a
  * CURATION signal: on a near-duplicate / citation / hyperlink graph,
  * high-rank documents are the well-connected canonical sources and
  * low-rank isolates are one-off noise; Common-Crawl-scale pipelines
  * use exactly this as a quality prior for seed selection and
  * crawl frontier ordering.
  *
  * Standard damped formulation with uniform teleport and dangling-mass
  * redistribution: pr_{i+1}(u) = (1−d)/N + d·(Σ_{v→u} pr_i(v)/deg(v)
  * + D_i/N), D_i = Σ pr_i over zero-out-degree nodes. Fixed iteration
  * count (power iteration converges geometrically at rate d; the
  * oracle unrolls the same rounds, so determinism beats an epsilon
  * stop).
  *
  * Scale shape: ONLY EDGE ENDPOINTS iterate — on a near-dup graph
  * where most documents are isolates, the frame in flight is the small
  * dup-involved subset, the same posture as [[Components]]. Isolates
  * never receive link contributions, so their rank follows a
  * closed-form scalar recurrence (teleport + dangling share), computed
  * as driver arithmetic and joined back once at the end; with edges
  * restricted to nodes, every iterating node has degree ≥ 1, so the
  * per-round dangling aggregate disappears entirely. Per iteration:
  * ONE shuffle join (edges × ranks) + one map-side-combinable sum per
  * destination — the BSP round every distributed PageRank (Pregel,
  * GraphX) runs, expressed on DataFrames so AQE/Tungsten stay in play.
  * Lineage is truncated per round with [[Pin.loop]] —
  * the iterative-Spark failure mode [[Components]] documents.
  */
object PageRank {

  /** The frames both variants iterate over: node `ids` (`id`), the
    * symmetrized edge set `sym` (`src`, `dst`; persisted, so the caller
    * unpersists it) and each endpoint's degree `deg` (`id`, `deg`).
    *
    * Edges with an endpoint OUTSIDE `nodes` would silently leak rank
    * mass (their contributions join to nothing) — both endpoints are
    * restricted up front so the mass invariant (Σpr ≈ 1) holds on any
    * input, the same absent-endpoint trap Components had to close.
    */
  private def graph(
      nodes: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val ids = nodes.select(col(idCol).cast("long").as("id")).distinct()
    val sym = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .union(edges
        .select(col(dstCol).cast("long").as("src"), col(srcCol).cast("long").as("dst")))
      .distinct()
      .join(ids.withColumnRenamed("id", "src"), "src")
      .join(ids.withColumnRenamed("id", "dst"), "dst")
      .persist()
    val deg = sym.groupBy("src").agg(count(lit(1)).cast("double").as("deg"))
      .withColumnRenamed("src", "id")
    (ids, sym, deg)
  }

  /** Rank nodes of an UNDIRECTED graph (edges are symmetrized; pass a
    * directed edge list through unchanged if direction matters by
    * symmetrizing upstream — this op treats each input pair as one
    * mutual link).
    *
    * @param nodes one row per node (`idCol`); isolated nodes rank at
    *              the teleport floor plus their dangling share
    * @param iters fixed power-iteration rounds
    * @return (`id`, `pr`) — pr rounded to `scale` decimals, summing to
    *         ~1 over the graph
    */
  def run(
      nodes: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      damping: Double = 0.85, iters: Int = 5, scale: Int = 6): DataFrame = {
    require(damping > 0 && damping < 1, s"damping in (0,1): $damping")
    require(iters > 0, s"iters must be positive: $iters")
    val (ids, sym, deg) = graph(nodes, idCol, edges, srcCol, dstCol)
    val endpoints = deg.select("id")
    // Graph metadata (node/isolate counts), not data — two count()
    // actions up front, none inside the loop.
    val n = ids.count().toDouble
    val nIso = n - endpoints.count().toDouble
    val d = damping

    // Isolates: pr_i = (1−d)/n + d·D_{i-1}/n with dangling mass
    // D_{i-1} = nIso·prIso_{i-1} — scalar recurrence, identical IEEE
    // double steps to the oracle's unrolled 1-row CTEs.
    var prIso = 1.0 / n
    var cur = endpoints.withColumn("pr", lit(1.0 / n)).transform(Pin.shared)
    for (it <- 1 to iters) {
      val dmass = nIso * prIso
      val contribs = sym
        .join(cur.join(deg, "id")
          .select(col("id").as("src"), (col("pr") / col("deg")).as("c")), "src")
        .groupBy(col("dst").as("id"))
        .agg(sum("c").as("contrib"))
      // Pin.loop: iters is caller-chosen (Pin's planning-knee doc).
      cur = Pin.loop(it, endpoints
        .join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit((1.0 - d) / n) +
            lit(d) * (coalesce(col("contrib"), lit(0.0)) + lit(dmass / n)))
            .as("pr")))
      prIso = (1.0 - d) / n + d * (dmass / n)
    }
    sym.unpersist()
    ids.join(cur, Seq("id"), "left")
      .select(col("id"), round(coalesce(col("pr"), lit(prIso)), scale).as("pr"))
  }

  /** PERSONALIZED PageRank (TrustRank, Gyöngyi et al. VLDB'04): the
    * restart distribution is uniform over a SEED set instead of all
    * nodes, so rank becomes propagated trust — seed a vetted sample of
    * sources, walk the near-dup/link graph, and documents unreachable
    * from any seed score EXACTLY zero (the spam-demotion signal
    * uniform PageRank structurally cannot express, since its teleport
    * floor lifts every node).
    *
    * Same recurrence with s(u) = 1/|S| on seeds else 0:
    * pr_{t+1}(u) = (1−d)·s(u) + d·(Σ_{v→u} pr_t(v)/deg(v) + D_t·s(u)),
    * pr_0 = s. Dangling mass restarts INTO the seeds, so Σpr ≈ 1 over
    * the graph.
    *
    * Scale shape inherits [[run]]: only edge endpoints iterate; the
    * sole dangling nodes are ISOLATED seeds, whose rank follows a
    * scalar recurrence computed as driver arithmetic; non-seed
    * non-endpoint nodes are exact 0 without ever entering the loop.
    *
    * @param seeds one row per trusted node (`seedIdCol`); ids outside
    *              `nodes` are ignored
    */
  def personalized(
      nodes: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, seedIdCol: String,
      damping: Double = 0.85, iters: Int = 5, scale: Int = 6): DataFrame = {
    require(damping > 0 && damping < 1, s"damping in (0,1): $damping")
    require(iters > 0, s"iters must be positive: $iters")
    val (ids, sym, deg) = graph(nodes, idCol, edges, srcCol, dstCol)
    val endpoints = deg.select("id")
    val seedIds = seeds.select(col(seedIdCol).cast("long").as("id"))
      .distinct().join(ids, "id").transform(Pin.shared)
    // ONE action computes both seed counts (total + isolated): the
    // fused left-join aggregate replaces two separate count() jobs in
    // the pre-round setup (round-14 shave; q83/q372 pay this once).
    val seedStats = seedIds
      .join(endpoints.withColumn("_e", lit(1L)), Seq("id"), "left")
      .agg(count(lit(1)).as("_n"), sum("_e").as("_conn"))
      .collect()(0)
    val nS = seedStats.getLong(0).toDouble
    require(nS > 0, "personalized PageRank needs at least one seed in the graph")
    val kIso = nS -
      (if (seedStats.isNullAt(1)) 0.0 else seedStats.getLong(1).toDouble)
    val d = damping
    // s(u) over the iterating frame, materialized once per run.
    val sVec = endpoints
      .join(seedIds.withColumn("_s1", lit(1.0)), Seq("id"), "left")
      .select(col("id"), (coalesce(col("_s1"), lit(0.0)) / nS).as("s"))
      .transform(Pin.shared)
    var prIsoSeed = 1.0 / nS
    var cur = sVec.select(col("id"), col("s").as("pr")).transform(Pin.shared)
    for (it <- 1 to iters) {
      val dmass = kIso * prIsoSeed
      val contribs = sym
        .join(cur.join(deg, "id")
          .select(col("id").as("src"), (col("pr") / col("deg")).as("c")), "src")
        .groupBy(col("dst").as("id"))
        .agg(sum("c").as("contrib"))
      cur = Pin.loop(it, sVec
        .join(contribs, Seq("id"), "left")
        .select(col("id"),
          (lit(1.0 - d) * col("s") +
            lit(d) * (coalesce(col("contrib"), lit(0.0)) +
              lit(dmass) * col("s"))).as("pr")))
      prIsoSeed = (1.0 - d) / nS + d * dmass / nS
    }
    sym.unpersist()
    ids.join(cur, Seq("id"), "left")
      .join(seedIds.withColumn("_seed", lit(true)), Seq("id"), "left")
      .select(col("id"),
        round(coalesce(col("pr"),
          when(col("_seed"), lit(prIsoSeed)).otherwise(lit(0.0))), scale)
          .as("pr"))
  }
}
