package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Node-level triangle counting and local clustering coefficient —
  * the graph-cohesion metrics (how clique-ish is each node's
  * neighborhood) that complement the component/centrality tier
  * (`Components`, `PageRank`): a near-dup cluster whose members all
  * pairwise match is solid; a star around one hub is suspect.
  *
  * Enumeration is the standard oriented two-hop join: undirected
  * edges are canonicalized (lo, hi) and each triangle is generated
  * exactly once as a<b<c via e(a,b) ⋈ e(b,c) ⋈ e(a,c). At scale the
  * orientation is by (degree, id) — each wedge is generated at its
  * LOWEST-degree vertex, the Schank–Wagner bound that keeps a
  * hub's wedge count at O(m^1.5) total instead of O(deg²) — and
  * since any consistent total order counts each triangle exactly
  * once, an engine using plain id order reproduces the counts.
  */
object GraphMetrics {

  /** Canonical undirected edge set `a` < `b`: orientation folded,
    * self-loops and duplicate edges dropped.
    */
  private def undirected(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges
      .select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .where(col("a") =!= col("b"))
      .distinct()

  /** Per-`node` `degree` over a canonical edge set. */
  private def degrees(e: DataFrame): DataFrame =
    e.select(col("a").as("node"))
      .unionAll(e.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("degree"))

  /** The canonical edges with both ends' degrees, `da` and `db`. */
  private def withEndDegrees(e: DataFrame, deg: DataFrame): DataFrame =
    e.join(deg.select(col("node").as("a"), col("degree").as("da")), "a")
      .join(deg.select(col("node").as("b"), col("degree").as("db")), "b")

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * the degrees at the two ends of each edge — positive = hubs link
    * hubs (social shape), negative = hubs link leaves (hub-and-spoke
    * infrastructure shape). Every moment is an exact integer sum
    * over the 2m directed edge ends; the final coefficient is one
    * fixed-shape double expression (the q167 recipe).
    *
    * @return one row: `m` (undirected edges), `r` (round 6; null for
    *         degree-regular graphs, whose variance is 0)
    */
  def assortativity(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = undirected(edges, srcCol, dstCol)
    val deg = degrees(e)
    val withDeg = withEndDegrees(e, deg)
    // both orientations so the correlation is symmetric
    val ends = withDeg.select(col("da").as("x"), col("db").as("y"))
      .unionAll(withDeg.select(col("db").as("x"), col("da").as("y")))
    val mo = ends.agg(count(lit(1)).as("n2"),
      sum("x").as("sx"), sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"))
    def d(c: String) = col(c).cast("double")
    // x and y are exchangeable (both orientations present): means and
    // variances coincide, so r = (n·Σxy − Σx²̄)/(n·Σx² − (Σx)²).
    val num = d("n2") * d("sxy") - d("sx") * d("sx")
    val den = d("n2") * d("sxx") - d("sx") * d("sx")
    mo.select((col("n2") / 2).cast("long").as("m"),
      round(when(den > 0.0, num / den), 6).as("r"))
  }

  /** Power-law exponent of the degree distribution, by the
    * continuous-approximation MLE (Clauset, Shalizi & Newman, SIAM
    * Rev. 2009): α̂ = 1 + n_tail / Σ ln(d/(dmin − ½)) over nodes with
    * degree ≥ dmin. The "is this graph scale-free" readout — a
    * near-dup graph with α ≈ 2 has hub documents duplicated
    * everywhere (template/boilerplate), α ≫ 3 means duplication is
    * local.
    *
    * One degree aggregate; each ln is snapped to integer nano-nats
    * before the tail sum (order-free across engines).
    *
    * @return one row: `n_nodes`, `n_tail` (degree ≥ dmin), `d_min`,
    *         `d_max`, `alpha` (round 4; null if the tail is empty)
    */
  def powerLawAlpha(
      edges: DataFrame, srcCol: String, dstCol: String,
      dmin: Int): DataFrame = {
    val e = undirected(edges, srcCol, dstCol)
    val deg = degrees(e)
    deg.agg(count(lit(1)).as("n_nodes"),
        sum(when(col("degree") >= dmin, 1L).otherwise(0L)).as("n_tail"),
        min("degree").as("d_min"), max("degree").as("d_max"),
        sum(when(col("degree") >= dmin,
          round(log(col("degree").cast("double") /
            lit(dmin.toDouble - 0.5)) * lit(1e9)).cast("long"))
          .otherwise(0L)).as("_sln"))
      .select(col("n_nodes"), col("n_tail"), col("d_min"), col("d_max"),
        round(when(col("_sln") > 0, lit(1.0) +
          col("n_tail").cast("double") /
            (col("_sln").cast("double") / lit(1e9))), 4).as("alpha"))
  }

  /** k-core decomposition by FIXED peeling rounds: repeatedly remove
    * nodes with degree < k and their incident edges — the survivors
    * after convergence are the k-core, the maximal subgraph where
    * everyone keeps ≥ k neighbors. On a near-dup graph the 2-core
    * separates genuinely clustered duplication from pendant one-off
    * matches that components/PageRank both count.
    *
    * Fixed `rounds` (not convergence) keeps the output a pure
    * function of the graph, oracle-replayable round for round; for
    * clump-shaped dedup graphs peeling settles in 2–3 rounds (chains
    * peel one layer per round — raise `rounds` for path-like
    * graphs). Per round: one degree aggregate + two semi-joins, the
    * Components cost shape, with per-round lineage cuts.
    *
    * @return nodes surviving `rounds` peels: `node`, `core_degree`
    *         (degree within the surviving subgraph)
    */
  def kCore(
      edges: DataFrame, srcCol: String, dstCol: String, k: Int,
      rounds: Int): DataFrame = {
    var sym = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .union(edges.select(col(dstCol).cast("long").as("src"),
        col(srcCol).cast("long").as("dst")))
      .distinct()
      .transform(Pin.shared)
    (1 to rounds).foreach { rnd =>
      val keep = sym.groupBy("src").agg(count(lit(1)).as("dg"))
        .where(col("dg") >= k).select(col("src").as("n"))
      sym = Pin.loop(rnd, sym
        .join(keep.select(col("n").as("src")), "src")
        .join(keep.select(col("n").as("dst")), "dst")
        .select("src", "dst"))
    }
    // No post-filter: degrees < k surviving here mean `rounds` was
    // too small for this graph's peel depth — visible, not hidden.
    sym.groupBy(col("src").as("node"))
      .agg(count(lit(1)).as("core_degree"))
  }

  /** Newman–Girvan modularity of a node partition: Q = Σ_c [ e_c/m −
    * (d_c/2m)² ] — how much denser inside-community edges are than a
    * degree-preserving random rewiring. THE quality gate for a
    * clustering of the near-dup graph: components with Q near 0 mean
    * the "clusters" are no better than chance.
    *
    * Exactness: Q = (4m·Σe_c − Σd_c²) / (4m²) — numerator and
    * denominator are exact integer sums (intra-community edge counts,
    * squared community degree sums), so the emitted double is one
    * division. Scale shape: two equi-joins of edges against the label
    * frame (shuffles on node id), then community-sized aggregates.
    *
    * @return one row: `m` (undirected edges), `n_communities`
    *         (labels with ≥1 member incl. singletons),
    *         `n_linked_communities` (with ≥1 intra edge),
    *         `modularity` (round 6)
    */
  def modularity(
      edges: DataFrame, srcCol: String, dstCol: String,
      labels: DataFrame, nodeCol: String, labelCol: String): DataFrame = {
    // Edge and label inputs are often EXPENSIVE plans (a minhash
    // near-dup pipeline, an iterative components run) and each is
    // referenced several times below — cut their lineage once so the
    // report costs one evaluation of each, not five (measured 28.7 s
    // → 4.1 s on q232 at sf0.1).
    val e = undirected(edges, srcCol, dstCol)
      .transform(Pin.shared)
    val lab = labels.select(col(nodeCol).as("node"),
        col(labelCol).as("lbl"))
      .transform(Pin.shared)
    val labeled = e
      .join(lab.select(col("node").as("a"), col("lbl").as("la")), "a")
      .join(lab.select(col("node").as("b"), col("lbl").as("lb")), "b")
      .transform(Pin.shared)
    val intra = labeled.where(col("la") === col("lb"))
      .groupBy(col("la").as("lbl")).agg(count(lit(1)).as("e_c"))
    val degPerLbl = labeled.select(col("la").as("lbl"))
      .unionAll(labeled.select(col("lb").as("lbl")))
      .groupBy("lbl").agg(count(lit(1)).as("d_c"))
    val m = e.agg(count(lit(1)).as("m"))
    val nComm = lab.select("lbl").distinct()
      .agg(count(lit(1)).as("n_communities"))
    val sums = degPerLbl.join(intra, Seq("lbl"), "left")
      .agg(count(lit(1)).as("n_linked_communities"),
        sum(coalesce(col("e_c"), lit(0L))).as("_se"),
        sum(col("d_c") * col("d_c")).as("_sd2"))
    // Three 1-row broadcast crosses: the report frame.
    m.crossJoin(broadcast(nComm)).crossJoin(broadcast(sums))
      .select(col("m"), col("n_communities"), col("n_linked_communities"),
        (round((lit(4L) * col("m") * col("_se") - col("_sd2"))
          .cast("double") /
          (lit(4L) * col("m") * col("m")).cast("double"), 6) + lit(0.0))
          .as("modularity"))
  }

  /** @param edges two columns `srcCol`, `dstCol` (undirected; dups
    *              and self-loops are dropped)
    * @return one row per node: `node`, `degree`, `triangles`,
    *         `clustering` = 2T/(d(d−1)) rounded to 4 (0.0 for d<2)
    */
  def triangleStats(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val e = undirected(edges, srcCol, dstCol)
    val deg = degrees(e)
    // Orient by (degree, id): wedges form at the lowest-degree vertex.
    val withDeg = withEndDegrees(e, deg)
    val oriented = withDeg.select(
      when(struct(col("da"), col("a")) < struct(col("db"), col("b")),
        struct(col("a").as("lo"), col("b").as("hi")))
        .otherwise(struct(col("b").as("lo"), col("a").as("hi")))
        .as("o"))
      .select(col("o.lo").as("u"), col("o.hi").as("v"))
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.u") === col("e2.u") && col("e1.v") < col("e2.v"))
      .select(col("e1.u").as("w0"), col("e1.v").as("w1"),
        col("e2.v").as("w2"))
    // Close the wedge with the original undirected edge set.
    val tri = wedges.join(e,
      (least(col("w1"), col("w2")) === col("a")) &&
        (greatest(col("w1"), col("w2")) === col("b")))
      .select(col("w0"), col("w1"), col("w2"))
    val perNode = tri
      .select(explode(array(col("w0"), col("w1"), col("w2"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("node"), "left")
      .select(col("node"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        round(when(col("degree") >= 2,
          lit(2.0) * coalesce(col("triangles"), lit(0L)).cast("double") /
            (col("degree").cast("double") *
              (col("degree").cast("double") - 1.0)))
          .otherwise(0.0), 4).as("clustering"))
  }
}
