package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed connected components — the missing last step of every
  * near-duplicate pipeline. Pair finders ([[Dedup.minhashNearDups]],
  * [[Dedup.simhashNearDups]], [[Dedup.ngramJaccardPairs]]) emit EDGES;
  * deduplication needs CLUSTERS: if A~B and B~C, then {A,B,C} is one
  * duplicate group and exactly one representative should survive, even
  * though (A,C) was never emitted as a pair. Keeping "one of each pair"
  * without clustering either under-deletes (transitive dups survive) or
  * over-deletes (both endpoints dropped).
  *
  * Algorithm: hash-min label propagation (the standard BSP/Pregel
  * formulation). Every node starts labeled with its own id; each round,
  * every node takes the min of its label and its neighbors' labels; at
  * the fixpoint every node carries the min id of its component. One
  * round = one shuffle join (labels × symmetric edges) + one min
  * aggregate — both map-side combinable — and the number of rounds is
  * the graph DIAMETER. Near-dup graphs are dense clumps with tiny
  * diameter (pairs exist because documents overlap heavily, so cluster
  * members are mostly directly connected): 2–4 rounds in practice. For
  * adversarially high-diameter graphs (long chains), the two-phase
  * large-star/small-star algorithm of Kiveris et al., "Connected
  * Components in MapReduce and Beyond" (SoCC'14), converges in
  * O(log² n) rounds with the same per-round shape — swap the loop body,
  * keep the contract.
  *
  * Driver involvement is one cheap convergence probe per round — the
  * changed-or-not flag is computed INSIDE the round's update join
  * (`cand < component` is a column of the checkpointed result), so
  * testing the fixpoint is a filter scan over already-materialized
  * blocks, not a second join+count pass. Propagation is DELTA-based:
  * only nodes whose label moved last round re-broadcast (a stable
  * label was already sent the round it was adopted), so after round 1
  * the dominant edges×labels join runs against the shrinking frontier,
  * not the full label frame. Lineage is truncated with a [[Pin.loop]]
  * per round so the plan does not grow with the iteration count — the
  * classic iterative-Spark failure mode. Only
  * edge ENDPOINTS iterate: nodes touching no edge can never change
  * label, so singletons sit out of the loop and are joined back at the
  * end — on a near-dup graph where most docs are unique, the frame in
  * flight is the small dup-involved subset, not the whole corpus.
  */
object Components {

  /** Label every node with the smallest node id reachable from it.
    *
    * @param nodes one row per node (`idCol`, long-castable); endpoints
    *              absent from `nodes` are seeded like any other node
    *              (the min-id invariant holds for them) and appear in
    *              the output
    * @param edges undirected pair list (`srcCol`, `dstCol`); duplicates
    *              and orientation don't matter
    * @return (`id`, `component`) — component = min node id, so a node
    *         is its cluster's canonical representative iff
    *         `id == component`
    * @throws IllegalStateException if not converged in `maxIter` rounds
    *         (diameter > maxIter: raise it, or switch to star-contraction)
    */
  def connectedComponents(
      nodes: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 20): DataFrame = {
    val sym = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .union(edges
        .select(col(dstCol).cast("long").as("src"), col(srcCol).cast("long").as("dst")))
      .distinct() // parallel edges would only re-send identical messages
      .persist()

    val allNodes = nodes.select(col(idCol).cast("long").as("id")).distinct()

    // Seed from the edge endpoints themselves: every endpoint proposes
    // its own id, so the min-id invariant holds even for endpoints
    // missing from `nodes`. Non-endpoint nodes are singletons — they
    // never change and rejoin after the loop. Everyone starts in the
    // frontier: each node must announce its own label once.
    var ckpt = sym.select(col("src").as("id")).distinct()
      .select(col("id"), col("id").as("component"), lit(true).as("changed"))
      .transform(Pin.shared)

    var round = 0
    var converged = false
    while (!converged && round < maxIter) {
      // Delta propagation: only FRONTIER nodes (label moved last round)
      // re-broadcast. A node whose label is stable already sent that
      // label the round it adopted it, so re-sending is pure shuffle
      // waste — on near-dup clump graphs most labels settle in round 1
      // and the frontier collapses to a sliver, taking the dominant
      // edges×labels join with it. Same fixpoint, same round count
      // (a min label still travels one hop per round).
      val labels = ckpt.select("id", "component")
      val cand = sym
        .join(ckpt.where(col("changed"))
          .select(col("id").as("src"), col("component")), "src")
        .groupBy(col("dst").as("id"))
        .agg(min("component").as("cand"))
      // Pin.loop: maxIter=20 reaches past the planning knee in Pin's
      // doc, so long-diameter graphs need the periodic rebase.
      val next = Pin.loop(round, labels
        .join(cand, Seq("id"), "left")
        .select(col("id"),
          least(col("component"), col("cand")).as("component"),
          coalesce(col("cand") < col("component"), lit(false)).as("changed")))
      // The probe reads the blocks the checkpoint just materialized —
      // no join, no shuffle, stops at the first changed row.
      converged = next.where(col("changed")).isEmpty
      ckpt = next
      round += 1
    }
    sym.unpersist()
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents: no fixpoint after $maxIter rounds — " +
          "graph diameter exceeds maxIter")
    // Singletons (and any node absent from the edge set) label
    // themselves; endpoints absent from `nodes` still surface.
    allNodes.join(ckpt.select("id", "component"), Seq("id"), "full_outer")
      .select(col("id"), coalesce(col("component"), col("id")).as("component"))
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC'14) — the adversarial-diameter counterpart to
    * [[connectedComponents]]: O(log² n) rounds regardless of graph
    * shape, where hash-min needs diameter rounds (a 10M-link chain
    * would need 10M rounds of hash-min but ~50 star rounds). Per round
    * the work is the same shape as hash-min — a min aggregate per node
    * plus one join — so the constant factor is comparable; prefer
    * hash-min for near-dup clump graphs (2–4 rounds, no except()-based
    * convergence scan), this for graphs whose diameter is unknown.
    *
    * Round = large-star (every neighbor LARGER than u re-attaches to
    * u's neighborhood minimum) then small-star (every neighbor ≤ u,
    * and u itself, attach to that minimum). The fixpoint is a forest of
    * stars rooted at each component's min id; both operators preserve
    * connectivity, so the stars are exactly the components — validated
    * against a local union-find AND against hash-min on random graphs
    * in ComponentsPropertySpec.
    */
  def connectedComponentsStar(
      nodes: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      maxIter: Int = 30): DataFrame = {
    // canonical undirected form: (a < b), no self-loops, no dups
    def canon(df: DataFrame): DataFrame = df
      .select(least(col("a"), col("b")).as("a"), greatest(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b")).distinct()
    // both orientations, as (u, neighbor v)
    def sym(df: DataFrame): DataFrame =
      df.select(col("a").as("u"), col("b").as("v"))
        .union(df.select(col("b").as("u"), col("a").as("v")))
    // neighborhood minimum per node, u itself a candidate
    def minOfStar(s: DataFrame): DataFrame = s.groupBy("u")
      .agg(min("v").as("mn"))
      .select(col("u"), least(col("u"), col("mn")).as("m"))

    var cur = canon(edges.select(
      col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b")))
      .transform(Pin.shared)
    var round = 0
    var converged = cur.isEmpty
    while (!converged && round < maxIter) {
      val s1 = sym(cur)
      val large = canon(s1.join(minOfStar(s1), "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("a"), col("m").as("b")))
      val s2 = sym(large)
      val m2 = minOfStar(s2)
      // Pin.loop: star rounds are bounded O(log² n) but maxIter=30
      // allows generations past the planning knee (Pin's doc).
      val small = Pin.loop(round, canon(
        s2.join(m2, "u").filter(col("v") <= col("u"))
          .select(col("v").as("a"), col("m").as("b"))
          .union(m2.select(col("u").as("a"), col("m").as("b")))))
      // Fixpoint = same canonical edge set. Equal counts + empty
      // one-sided except ⇒ set equality (both are distinct sets).
      converged = small.count() == cur.count() &&
        small.exceptAll(cur).isEmpty
      cur = small
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsStar: no fixpoint after $maxIter rounds")
    // Star state: every non-root has exactly its (root, node) edge;
    // roots and singletons label themselves.
    nodes.select(col(idCol).cast("long").as("id")).distinct()
      .join(cur.groupBy(col("b").as("id")).agg(min("a").as("root")), Seq("id"), "left")
      .select(col("id"), coalesce(col("root"), col("id")).as("component"))
  }

  /** Multi-source BFS hop distance — "how far is every node from the
    * seed set": frontier expansion with FIXED `maxHops` rounds, each
    * round one edges⋈frontier shuffle + an anti-join against the
    * already-settled set, lineage cut per round (the
    * [[connectedComponents]] discipline). Unreachable nodes (and
    * nodes beyond `maxHops`) report null distance — counted by the
    * caller, never silently dropped. The distance complement of the
    * component tier: membership says WHETHER two docs are linked,
    * hops says HOW CLOSE (contamination radius around a flagged
    * seed, influence rings around a canonical doc).
    *
    * @return (`idCol`, `hops`) for every node in `nodes`; `hops` null
    *         if unreached within `maxHops`
    */
  def bfsDistance(
      nodes: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      seeds: DataFrame, maxHops: Int): DataFrame = {
    require(maxHops >= 0, s"maxHops must be non-negative: $maxHops")
    val sym = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .union(edges.select(col(dstCol).cast("long").as("src"),
        col(srcCol).cast("long").as("dst")))
      .distinct()
      .persist()
    var settled = seeds
      .select(col(seeds.columns.head).cast("long").as("id"))
      .distinct()
      .withColumn("hops", lit(0))
      .transform(Pin.shared)
    var frontier = settled
    var hop = 1
    while (hop <= maxHops && !frontier.isEmpty) {
      // Pin.loop: maxHops is caller-chosen and may exceed the
      // planning knee (Pin's doc).
      val next = Pin.loop(hop, frontier
        .join(sym, frontier("id") === sym("src"))
        .select(col("dst").as("id"))
        .distinct()
        .join(settled.select("id"), Seq("id"), "left_anti")
        .withColumn("hops", lit(hop)))
      settled = Pin.loop(hop, settled.unionByName(next))
      frontier = next
      hop += 1
    }
    sym.unpersist()
    nodes.select(col(idCol).cast("long").as("id"))
      .join(settled, Seq("id"), "left")
      .select(col("id").as(idCol), col("hops"))
  }

  /** Near-dup clusters with sizes: every doc labeled with its
    * component's canonical (min) doc id and the cluster row count.
    * Singletons (no near-dup) are their own component of size 1.
    * The dedup decision is then a filter: keep `doc_id == component`.
    */
  def dedupClusters(
      docs: DataFrame, idCol: String,
      pairs: DataFrame, srcCol: String, dstCol: String): DataFrame = {
    val cc = connectedComponents(docs.select(idCol), idCol, pairs, srcCol, dstCol)
    val sizes = cc.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    cc.join(sizes, "component")
      .select(col("id").as(idCol), col("component"), col("cluster_size"))
  }

  /** Pick the CANONICAL document per near-dup cluster by explicit
    * quality ordering — max quality, ties to the smallest id. Dedup
    * should keep the best copy of duplicated content, not the oldest:
    * min-id canonicalization (what the curation funnel's exact stage
    * uses, where copies are identical) silently keeps truncated or
    * boilerplate-laden variants when near-dups differ in quality.
    *
    * Scale shape: one join of the cluster assignment to the quality
    * column and one rank window PARTITIONED by component — cluster
    * keys are high-cardinality, so no global ordering anywhere.
    *
    * @return one row per cluster: `component`, `cluster_size`,
    *         `keep_id`, `keep_<qualityCol>`
    */
  def canonicalPerCluster(
      clusters: DataFrame, idCol: String,
      quality: DataFrame, qualityCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("component")
      .orderBy(col(qualityCol).desc, col(idCol))
    clusters
      .join(quality.select(col(idCol), col(qualityCol)), Seq(idCol))
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .select(col("component"), col("cluster_size"),
        col(idCol).as("keep_id"),
        col(qualityCol).as(s"keep_$qualityCol"))
  }

  /** Similarity-weighted medoid per cluster: the member with the
    * highest total verified-pair similarity to its cluster mates
    * (ties to the smallest id) — the "most central copy", which is a
    * better keeper than [[canonicalPerCluster]]'s quality rank when
    * no quality signal exists and better than min-id always (min-id
    * can keep an outlier member connected by one weak edge).
    * Similarity beyond the verified pairs is 0 by construction — the
    * medoid is over the SAME evidence the clustering used.
    *
    * One weighted-degree aggregate over the (both-orientation) pair
    * frame + one rank window partitioned by component.
    *
    * @param pairs verified pairs (aCol, bCol, simCol)
    * @return per cluster with ≥2 members: `component`,
    *         `cluster_size`, `medoid_id`, `medoid_sim_sum`
    *         (round 4), `minid_keeper` (the naive choice, for
    *         contrast)
    */
  def medoidPerCluster(
      clusters: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      simCol: String): DataFrame = {
    val simU = round(col(simCol) * lit(1e4)).cast("long")
    val ends = pairs.select(col(aCol).as("id"), simU.as("su"))
      .unionAll(pairs.select(col(bCol).as("id"), simU.as("su")))
      .groupBy("id").agg(sum("su").as("deg_su"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("component")
      .orderBy(col("deg_su").desc, col(idCol).asc)
    clusters.where(col("cluster_size") >= 2)
      .join(ends.withColumnRenamed("id", idCol), Seq(idCol), "left")
      .withColumn("deg_su", coalesce(col("deg_su"), lit(0L)))
      .withColumn("_rk", row_number().over(w))
      .withColumn("_min", min(col(idCol)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("component")))
      .where(col("_rk") === 1)
      .select(col("component"), col("cluster_size"),
        col(idCol).as("medoid_id"),
        round(col("deg_su").cast("double") / lit(1e4), 4)
          .as("medoid_sim_sum"),
        col("_min").as("minid_keeper"))
  }

  /** Adjusted Rand Index between two partitions of the same node set
    * (Hubert & Arabie 1985): pair-counting agreement corrected for
    * chance — THE metric for "how much does the clustering change if
    * I move the threshold", where raw label comparison is
    * meaningless (labels are arbitrary).
    *
    * All pair counts are exact integer binomials from the
    * contingency table (one join + three aggregates, all
    * partition-sized); the index itself is one fixed-shape double
    * expression. ARI = 1 ⇔ identical partitions; ≈ 0 ⇔ independent.
    *
    * @param a/b (nodeCol, labelCol-a / labelCol-b) — must cover the
    *            same nodes
    * @return one row: `n_nodes`, `n_clusters_a`, `n_clusters_b`,
    *         `ari` (round 6)
    */
  def adjustedRandIndex(
      a: DataFrame, b: DataFrame, nodeCol: String,
      labelACol: String, labelBCol: String): DataFrame = {
    val joined = a.select(col(nodeCol).as("node"),
        col(labelACol).as("la"))
      .join(b.select(col(nodeCol).as("node"), col(labelBCol).as("lb")),
        Seq("node"))
      .transform(Pin.shared)
    // Integer DIV keeps the binomial exact in int64 for any cluster
    // size — Spark's `/` on longs is double division, exact only
    // below 2^53 (cluster sizes under ~9.5e7). The product is always
    // even, so DIV loses nothing, and it now matches the oracle's
    // BIGINT `//` bit for bit at any scale.
    def choose2(name: String) = expr(s"($name * ($name - 1L)) DIV 2L")
    val cont = joined.groupBy("la", "lb").agg(count(lit(1)).as("nij"))
      .agg(sum(choose2("nij")).as("_sij"))
    val ra = joined.groupBy("la").agg(count(lit(1)).as("ai"))
      .agg(count(lit(1)).as("n_clusters_a"),
        sum(choose2("ai")).as("_sa"))
    val rb = joined.groupBy("lb").agg(count(lit(1)).as("bj"))
      .agg(count(lit(1)).as("n_clusters_b"),
        sum(choose2("bj")).as("_sb"))
    val nTot = joined.agg(count(lit(1)).as("n_nodes"))
    def d(c: String) = col(c).cast("double")
    nTot.crossJoin(broadcast(cont)).crossJoin(broadcast(ra))
      .crossJoin(broadcast(rb))
      .withColumn("_nc2", choose2("n_nodes").cast("double"))
      .withColumn("_exp", d("_sa") * d("_sb") / col("_nc2"))
      .select(col("n_nodes"), col("n_clusters_a"), col("n_clusters_b"),
        (round((d("_sij") - col("_exp")) /
          ((d("_sa") + d("_sb")) / lit(2.0) - col("_exp")), 6)
          + lit(0.0)).as("ari"))
  }

  /** Synchronous label propagation (Raghavan et al., PRE 2007) with a
    * DETERMINISTIC update: each round every node adopts the most
    * frequent label among its neighbors, ties to the SMALLEST label;
    * isolated nodes keep their own. Where [[connectedComponents]]
    * answers "what is reachable", LPA answers "what is densely knit" —
    * a chain of weak bridges stays one component but fragments into
    * communities.
    *
    * Plain-vanilla LPA is tie-broken at random and run to
    * oscillation-prone convergence; fixing the tie-break to min-label
    * and the round count to `rounds` makes the output a pure function
    * of the graph, replayable by the oracle round for round.
    *
    * Scale shape: per round one edges⋈labels shuffle, a (node, label)
    * count aggregate, and a per-node argmax window — identical cost
    * to a [[connectedComponents]] round. Lineage is cut per round via
    * [[Pin.loop]] (the Components discipline). Rounds are FIXED,
    * not run to convergence, so the cost model is exact.
    *
    * @return (`id`, `community`) for every node in `nodes`
    */
  def labelPropagation(
      nodes: DataFrame, idCol: String,
      edges: DataFrame, srcCol: String, dstCol: String,
      rounds: Int): DataFrame = {
    val sym = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .union(edges.select(col(dstCol).cast("long").as("src"),
        col(srcCol).cast("long").as("dst")))
      .distinct()
      .persist()
    val allNodes = nodes.select(col(idCol).cast("long").as("id")).distinct()
    var lab = allNodes.select(col("id"), col("id").as("lbl"))
      .transform(Pin.shared)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("c").desc, col("lbl").asc)
    (1 to rounds).foreach { rnd =>
      val best = sym
        .join(lab.select(col("id").as("dst"), col("lbl")), "dst")
        .groupBy(col("src").as("id"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1)
        .select(col("id"), col("lbl").as("cand"))
      // Pin.loop: rounds is caller-chosen (Pin's planning-knee doc).
      val next = Pin.loop(rnd, lab.join(best, Seq("id"), "left")
        .select(col("id"), coalesce(col("cand"), col("lbl")).as("lbl")))
      lab = next
    }
    sym.unpersist()
    lab.select(col("id"), col("lbl").as("community"))
  }

  /** Semi-supervised label SPREADING with clamped seeds — the
    * annotation-amplifier counterpart of [[labelPropagation]] (which
    * discovers communities from node ids): seed rows keep their label
    * forever, unlabeled rows adopt the modal label among their
    * LABELED neighbors (ties to the smallest label), and labels march
    * outward one hop per round. The standard way a few thousand human
    * quality/toxicity labels cover a near-dup-connected corpus slice;
    * rows no labeled region can reach stay null, honestly.
    *
    * Determinism: synchronous rounds, modal vote with (count desc,
    * label asc) tie-break — an external engine replays every round.
    * Scale shape per round: one edge-to-labels equi-join, one
    * combinable (node, label) count, one per-node argmax window
    * (high-cardinality key), one left join back; lineage pinned via
    * [[Pin.loop]].
    *
    * @param docs    node frame; `labelCol` null = unlabeled
    * @param pairs   undirected near-dup pairs (aCol, bCol)
    * @param rounds  spreading hops
    * @return per node: `<idCol>`, `label` (final; null if never
    *         reached), `labeled_at` (0 = seed, r = adopted in round
    *         r, null = never), `is_seed` (0/1)
    */
  def seededLabelSpread(
      docs: DataFrame, idCol: String, labelCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      rounds: Int): DataFrame = {
    require(rounds >= 1, s"rounds >= 1: $rounds")
    val edges = pairs
      .select(col(aCol).cast("long").as("src"),
        col(bCol).cast("long").as("dst"))
      .where(col("src") =!= col("dst"))
      .union(pairs.select(col(bCol).cast("long").as("src"),
        col(aCol).cast("long").as("dst")))
      .persist()
    var state = docs.select(col(idCol).cast("long").as("id"),
        col(labelCol).as("lbl"),
        when(col(labelCol).isNotNull, 0).otherwise(lit(null))
          .cast("int").as("labeled_at"))
      .transform(Pin.shared)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("id").orderBy(col("c").desc, col("lbl").asc)
    (1 to rounds).foreach { rnd =>
      val best = edges
        .join(state.where(col("lbl").isNotNull)
          .select(col("id").as("dst"), col("lbl")), "dst")
        .groupBy(col("src").as("id"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .withColumn("_rn", row_number().over(w))
        .where(col("_rn") === 1)
        .select(col("id"), col("lbl").as("cand"))
      // Pin.loop: rounds is caller-chosen (Pin's planning-knee doc).
      state = Pin.loop(rnd, state.join(best, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("lbl"), col("cand")).as("lbl"),
          when(col("lbl").isNull && col("cand").isNotNull, lit(rnd))
            .otherwise(col("labeled_at")).cast("int").as("labeled_at")))
    }
    edges.unpersist()
    state.select(col("id").as(idCol), col("lbl").as("label"),
      col("labeled_at"),
      when(col("labeled_at") === 0, 1).otherwise(0).as("is_seed"))
  }

  /** Soft deduplication (SoftDeDup shape — reweight duplicated
    * content instead of deleting it): every member of a near-dup
    * cluster keeps 1/cluster_size of its training weight, so the
    * CONTENT contributes exactly once in expectation while no
    * individual copy (with its unique context) is lost. The per-group
    * report is the planning view: raw vs effective token mass per
    * group shows which sources are inflated by duplication.
    *
    * Weight is the exact integer `1000000 DIV cluster_size` ppm
    * (floor — documented, oracle-identical); docs outside every
    * cluster carry weight 1. One left join of the doc frame to the
    * cluster assignment (both at doc grain, co-partitioned) + one
    * combinable group aggregate; nothing global anywhere.
    *
    * @param docs     doc-grain frame
    * @param clusters [[dedupClusters]] output (idCol, cluster_size)
    * @param metricCol integer mass per doc (tokens / chars)
    * @return per group: `n_docs`, `n_in_clusters`, `raw_mass`,
    *         `eff_mass` (round 6), `dup_inflation_ppm`
    *         (raw·1e6 DIV eff_micro − 1e6: excess mass from dup
    *         copies, 0 when nothing is duplicated)
    */
  def softDedupWeights(
      docs: DataFrame, idCol: String, groupCol: String,
      metricCol: String, clusters: DataFrame): DataFrame = {
    val sized = docs
      .select(col(idCol), col(groupCol).as("_grp"),
        col(metricCol).cast("long").as("_m"))
      .join(clusters.select(col(idCol), col("cluster_size")),
        Seq(idCol), "left")
      .withColumn("_sz", coalesce(col("cluster_size"), lit(1L)))
      .withColumn("_w_ppm", expr("1000000L DIV _sz"))
    sized.groupBy(col("_grp").as(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("cluster_size").isNotNull, 1L).otherwise(0L))
          .as("n_in_clusters"),
        sum("_m").as("raw_mass"),
        sum(col("_m") * col("_w_ppm")).as("_eff_micro"))
      .select(col(groupCol), col("n_docs"), col("n_in_clusters"),
        col("raw_mass"),
        round(col("_eff_micro").cast("double") / 1e6, 6).as("eff_mass"),
        // (raw/eff)·1e6 − 1e6 in int64: denominator demoted to
        // milli-units so the numerator is raw·1e9 (exact below ~9e9
        // mass; swap both scale factors down one decade past that).
        // Degenerate groups (_eff_micro < 1000, e.g. every doc has
        // zero mass) report 0, not a NULL from a zero denominator.
        expr("CASE WHEN _eff_micro >= 1000 THEN" +
          " ((raw_mass * 1000000000) DIV (_eff_micro DIV 1000))" +
          " - 1000000 ELSE 0 END").as("dup_inflation_ppm"))
  }

  /** License/consent propagation over near-dup clusters: a document's
    * EFFECTIVE license is the most restrictive one carried by ANY
    * near-identical copy — releasing content under its own permissive
    * label while a restricted twin exists is exactly the mistake a
    * release review must catch (same content, different crawl,
    * different terms). Ranks are caller-defined, higher = more
    * restrictive; propagation is max-over-cluster.
    *
    * Scale shape: one id-keyed join of the doc frame to the cluster
    * assignment, one component-grain max (component keys are
    * high-cardinality — partitions evenly), one join back, one
    * group-grain report aggregate. Unclustered docs keep their own
    * rank and never shuffle on component.
    *
    * @param rankCol        integer restrictiveness rank per doc
    * @param restrictedRank threshold for the "must not release" tier
    * @return per group: `n_docs`, `n_in_clusters`, `n_upgraded`
    *         (docs whose effective rank exceeds their own label),
    *         `upgraded_ppm`, `max_upgrade` (worst rank jump),
    *         `n_own_restricted`, `n_eff_restricted` (at
    *         restrictedRank — the release-blocking delta is the
    *         difference)
    */
  def licensePropagation(
      docs: DataFrame, idCol: String, groupCol: String, rankCol: String,
      clusters: DataFrame, restrictedRank: Long): DataFrame = {
    val base = docs
      .select(col(idCol), col(groupCol).as("_grp"),
        col(rankCol).cast("long").as("_own"))
      .join(clusters.select(col(idCol), col("component")),
        Seq(idCol), "left")
    val clusterMax = base.where(col("component").isNotNull)
      .groupBy("component").agg(max("_own").as("_cmax"))
    base.join(clusterMax, Seq("component"), "left")
      .withColumn("_eff",
        greatest(col("_own"), coalesce(col("_cmax"), col("_own"))))
      .groupBy(col("_grp").as(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("component").isNotNull, 1L).otherwise(0L))
          .as("n_in_clusters"),
        sum(when(col("_eff") > col("_own"), 1L).otherwise(0L))
          .as("n_upgraded"),
        max(col("_eff") - col("_own")).as("max_upgrade"),
        sum(when(col("_own") >= restrictedRank, 1L).otherwise(0L))
          .as("n_own_restricted"),
        sum(when(col("_eff") >= restrictedRank, 1L).otherwise(0L))
          .as("n_eff_restricted"))
      .withColumn("upgraded_ppm",
        expr("(n_upgraded * 1000000) DIV n_docs"))
      .select(col(groupCol), col("n_docs"), col("n_in_clusters"),
        col("n_upgraded"), col("upgraded_ppm"), col("max_upgrade"),
        col("n_own_restricted"), col("n_eff_restricted"))
  }

  /** Build + PERSIST the near-dup cluster map — the fourth stored
    * index beside MinHash bands, IVF+SQ8 codes, and BM25 postings:
    * a `(doc_id, component)` table, `doc_id`-bucketed via
    * [[graft.sources.Layout.replaceBucketed]]. Every release-review
    * query that consumes clusters (soft-dedup weights, license
    * propagation, manifests) probes this table instead of re-running
    * minhash + component iteration over the corpus — at 100 TB the
    * inline rebuild is not a slower alternative, it is infeasible
    * per query.
    *
    * Storage contract (what makes APPEND-ONLY maintenance sound):
    * component labels are min-ids, and merging clusters can only
    * SHRINK a member's label — so the stored table may hold multiple
    * generations of rows per doc, and `min(component) GROUP BY
    * doc_id` always resolves the newest label
    * ([[clustersFromIndex]]). [[mergeClusterIndex]] relies on this:
    * it appends relabel rows for touched members instead of
    * rewriting the table; [[graft.sources.Layout.compactBucketed]]
    * is NOT the right heal here (plain distinct keeps stale labels)
    * — recompact by rewriting [[clustersFromIndex]]'s resolved
    * output when generations accumulate.
    *
    * Bucketing on `doc_id` (not component) because the EVERY-PROBE
    * step is the per-doc min resolve, which runs with no index-side
    * exchange on this layout; per-component stats (sizes) are one
    * combinable shuffle after the resolve.
    */
  def writeClusterIndex(
      spark: org.apache.spark.sql.SparkSession,
      docs: DataFrame, idCol: String,
      pairs: DataFrame, srcCol: String, dstCol: String,
      table: String, buckets: Int = 32): Unit = {
    val cc = connectedComponents(
      docs.select(idCol), idCol, pairs, srcCol, dstCol)
    graft.sources.Layout.replaceBucketed(spark,
      cc.select(col("id").as("doc_id"), col("component")),
      table, "doc_id", buckets)
  }

  /** Probe the persisted cluster map ([[writeClusterIndex]] /
    * [[mergeClusterIndex]] output read back from the `doc_id`-
    * bucketed table): resolve each doc's NEWEST label (min over the
    * stored generations — exchange-free on the bucket layout), then
    * attach cluster sizes. Output schema matches [[dedupClusters]]
    * exactly (`<idCol>`, `component`, `cluster_size`), so any
    * cluster consumer swaps the inline rebuild for this probe
    * without change.
    */
  def clustersFromIndex(index: DataFrame, idCol: String = "doc_id")
      : DataFrame = {
    val resolved = index
      .groupBy(col("doc_id")).agg(min("component").as("component"))
    val sizes = resolved.groupBy("component")
      .agg(count(lit(1)).as("cluster_size"))
    resolved.join(sizes, "component")
      .select(col("doc_id").as(idCol), col("component"),
        col("cluster_size"))
  }

  /** Incremental cluster maintenance on append — the actual 100 TB
    * dedup story: a NEW batch of docs joins the standing corpus
    * WITHOUT a full cluster rebuild. Compute cost is delta-sized:
    * the union-find step runs over the TOUCHED components only
    * (components containing a cross-pair endpoint), never the
    * corpus; the write is an append of relabel rows (see
    * [[writeClusterIndex]]'s min-resolve storage contract), never a
    * table rewrite.
    *
    * Algorithm per batch:
    *  1. resolve current labels of the cross-pair index endpoints;
    *  2. fetch ALL members of those touched components (broadcast
    *     semi-join on `component` — the touched set is batch-sized;
    *     at extreme scale collect it into an `isin` literal so the
    *     bucket-pruned scan touches only matching files);
    *  3. run [[connectedComponents]] over the SUBGRAPH: batch ids +
    *     touched members as nodes; batch-internal pairs, cross
    *     pairs, and each member's star edge to its current label as
    *     edges (the star edges carry the existing clustering, so
    *     untouched members of a merged cluster inherit the new min);
    *  4. append rows for every batch doc and every existing member
    *     whose label changed.
    *
    * Equivalence to a full rebuild: the subgraph contains every path
    * that can change a label (a new edge only merges components it
    * touches; min-labels elsewhere are unaffected), so
    * [[clustersFromIndex]] after the merge equals [[dedupClusters]]
    * over the unioned corpus — property-tested on split corpora,
    * including batch docs bridging two existing clusters.
    *
    * Delivery: pass `batchId` from a foreachBatch maintainer and the
    * relabel append commits through a batch-id-keyed idempotent move
    * (exactly-once — a replay is a no-op). Without a batch id the
    * append is at-least-once, which the min-resolve still absorbs
    * harmlessly (labels are idempotent under re-append).
    *
    * @param batchDocs  new docs (`idCol` long-castable)
    * @param batchPairs near-dup pairs WITHIN the batch
    *                   (`srcCol`, `dstCol`)
    * @param crossPairs batch↔corpus pairs, e.g.
    *                   [[graft.ops.Dedup.incrementalNearDupsFromIndex]]
    *                   output (`batchIdCol`, `indexIdCol`)
    */
  def mergeClusterIndex(
      spark: org.apache.spark.sql.SparkSession, table: String,
      batchDocs: DataFrame, idCol: String,
      batchPairs: DataFrame, srcCol: String, dstCol: String,
      crossPairs: DataFrame, batchIdCol: String, indexIdCol: String,
      buckets: Int = 32, batchId: Option[Long] = None): Unit = {
    val stored = graft.sources.Layout.table(spark, table)
    // 1. current labels of the touched index endpoints
    val touchedIds = crossPairs
      .select(col(indexIdCol).cast("long").as("doc_id")).distinct()
    val touchedComps = stored.join(broadcast(touchedIds), "doc_id")
      .groupBy("doc_id").agg(min("component").as("component"))
      .select("component").distinct()
    // 2. all members of touched components, at their CURRENT label
    val members = stored.join(broadcast(touchedComps), "component")
      .groupBy("doc_id").agg(min("component").as("component"))
      .transform(Pin.shared)
    // 3. delta-sized union-find: batch + members, all linking edges
    val nodes = batchDocs.select(col(idCol).cast("long").as("id"))
      .union(members.select(col("doc_id").as("id")))
    val edges = batchPairs
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"))
      .union(crossPairs.select(col(batchIdCol).cast("long").as("src"),
        col(indexIdCol).cast("long").as("dst")))
      .union(members.select(col("doc_id").as("src"),
        col("component").as("dst")))
    val relabeled = connectedComponents(
      nodes.toDF("id"), "id", edges, "src", "dst")
    // 4. append: every batch row + every member whose label shrank
    val batchRows = relabeled
      .join(batchDocs.select(col(idCol).cast("long").as("id")), "id")
      .select(col("id").as("doc_id"), col("component"))
    val changed = relabeled
      .join(members.select(col("doc_id").as("id"),
        col("component").as("old_component")), "id")
      .where(col("component") < col("old_component"))
      .select(col("id").as("doc_id"), col("component"))
    val delta = batchRows.union(changed).distinct()
    batchId match {
      // streaming path: batch-id-keyed idempotent move — a replayed
      // merge leaves the stored files byte-identical (exactly-once)
      case Some(id) => graft.sources.Layout.idempotentAppendBucketed(
        delta, table, "doc_id", buckets, batchId = id)
      case None => graft.sources.Layout.appendBucketed(
        delta, table, "doc_id", buckets)
    }
    graft.sources.Layout.refresh(spark, table)
  }

  /** Generation compaction for the cluster map — the index-specific
    * heal [[writeClusterIndex]]'s storage contract calls for (plain
    * [[graft.sources.Layout.compactBucketed]] would keep stale
    * labels: its `distinct` removes only exact duplicate rows, and a
    * relabeled doc's OLD `(doc_id, old_component)` row is not a
    * duplicate of its new one). Rewrites the table as the RESOLVED
    * one-row-per-doc view — `min(component)` per doc, i.e. exactly
    * what every probe computes — restoring the bucket layout, so
    * after compaction the probe's min-resolve aggregates one row per
    * group. Safe at any time: resolve-then-rewrite commutes with the
    * min-resolve probes (min over one generation = that generation),
    * and the versioned publish (round 14) makes it atomic: the
    * resolve reads version N's files while version N+1 writes, and
    * the pre-compaction index stays live until the manifest commit.
    *
    * Run it when merge generations accumulate (monitor
    * `count(*)/count(distinct doc_id)`); between compactions probes
    * stay correct, just carrying extra rows per touched doc.
    */
  def compactClusterIndex(
      spark: org.apache.spark.sql.SparkSession, table: String,
      buckets: Int = 32): Unit = {
    val resolved = graft.sources.Layout.table(spark, table)
      .groupBy(col("doc_id")).agg(min("component").as("component"))
    graft.sources.Layout.replaceBucketed(spark, resolved, table,
      "doc_id", buckets)
  }
}
