package graft.ops

import graft.functions.Hashing._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Two tiers, as a 100 TB engine needs both:
  *  - `bruteForceTopK`: exact cosine top-k. Correctness baseline and the
  *    right choice when the query set is small (queries broadcast; one
  *    pass over the corpus, per-partition top-k via window).
  *  - `lshTopK` / label-blocked search: the scale path — candidate
  *    generation by random-hyperplane LSH bucket (or a precomputed
  *    coarse partition like an IVF cell), exact re-rank inside buckets.
  *    Turns O(|Q|·|C|) into O(|Q|·bucket).
  *
  * All vector math is higher-order-function expressions in double
  * precision (zip_with + aggregate) — no UDF, stays in codegen.
  */
object Similarity {

  /** Float-vector dot product in double — the native codegen'd
    * expression ([[graft.functions.FloatDotProduct]], registered by
    * `Graft.session`), NOT the `zip_with`+`aggregate` HOF pair: same
    * bit-exact left-to-right summation, but compiled to a primitive
    * loop inside whole-stage codegen instead of interpreted lambdas
    * with a per-row intermediate array.
    */
  def dot(x: Column, y: Column): Column = call_function("graft_dot", x, y)

  /** Cosine similarity of two float- or double-array columns, computed
    * in double with `graft_dot`'s left-to-right sums (the oracle's
    * `list_sum` order).
    */
  def cosine(a: Column, b: Column): Column =
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))

  /** Exact-cosine tail shared by every top-k tier: score the
    * (`query_id`, `qvec`, `neighbor_id`, `cvec`) candidate pairs, keep
    * the `k` best per query (ties to the smaller neighbor id), and
    * emit `query_id`, `neighbor_id`, `rank`, `cos` (rounded to 4).
    */
  private def rankByCosine(pairs: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    pairs
      .withColumn("cos", cosine(col("qvec"), col("cvec")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rank"), round(col("cos"), 4).as("cos"))
  }

  /** Exact top-k neighbors for each query vector. `queries` should be
    * small (it is broadcast); `corpus` can be arbitrarily large.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
    rankByCosine(c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id")), k)
  }

  /** The ±1 hyperplane component for (plane, dim): parity of the same
    * portable md5 hash the SQL oracle computes (`md5("p:d")` first 15
    * hex digits) — driver-side precomputation of what is a CONSTANT
    * matrix, not per-row work.
    */
  private def hyperplaneSigns(
      planes: Int, dim: Int, offset: Int = 0): Array[Array[Float]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(planes) { lp =>
      val p = offset + lp // global plane index keys the hash
      Array.tabulate(dim) { d =>
        val hex = md.digest(s"$p:$d".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15)
        if ((java.lang.Long.parseLong(hex, 16) & 1L) == 1L) 1.0f else -1.0f
      }
    }
  }

  /** Random-hyperplane signature: `planes` sign bits packed into a
    * bigint bucket id — a valid LSH family for cosine. The sign matrix
    * depends only on (plane, dim index), so it is computed ONCE on the
    * driver and embedded as literals; per row the projection is a
    * single codegen'd graft_dot against a constant vector (an earlier
    * formulation recomputed an md5 per (row, plane, dim) — 256 md5
    * calls per 64-d row). Bit/precision parity with the oracle is
    * unchanged: same hash constants, same left-to-right double sum.
    *
    * A vector whose length differs from `dim` gets a NULL bucket (and
    * so never joins) instead of silently projecting against a
    * wrong-size sign matrix — `graft_dot` also returns NULL on length
    * mismatch, this guard just makes the contract explicit and local.
    */
  def hyperplaneBucket(
      vec: Column, planes: Int, dim: Int = 64, offset: Int = 0): Column =
    when(size(vec) === dim,
      hyperplaneSigns(planes, dim, offset).zipWithIndex.map { case (signs, lp) =>
        when(dot(vec, typedlit(signs)) >= 0, lit(1L << lp)).otherwise(lit(0L))
      }.reduce(_ + _))

  /** Raw (unrounded) JL projection of a vector column — null for
    * wrong-size vectors.
    */
  private def jlRaw(vec: Column, m: Int, dim: Int): Column = {
    val scale = lit(math.sqrt(m.toDouble))
    when(size(vec) === dim,
      array(hyperplaneSigns(m, dim).map(signs =>
        dot(vec, typedlit(signs.toSeq)) / scale): _*))
  }

  /** Johnson–Lindenstrauss random projection onto `m` ±1 hyperplanes
    * from the shared sign universe, scaled by `1/sqrt(m)` (Achlioptas
    * 2003: ±1 entries satisfy the JL lemma) — the dimensionality
    * reduction pass BEFORE clustering / ANN when 64 dims is already
    * too wide at corpus scale. Appends the projected vector and the
    * `||y||/||x||` norm ratio (JL's preserved quantity, ~1 ± eps) so
    * the distortion is self-auditing row by row.
    *
    * Scale shape: the sign matrix is constant and driver-embedded
    * (same as [[hyperplaneBucket]]); per row the projection is `m`
    * codegen'd `graft_dot`s against literal vectors — a pure narrow
    * map, no shuffle, no state.
    *
    * @return `idCol`, `proj` (array of `m` doubles, rounded to 4),
    *         `norm_ratio` (rounded to 4; null for a zero/wrong-size
    *         vector)
    */
  def jlProject(
      df: DataFrame, idCol: String, vecCol: String,
      m: Int = 16, dim: Int = 64): DataFrame = {
    require(m > 0, s"m must be positive: $m")
    val vec = col(vecCol)
    val yNorm = sqrt(aggregate(col("proj0"), lit(0.0), (a, e) => a + e * e))
    val xNorm = sqrt(dot(vec, vec))
    df.select(col(idCol), vec, jlRaw(vec, m, dim).as("proj0"))
      .select(col(idCol),
        transform(col("proj0"), e => round(e, 4) + lit(0.0)).as("proj"),
        when(xNorm > 0, round(yNorm / xNorm, 4) + lit(0.0))
          .as("norm_ratio"))
  }

  /** ANN by JL pre-ranking: rank candidates by cosine in the m-dim
    * PROJECTED space (JL preserves angles in expectation — a 2× per-
    * pair cost cut at m = dim/2), shortlist the top `shortlist` per
    * query, then exact-cosine re-rank only the shortlist. The
    * cheap-distance tier next to bucketed LSH/IVF: it prunes per-pair
    * COST, not the candidate COUNT — at corpus scale the projected
    * space is what you'd hand to [[trainCentroids]]/[[ivfTopK]] so
    * both cuts compose; here the queries frame broadcasts and the
    * corpus is read once.
    *
    * Measured at defaults on the sf0.1 random embeddings (the
    * weak-structure hard case, q67's protocol): recall@3 = 0.70 with
    * the exact re-rank touching 10% of the corpus — above multi-table
    * LSH's 0.60 at 39% touched (README table). m = 16 / shortlist =
    * 50 measured 0.20: spend the re-rank budget before shrinking it.
    */
  def jlTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, shortlist: Int = 200, m: Int = 32, dim: Int = 64): DataFrame = {
    require(k <= shortlist, s"k=$k must be <= shortlist=$shortlist")
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qvec"), jlRaw(col(vecCol), m, dim).as("qy"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cvec"), jlRaw(col(vecCol), m, dim).as("cy"))
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(col("pcos").desc, col("neighbor_id"))
    rankByCosine(c.crossJoin(broadcast(q))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("pcos", cosine(col("qy"), col("cy")))
      .withColumn("prank", row_number().over(wp))
      .filter(col("prank") <= shortlist), k)
  }

  /** Approximate top-k: candidates restricted to the query's LSH bucket,
    * exact cosine re-rank inside it. At 100 TB the bucket column is a
    * uniform shuffle key; multi-probe (ORing nearby buckets) trades
    * recall for fan-out and is left to the caller via `planes`.
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, planes: Int = 8, dim: Int = 64): DataFrame = {
    val q = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .withColumn("bucket", hyperplaneBucket(col("qvec"), planes, dim))
    val c = corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
      .withColumn("bucket", hyperplaneBucket(col("cvec"), planes, dim))
    rankByCosine(c.join(broadcast(q), Seq("bucket"))
      .filter(col("neighbor_id") =!= col("query_id")), k)
  }

  /** Multi-table LSH top-k — the standard recall fix for single-table
    * hyperplane LSH (Indyk & Motwani '98; Gionis et al. VLDB'99):
    * `tables` independent hash tables of `planes` bits each, candidate
    * set = UNION of same-bucket matches across tables (miss
    * probability decays as (1 - p^planes)^tables), exact cosine
    * re-rank over the deduplicated union. Table `t` draws its
    * hyperplanes from the shared sign universe at global plane indices
    * [t*planes, (t+1)*planes) — table 0 is exactly [[lshTopK]]'s
    * bucket, and every table stays engine-reproducible from the same
    * md5 constants.
    *
    * Measured at sf0.1 (q67, near-uniform synthetic embeddings — the
    * hardest case for LSH): defaults reach recall 0.60 touching 39% of
    * the corpus per query (~2.6x fewer distance computations than
    * brute force); single-table q45 defaults sit at 0.04–0.18. On real
    * clustered embeddings both numbers improve; for higher recall
    * raise `tables`, for a smaller candidate set raise `planes`.
    *
    * Scale shape: the corpus explodes `tables`x carrying only (id,
    * table, bucket) — vectors do NOT ride the fan-out; candidates
    * dedup as bare id pairs before one corpus join re-attaches
    * vectors for the re-rank. Queries broadcast in both passes.
    */
  def lshTopKMulti(
      corpus: DataFrame, queries: DataFrame, idCol: String, vecCol: String,
      k: Int, planes: Int = 4, tables: Int = 8, dim: Int = 64): DataFrame = {
    require(planes > 0 && planes <= 62 && tables > 0,
      s"need 0 < planes <= 62 (checked-shift-safe bucket) and tables > 0: " +
        s"planes=$planes tables=$tables")
    def tabled(df: DataFrame, idName: String): DataFrame =
      df.select(col(idCol).as(idName), col(vecCol).as("_v"))
        .select(col(idName),
          posexplode(array((0 until tables).map(t =>
            hyperplaneBucket(col("_v"), planes, dim, offset = t * planes)): _*))
            .as(Seq("tbl", "bucket")))
    val cand = tabled(corpus, "neighbor_id")
      .join(broadcast(tabled(queries, "query_id")), Seq("tbl", "bucket"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id").distinct()
    rankByCosine(cand
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec")),
        "neighbor_id")
      .join(broadcast(
        queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec"))),
        "query_id"), k)
  }

  /** IVF-flat approximate top-k: corpus vectors are assigned to their
    * nearest CENTROID cell (argmax cosine over a provided, bounded
    * centroid set — the index-build pass), queries probe their
    * `nProbe` nearest cells, and candidates are re-ranked exactly.
    *
    * Centroids are caller-provided (e.g. a sampled/trained codebook) —
    * deterministic and tiny, so the assignment pass is a broadcast
    * against a constant-size set, and the probe join's key (cell id)
    * has bounded fan-out n/cells per cell. Complements [[lshTopK]]:
    * IVF adapts to the data's density (cells follow the codebook)
    * where hyperplane LSH is data-oblivious.
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 2): DataFrame = {
    val cents = centroids.select(col(idCol).as("cell_id"), col(vecCol).as("centvec"))
    def assignCells(df: DataFrame, idName: String, vecName: String, keep: Int): DataFrame = {
      val scored = df.crossJoin(broadcast(cents))
        .withColumn("cell_cos", cosine(col(vecName), col("centvec")))
      val w = Window.partitionBy(col(idName))
        .orderBy(col("cell_cos").desc, col("cell_id"))
      scored.withColumn("cell_rank", row_number().over(w))
        .filter(col("cell_rank") <= keep)
        .drop("centvec", "cell_cos", "cell_rank")
    }
    val c = assignCells(
      corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec")),
      "neighbor_id", "cvec", 1)
    val q = assignCells(
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qvec")),
      "query_id", "qvec", nProbe)
    rankByCosine(c.join(broadcast(q), Seq("cell_id"))
      .filter(col("neighbor_id") =!= col("query_id")), k)
  }

  /** IVF + SQ8 search — the memory-bound trick that makes a 100 TB
    * embedding store searchable: the probed index carries int8 codes
    * (4× smaller than float32, [[Quantize.quantizeInt8]]'s absmax
    * format), candidates are scored by ASYMMETRIC distance — full-
    * precision query against raw codes — and only the per-query
    * `shortlist` survivors ever touch float vectors again (one
    * id-equi-join fetch, re-ranked exactly).
    *
    * The asymmetric score exploits cosine's scale invariance: for
    * `scale > 0`, cos(q, codes·scale/127) = cos(q, codes), so the ADC
    * pass needs NO dequantization — the per-vector scale is never even
    * stored. (All-zero vectors quantize to all-zero codes with a
    * degenerate zero-norm cosine; filter them out upstream as every
    * ANN tier here assumes.)
    *
    * Scale shape: index build is one corpus pass (broadcast codebook +
    * one argmax shuffle, q-codes in the scan projection); the probe
    * join moves codes only, fanout bounded by cell size × nProbe; the
    * exact re-rank touches `|Q| · shortlist` float vectors — the full
    * corpus is read once at build and never again per query.
    */
  def ivfSq8TopK(
      corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String, k: Int, nProbe: Int = 2,
      shortlist: Int = 20): DataFrame =
    ivfSq8TopKFromIndex(corpus, queries, centroids,
      buildIvfSq8Index(corpus, centroids, idCol, vecCol),
      idCol, vecCol, k, nProbe, shortlist)

  /** The build pass of [[ivfSq8TopK]], factored out so the index can be
    * PERSISTED: per corpus vector its nearest codebook cell and the
    * int8 SQ codes (stored as float for the codegen'd dot — exact,
    * |code| <= 127). One corpus pass: broadcast codebook, one argmax
    * shuffle; float vectors do NOT enter the index.
    *
    * Operational form: write the result bucketed on `cell_id`
    * ([[graft.sources.Layout.writeBucketed]]) next to the k-row
    * centroid table, then serve queries with [[ivfSq8TopKFromIndex]] —
    * the corpus is scanned once at build time and never again per
    * probe, which is what "searchable 100 TB embedding store" means
    * operationally (mirror of `Dedup.incrementalNearDupsFromIndex`'s
    * persisted MinHash band index).
    *
    * @return `neighbor_id`, `cell_id`, `qcodes` (array<float>)
    */
  def buildIvfSq8Index(
      corpus: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String): DataFrame = {
    val cents = centroids
      .select(col(idCol).as("cell_id"), col(vecCol).as("centvec"))
    val wc = Window.partitionBy(col("neighbor_id"))
      .orderBy(col("cell_cos").desc, col("cell_id"))
    corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
      .crossJoin(broadcast(cents))
      .withColumn("cell_cos", cosine(col("cvec"), col("centvec")))
      .withColumn("rn", row_number().over(wc))
      .filter(col("rn") === 1)
      .withColumn("scale", Quantize.absmaxScale(col("cvec")))
      .select(col("neighbor_id"), col("cell_id"),
        Quantize.quantizeInt8(col("cvec"), col("scale"))
          .cast("array<float>").as("qcodes"))
  }

  /** Serve IVF+SQ8 top-k from a PRE-BUILT index
    * ([[buildIvfSq8Index]], typically read back from a `cell_id`-
    * bucketed table): queries route to their `nProbe` nearest cells
    * against the broadcast codebook, the stored codes are probed by a
    * broadcast join (NO index-side exchange — the index scan feeds the
    * join directly, plan-asserted in LayoutSpec), ADC-shortlisted, and
    * exact-re-ranked against the corpus. Neither re-training, nor
    * re-quantization, nor an index shuffle happens per query batch.
    */
  def ivfSq8TopKFromIndex(
      corpus: DataFrame, queries: DataFrame, centroids: DataFrame,
      index: DataFrame, idCol: String, vecCol: String, k: Int,
      nProbe: Int = 2, shortlist: Int = 20): DataFrame = {
    require(shortlist >= k, "shortlist must cover the requested top-k")
    val cents = centroids
      .select(col(idCol).as("cell_id"), col(vecCol).as("centvec"))
    // probe: queries at full precision to their nProbe nearest cells
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("cell_cos").desc, col("cell_id"))
    val probes = queries
      .select(col(idCol).as("query_id"), col(vecCol).as("qvec"))
      .crossJoin(broadcast(cents))
      .withColumn("cell_cos", cosine(col("qvec"), col("centvec")))
      .withColumn("rn", row_number().over(wq))
      .filter(col("rn") <= nProbe)
      .select(col("query_id"), col("qvec"), col("cell_id"))
    // ADC + shortlist cut (unrounded, tie-break on neighbor_id)
    val wsl = Window.partitionBy(col("query_id"))
      .orderBy(col("adc").desc, col("neighbor_id"))
    val short = index.join(broadcast(probes), Seq("cell_id"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("adc", cosine(col("qvec"), col("qcodes")))
      .withColumn("slrank", row_number().over(wsl))
      .filter(col("slrank") <= shortlist)
      .select(col("query_id"), col("qvec"), col("neighbor_id"))
    // exact re-rank: the ONLY step that touches shortlist float
    // vectors — the tiny shortlist broadcasts against the corpus scan
    rankByCosine(corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cvec"))
      .join(broadcast(short), Seq("neighbor_id")), k)
  }

  /** Deterministic codebook training for [[ivfTopK]] — the index-build
    * pass: sampled-init Lloyd k-means, expressed entirely as DataFrame
    * operations so any SQL engine can replay the identical trajectory.
    *
    *  - Init: the `k` corpus vectors with the smallest portable md5
    *    hash of their id ([[graft.functions.Hashing.portableHash]]) — a
    *    uniform, seed-free, engine-reproducible sample. Cell ids are
    *    the hash rank, 0..k-1.
    *  - Iterate (fixed `iters`, no convergence scan): assign every
    *    vector to its max-cosine centroid — a broadcast cross join
    *    against the bounded codebook plus one argmax shuffle — then
    *    recompute each cell's element-wise mean. Means are rounded to
    *    6 decimals and cast back to float so cross-engine sum-order
    *    ulps cannot drift the trajectory.
    *
    * Scale shape: per iteration one shuffle of |corpus| rows (the
    * argmax window) and one positional re-aggregation of |corpus|·dim
    * values — both map-side combinable; the codebook itself never
    * exceeds k rows and lineage is truncated every iteration. Cells
    * that attract no vectors drop out (k can only shrink). Cosine is
    * scale-invariant in the centroid, so the un-normalized mean yields
    * the same assignment as the spherical-k-means normalized mean.
    *
    * Returns (`idCol`, `vecCol`) so the result pipes straight into
    * [[ivfTopK]]'s `centroids` argument.
    */
  def trainCentroids(
      corpus: DataFrame, idCol: String, vecCol: String,
      k: Int, iters: Int = 2): DataFrame = {
    require(k > 0 && iters >= 0, "k and iters must be positive")
    // Partition-less window is safe here: it runs on the ≤ k-row frame.
    val seedW = Window.orderBy(col("_h"), col(idCol))
    var cents = corpus
      .select(col(idCol), col(vecCol))
      .withColumn("_h", portableHash(col(idCol).cast("string")))
      .orderBy(col("_h"), col(idCol)).limit(k)
      .withColumn("cell_id", row_number().over(seedW) - 1)
      .select(col("cell_id"), col(vecCol).as("centvec"))
      .transform(Pin.shared)
    for (it <- 1 to iters) {
      val w = Window.partitionBy(col(idCol))
        .orderBy(col("cell_cos").desc, col("cell_id"))
      val assigned = corpus.select(col(idCol), col(vecCol))
        .crossJoin(broadcast(cents))
        .withColumn("cell_cos", cosine(col(vecCol), col("centvec")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      cents = assigned
        .select(col("cell_id"), posexplode(col(vecCol)).as(Seq("pos", "x")))
        .groupBy("cell_id", "pos")
        .agg(avg(col("x").cast("double")).as("m"))
        .groupBy("cell_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cell_id"),
          transform(col("pm"), p => round(p("m"), 6).cast("float")).as("centvec"))
        // Pin.loop: iters is caller-chosen (Pin's planning-knee doc).
        .transform(d => Pin.loop(it, d))
    }
    cents.select(col("cell_id").as(idCol), col("centvec").as(vecCol))
  }

  /** Semantic decontamination — the embedding-space counterpart of the
    * n-gram [[Dedup.decontaminate]]: drop every corpus row whose max
    * cosine against ANY benchmark vector reaches `threshold` (eval-set
    * paraphrases that token overlap misses). Returns the SURVIVORS with
    * their `max_bench_cos` (4 decimals; the threshold compares against
    * the rounded value so the cut is engine-portable).
    *
    * Scale shape: the benchmark side is small by construction (an eval
    * suite) — it broadcasts, the corpus never shuffles for the scoring
    * pass, and the per-id max is map-side combined before the one
    * narrow (id, double) shuffle. Norms are precomputed per side, not
    * per pair.
    */
  def semanticDecontaminate(
      corpus: DataFrame, bench: DataFrame, idCol: String, vecCol: String,
      threshold: Double): DataFrame = {
    val c = corpus.select(col(idCol), col(vecCol).as("_cvec"))
      .withColumn("_cnorm", sqrt(dot(col("_cvec"), col("_cvec"))))
    val b = bench.select(col(vecCol).as("_bvec"))
      .withColumn("_bnorm", sqrt(dot(col("_bvec"), col("_bvec"))))
    c.crossJoin(broadcast(b))
      .withColumn("_cos",
        dot(col("_cvec"), col("_bvec")) / (col("_cnorm") * col("_bnorm")))
      .groupBy(idCol)
      .agg(round(max(col("_cos")), 4).as("max_bench_cos"))
      .filter(col("max_bench_cos") < threshold)
  }

  /** Embedding near-duplicate pairs within a blocking key (IVF-style
    * coarse cell, here any precomputed label/bucket column): cosine ≥
    * threshold, id_a < id_b. Blocking bounds the pair count — the full
    * cross product never materializes.
    */
  def cosineNearDupPairs(
      df: DataFrame, idCol: String, vecCol: String, blockCol: String,
      threshold: Double): DataFrame = {
    // Precompute each vector's norm ONCE before the pair join — inside
    // the join the norm would be re-derived per PAIR (O(pairs·dim)
    // instead of O(rows·dim)); at sf0.1 that is the difference between
    // 16 s and ~5 s, and it compounds with block size at scale.
    // sqrt(dot(v,v)) here is bit-identical to computing it inline, so
    // results are unchanged.
    val v = df.select(col(idCol), col(blockCol), col(vecCol).as("v"))
      .withColumn("norm", sqrt(dot(col("v"), col("v"))))
    v.as("l").join(v.as("r"),
        col(s"l.$blockCol") === col(s"r.$blockCol") &&
          col(s"l.$idCol") < col(s"r.$idCol"))
      .withColumn("cos", round(
        dot(col("l.v"), col("r.v")) / (col("l.norm") * col("r.norm")), 4))
      .filter(col("cos") >= threshold)
      .select(col(s"l.$idCol").as("id_a"), col(s"r.$idCol").as("id_b"), col("cos"))
  }

  /** Reliability diagram + expected calibration error for
    * [[knnPredict]]'s vote confidence: per vote-count bin, the mean
    * confidence (votes/k) against the empirical accuracy, plus
    * ECE = Σ n_b·|acc_b − conf_b| / N — "when the classifier says
    * 80%, is it right 80% of the time". Per-bin terms snap to
    * integer nano units before the ECE sum (order-free); all rates
    * are ratios of exact integer counts.
    *
    * @return per vote count: `n_votes`, `n`, `confidence` (round 4),
    *         `accuracy` (round 4), `ece` (round 4, repeated)
    */
  def knnReliability(
      corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val pred = knnPredict(corpus, queries, idCol, vecCol, labelCol, k)
    val bins = pred.groupBy("n_votes").agg(
        count(lit(1)).as("n"),
        sum(when(col("pred_label") === col("true_label"), 1L)
          .otherwise(0L)).as("n_correct"))
      .transform(Pin.shared)
    def d(c: Column) = c.cast("double")
    val withRates = bins
      .withColumn("_conf", d(col("n_votes")) / lit(k.toDouble))
      .withColumn("_acc", d(col("n_correct")) / d(col("n")))
      .withColumn("_term",
        round(d(col("n")) * abs(col("_acc") - col("_conf")) * lit(1e9))
          .cast("long"))
    val tot = withRates.agg(sum("n").as("_nn"), sum("_term").as("_se"))
    withRates.crossJoin(broadcast(tot))
      .select(col("n_votes"), col("n"),
        round(col("_conf"), 4).as("confidence"),
        round(col("_acc"), 4).as("accuracy"),
        round(col("_se").cast("double") / lit(1e9) /
          col("_nn").cast("double"), 4).as("ece"))
  }

  /** Two-NN intrinsic-dimension estimate (Facco et al., Scientific
    * Reports 2017): ID ≈ n / Σ ln(d₂/d₁) over the sample, where
    * d₁/d₂ are each point's distances to its two nearest neighbors —
    * the "how many effective dimensions does this embedding space
    * use" diagnostic that tells you whether a JL/PCA projection
    * (q121/q122) is about to destroy structure (target dim below ID)
    * or is free (far above it).
    *
    * Distance = 1 − cosine on the ROUNDED-4 neighbor scores
    * [[bruteForceTopK]] emits, so both engines ratio identical
    * rationals; each ln is snapped to integer nano-nats before the
    * sum. Degenerate points (d₁ = 0: an exact duplicate neighbor, or
    * d₂ = d₁) are excluded and COUNTED — duplicates would send
    * ln μ → 0 and inflate ID silently.
    *
    * @return one row: `n_sample`, `n_valid`, `id_est` (round 3)
    */
  def twoNnDimension(
      corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String): DataFrame = {
    val top2 = bruteForceTopK(corpus, queries, idCol, vecCol, k = 2)
    val mu = top2.groupBy("query_id").agg(
        min(when(col("rank") === 1, lit(1.0) - col("cos"))).as("d1"),
        min(when(col("rank") === 2, lit(1.0) - col("cos"))).as("d2"))
      .withColumn("_ln", when(col("d1") > 0.0 && col("d2") > col("d1"),
        round(log(col("d2") / col("d1")) * lit(1e9)).cast("long")))
    mu.agg(count(lit(1)).as("n_sample"),
        count(col("_ln")).as("n_valid"),
        sum("_ln").as("_s"))
      .select(col("n_sample"), col("n_valid"),
        round(col("n_valid").cast("double") /
          (col("_s").cast("double") / lit(1e9)), 3).as("id_est"))
  }

  /** k-NN majority-vote label prediction ([[bruteForceTopK]] ∘
    * argmax): each query adopts the modal label among its k nearest
    * corpus neighbors (self excluded — so querying the corpus itself
    * IS leave-one-out evaluation), ties to the smallest label. The
    * embedding-quality eval that needs no trained model: if labels
    * don't cluster, k-NN accuracy says so immediately.
    *
    * Scale note: brute-force scoring is for BOUNDED query samples
    * (the q103 eval discipline); swap in [[ivfTopK]]'s probed cells
    * for corpus-scale prediction — the voting stage is unchanged.
    *
    * @return per query: `query_id`, `true_label`, `pred_label`,
    *         `n_votes` (votes for the winner)
    */
  def knnPredict(
      corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, labelCol: String, k: Int): DataFrame = {
    val top = bruteForceTopK(corpus, queries, idCol, vecCol, k)
    val votes = top
      .join(corpus.select(col(idCol).as("neighbor_id"),
        col(labelCol).as("n_label")), "neighbor_id")
      .groupBy("query_id", "n_label")
      .agg(count(lit(1)).as("c"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("c").desc, col("n_label").asc)
    votes.withColumn("_vr", row_number().over(w))
      .where(col("_vr") === 1)
      .join(queries.select(col(idCol).as("query_id"),
        col(labelCol).as("true_label")), "query_id")
      .select(col("query_id"), col("true_label"),
        col("n_label").as("pred_label"), col("c").as("n_votes"))
  }
}
