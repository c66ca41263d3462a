package graft.ops

import graft.functions.Hashing.portableHash
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (Jégou et al. TPAMI 2011) — the memory tier
  * below [[Similarity.ivfSq8TopK]]'s scalar quantizer: split each
  * vector into `m` subvectors, k-means each subspace independently
  * (codebook = m × ks centroids), store each vector as m small codes
  * (m·log₂ks bits instead of dim·32), and answer queries with
  * asymmetric distance computation (ADC): the query stays full
  * precision, each of its m×ks subspace-to-centroid distances is
  * computed ONCE, and a candidate's approximate distance is m table
  * lookups + a sum. At 100 TB this is the difference between an
  * index that fits executor memory and one that doesn't: 64-dim
  * floats (256 B) become 4 codes (4 B) at m=4/ks=256.
  *
  * Engine portability (the q65 trainCentroids discipline, L2 instead
  * of cosine — PQ quantizes DISTANCES, so the subspace metric must be
  * the one the search uses):
  *  - init: the ks corpus vectors with the smallest portable md5 hash
  *    of their id, cell ids = hash rank — identical in any engine;
  *  - Lloyd rounds: argmin-L2 assignment (dist² expanded as
  *    x·x − 2x·c + c·c, three sequential-order dots, so both engines
  *    walk identical IEEE operations; ties break on cell_id), then
  *    per-position means rounded to 6 decimals and cast to float;
  *  - ADC: each (query, sub, cell) table entry snaps to integer
  *    MICRO-units once; a candidate's distance is an exact integer
  *    sum of m table entries — order-free, so the final ranking can
  *    never drift on double sum order.
  *
  * Scale shape: the codebook (m·ks rows) and the query table
  * (|queries|·m·ks rows) broadcast; the corpus never shuffles except
  * the per-(id, sub) argmin and the per-(query, candidate) sum, both
  * map-side combinable on high-cardinality keys.
  */
object Pq {

  /** L2 distance² between two float-vector columns, in double. */
  def dist2(a: Column, b: Column): Column =
    Similarity.dot(a, a) - lit(2) * Similarity.dot(a, b) +
      Similarity.dot(b, b)

  /** (id, sub, v): the corpus exploded into its m subvectors. */
  private def subVecs(
      df: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int): DataFrame =
    df.select(col(idCol), col(vecCol))
      .withColumn("sub", explode(sequence(lit(0), lit(m - 1))))
      .withColumn("v",
        slice(col(vecCol), col("sub") * subDim + 1, lit(subDim)))
      .drop(vecCol)

  /** Per-subspace argmin-L2 cell assignment against a codebook. */
  private def assign(sv: DataFrame, codebook: DataFrame): DataFrame = {
    val idCol = sv.columns.head
    val w = Window.partitionBy(col(idCol), col("sub"))
      .orderBy(col("_d").asc, col("cell_id").asc)
    sv.join(broadcast(codebook), Seq("sub"))
      .withColumn("_d", dist2(col("v"), col("centvec")))
      .withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn", "_d", "centvec")
  }

  /** Train the m per-subspace codebooks: (sub, cell_id, centvec),
    * already pinned, so callers read it without a pin of their own.
    */
  def train(
      corpus: DataFrame, idCol: String, vecCol: String,
      m: Int, subDim: Int, ks: Int, iters: Int): DataFrame = {
    require(m > 0 && subDim > 0 && ks > 0 && iters >= 0,
      s"positive m/subDim/ks, iters >= 0: $m $subDim $ks $iters")
    val sv = subVecs(corpus, idCol, vecCol, m, subDim)
    // Partition-less window is safe: it ranks the ≤ ks seed rows.
    val seedW = Window.orderBy(col("_h"), col(idCol))
    val seeds = corpus.select(col(idCol))
      .withColumn("_h", portableHash(col(idCol).cast("string")))
      .orderBy(col("_h"), col(idCol)).limit(ks)
      .withColumn("cell_id", row_number().over(seedW) - 1)
      .select(col(idCol), col("cell_id"))
    var cents = sv.join(broadcast(seeds), Seq(idCol))
      .select(col("sub"), col("cell_id"), col("v").as("centvec"))
      .transform(Pin.shared)
    for (it <- 1 to iters) {
      cents = assign(sv, cents)
        .select(col("sub"), col("cell_id"),
          posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("sub", "cell_id", "pos")
        .agg(avg(col("x").cast("double")).as("_mu"))
        .groupBy("sub", "cell_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("_mu"))))
          .as("_pm"))
        .select(col("sub"), col("cell_id"),
          transform(col("_pm"), p => round(p("_mu"), 6).cast("float"))
            .as("centvec"))
        .transform(d => Pin.loop(it, d))
    }
    cents
  }

  /** Encode the corpus against a trained codebook: (id, sub, code). */
  def encode(
      corpus: DataFrame, idCol: String, vecCol: String,
      codebook: DataFrame, m: Int, subDim: Int): DataFrame =
    assign(subVecs(corpus, idCol, vecCol, m, subDim), codebook)
      .select(col(idCol), col("sub"), col("cell_id").as("code"))

  /** ADC table: one integer-micro squared distance `_tm` per (query,
    * sub, code) from the query sub-vectors `qsv` to every centroid.
    */
  private def adcTable(qsv: DataFrame, codebook: DataFrame): DataFrame =
    qsv.join(broadcast(codebook), Seq("sub"))
      .select(col("query_id"), col("sub"), col("cell_id").as("code"),
        round(dist2(col("v"), col("centvec")) * 1e6).cast("long")
          .as("_tm"))

  /** Sum the per-sub ADC terms of each (query, candidate) pair and keep
    * the `k` nearest per query (ties to the smaller neighbor id).
    */
  private def rankAdc(terms: DataFrame, idCol: String, k: Int): DataFrame = {
    val wq = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_micro").asc, col("neighbor_id").asc)
    terms.groupBy(col("query_id"), col(idCol).as("neighbor_id"))
      .agg(sum("_tm").as("adc_micro"))
      .withColumn("rank", row_number().over(wq))
      .where(col("rank") <= k)
  }

  /** Exact L2 ground truth: each query's (`query_id`, `qv`) `k` nearest
    * corpus vectors, micro-snapped with the same tie-break as
    * [[rankAdc]], flagged `exact_hit` = 1.
    */
  private def exactTopK(
      corpus: DataFrame, q: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    val we = Window.partitionBy(col("query_id"))
      .orderBy(col("_em").asc, col("neighbor_id").asc)
    corpus
      .select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
      .crossJoin(broadcast(q))
      .where(col("neighbor_id") =!= col("query_id"))
      .withColumn("_em", round(dist2(col("cv"), col("qv")) * 1e6)
        .cast("long"))
      .withColumn("_er", row_number().over(we))
      .where(col("_er") <= k)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("exact_hit"))
  }

  /** One-row overall recall@k in integer parts per million. */
  private def recallPpm(joined: DataFrame, k: Int): DataFrame =
    joined
      .agg(sum("exact_hit").cast("long").as("_hits"),
        countDistinct("query_id").as("_nq"))
      .select(expr(s"(_hits * 1000000) DIV (_nq * ${k}L)")
        .as("recall_ppm"))

  /** Train + encode + ADC top-k + recall against the exact-L2 top-k.
    *
    * @return per (query, rank ≤ k): `neighbor_id`, `adc_micro` (the
    *         exact integer ADC distance), `exact_hit` (1 if the exact
    *         L2 top-k contains this neighbor); repeated: `recall_ppm`
    *         (overall recall@k of the ADC ranking)
    */
  def adcTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, m: Int, subDim: Int, ks: Int, iters: Int,
      k: Int): DataFrame = {
    val codebook = train(corpus, idCol, vecCol, m, subDim, ks, iters)
    val codes = encode(corpus, idCol, vecCol, codebook, m, subDim)
    val qsv = subVecs(queries, idCol, vecCol, m, subDim)
      .select(col(idCol).as("query_id"), col("sub"), col("v"))
    val approx = rankAdc(codes
      .join(broadcast(adcTable(qsv, codebook)), Seq("sub", "code"))
      .where(col(idCol) =!= col("query_id")), idCol, k)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val joined = approx
      .join(exactTopK(corpus, q, idCol, vecCol, k),
        Seq("query_id", "neighbor_id"), "left")
      .withColumn("exact_hit", coalesce(col("exact_hit"), lit(0)))
      .transform(Pin.shared)
    joined.crossJoin(broadcast(recallPpm(joined, k)))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("adc_micro"), col("exact_hit"), col("recall_ppm"))
  }

  /** IVF-PQ (the FAISS `IVFx,PQy` architecture): a coarse L2
    * quantizer routes each query to its `nProbe` nearest cells, and
    * only the PQ codes INSIDE those cells pay ADC — the index shape
    * that makes billion-vector search tractable (scan cost drops by
    * ~kCoarse/nProbe on top of PQ's memory win). The coarse level IS
    * [[train]] with m = 1 (one subspace spanning the whole vector),
    * so both levels share one verified Lloyd kernel; PQ codes are
    * over raw vectors (no residual encoding — documented, and what
    * the recall audit measures).
    *
    * @return per (query, rank ≤ k): `neighbor_id`, `adc_micro`,
    *         `exact_hit` (vs the exact L2 top-k over the FULL
    *         corpus, so probe misses count against recall),
    *         `n_candidates` (corpus rows the probe admitted — the
    *         selectivity audit), repeated `recall_ppm`
    */
  def ivfPqTopK(
      corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dim: Int, kCoarse: Int, nProbe: Int,
      m: Int, subDim: Int, ks: Int, iters: Int, k: Int): DataFrame = {
    require(m * subDim == dim, s"m*subDim must equal dim: $m*$subDim != $dim")
    val coarseCb = train(corpus, idCol, vecCol, 1, dim, kCoarse, iters)
    val cells = encode(corpus, idCol, vecCol, coarseCb, 1, dim)
      .select(col(idCol), col("code").as("cell"))
    val pqCb = train(corpus, idCol, vecCol, m, subDim, ks, iters)
    val codes = encode(corpus, idCol, vecCol, pqCb, m, subDim)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val wp = Window.partitionBy(col("query_id"))
      .orderBy(col("_pd").asc, col("cell_id").asc)
    val probes = q.crossJoin(broadcast(coarseCb))
      .withColumn("_pd", dist2(col("qv"), col("centvec")))
      .withColumn("_pr", row_number().over(wp))
      .where(col("_pr") <= nProbe)
      .select(col("query_id"), col("cell_id").as("cell"))
    val qsv = subVecs(q.select(col("query_id").as(idCol), col("qv")
        .as(vecCol)), idCol, vecCol, m, subDim)
      .select(col(idCol).as("query_id"), col("sub"), col("v"))
    val qtab = adcTable(qsv, pqCb)
    val admitted = cells.join(broadcast(probes), Seq("cell"))
      .where(col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol))
      .transform(Pin.shared)
    val nCand = admitted.groupBy("query_id")
      .agg(count(lit(1)).as("n_candidates"))
    val approx = rankAdc(admitted.join(codes, Seq(idCol))
      .join(broadcast(qtab), Seq("query_id", "sub", "code")), idCol, k)
    val joined = approx
      .join(exactTopK(corpus, q, idCol, vecCol, k),
        Seq("query_id", "neighbor_id"), "left")
      .withColumn("exact_hit", coalesce(col("exact_hit"), lit(0)))
      .join(broadcast(nCand), Seq("query_id"))
      .transform(Pin.shared)
    joined.crossJoin(broadcast(recallPpm(joined, k)))
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        col("adc_micro"), col("exact_hit"), col("n_candidates"),
        col("recall_ppm"))
  }
}
