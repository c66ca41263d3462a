package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Embedding compression for vector-heavy corpora: per-vector absmax
  * int8 scalar quantization (the storage format FAISS/SQ8 and most
  * vector stores use for 4× footprint reduction before ANN search).
  *
  * Entirely narrow per-row array math — no shuffle, no state; at
  * 100 TB the cost is one projection on the scan. Arithmetic is pinned
  * to double precision; a float→double cast is exact, so the scale
  * (and therefore every code) is bit-identical in any engine that
  * replays the formula.
  *
  * PERF: higher-order functions are interpreted (CodegenFallback), and
  * a column expression referenced inside a lambda is RE-EVALUATED per
  * element — an O(dim) scale inlined into a per-element lambda turns
  * the projection O(dim²) (measured 5.5 s → 0.6 s at sf0.1 for
  * 2000×64 vectors). Every entry point therefore materializes the
  * scale once per ROW and threads it into the lambdas as a plain
  * column reference.
  */
object Quantize {

  private def d(c: Column): Column = c.cast("double")

  def absmaxScale(vec: Column): Column =
    coalesce(array_max(transform(vec, v => abs(d(v)))), lit(0d))

  /** `round(v_i / scale * 127)` against a PRE-COMPUTED per-row scale
    * column; codes lie in [-127, 127]. With `scale = 0` (all-zero or
    * empty vectors) every code is 0 — dequantization maps them back to
    * exact zeros, no NaN leaks.
    */
  def quantizeInt8(vec: Column, scale: Column): Column =
    transform(vec, v =>
      when(scale === 0d, lit(0))
        .otherwise(round(d(v) / scale * 127).cast("int")))

  /** Convenience single-column form: derives the absmax scale itself.
    * Fine standalone; inside a wider projection prefer materializing
    * [[absmaxScale]] once and calling the two-argument form (see the
    * PERF note above).
    */
  def quantizeInt8(vec: Column): Column = quantizeInt8(vec, absmaxScale(vec))

  /** Reconstruction of element `q` under `scale`. */
  private def dequant(q: Column, scale: Column): Column =
    d(q) * scale / 127

  /** Quantization audit frame: per vector the scale, an exact integral
    * checksum of the codes, and the worst per-element reconstruction
    * error. `max_abs_err ≤ scale/254` by construction — the assertion
    * any storage-format change must keep.
    *
    * Returns (`idCol`, `n_dims`, `scale`, `q_sum`, `max_abs_err`).
    */
  def quantizeAudit(df: DataFrame, idCol: String, vecCol: String): DataFrame = {
    // Two staged projections pin evaluate-once semantics: scale, then
    // codes, then the O(dim) reductions — each lambda only references
    // per-row columns, never a nested array reduction.
    val vec = col(vecCol)
    df.select(col(idCol), vec, absmaxScale(vec).as("scale"))
      .withColumn("q", quantizeInt8(vec, col("scale")))
      .select(
        col(idCol),
        size(vec).as("n_dims"),
        col("scale"),
        coalesce(aggregate(col("q"), lit(0L), (acc, x) => acc + x), lit(0L))
          .as("q_sum"),
        round(coalesce(array_max(zip_with(vec, col("q"),
          (v, qi) => abs(d(v) - dequant(qi, col("scale"))))), lit(0d)), 6)
          .as("max_abs_err"))
  }

  /** Matryoshka truncation audit (Kusupati et al. 2022): how much
    * retrieval quality survives keeping only the first `d` embedding
    * dimensions — the question behind "can we store 8× fewer floats
    * per vector". For each candidate prefix length, cosine top-k over
    * the TRUNCATED vectors is compared to the full-precision top-k;
    * recall@k is the fraction of true neighbors the truncated index
    * still finds. A 100 TB vector store reads this table before
    * choosing its stored dimensionality (and it composes with
    * [[quantizeInt8]] / [[graft.ops.Pq]] for the bytes-per-dim axis).
    *
    * One broadcast-query brute-force pass per candidate dim (the q29
    * tier — at production scale swap in the IVF/PQ searchers, the
    * recall math is unchanged); all counts exact integers.
    *
    * @return per candidate dim: `dim`, `hits`, `n_queries`,
    *         `recall_ppm`
    */
  def matryoshkaRecall(
      corpus: DataFrame, queries: DataFrame, idCol: String,
      vecCol: String, dims: Seq[Int], k: Int): DataFrame = {
    require(dims.nonEmpty && k > 0, "dims non-empty, k > 0")
    val full = Similarity.bruteForceTopK(corpus, queries, idCol, vecCol, k)
      .select(col("query_id"), col("neighbor_id"))
      .transform(Pin.shared)
    val nq = queries.select(col(idCol)).distinct().count()
    dims.map { dd =>
      def trunc(df: DataFrame) =
        df.select(col(idCol), slice(col(vecCol), 1, dd).as(vecCol))
      Similarity.bruteForceTopK(trunc(corpus), trunc(queries),
          idCol, vecCol, k)
        .select(col("query_id"), col("neighbor_id"))
        .join(full, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("hits"))
        .select(lit(dd).as("dim"), col("hits"),
          lit(nq).as("n_queries"),
          expr(s"(hits * 1000000) DIV (${nq}L * ${k}L)")
            .as("recall_ppm"))
    }.reduce(_ unionByName _)
  }
}
