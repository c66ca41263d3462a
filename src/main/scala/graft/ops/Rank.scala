package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distributed global ranking — the scale-safe replacement for
  * `row_number().over(Window.orderBy(...))` with an EMPTY partition
  * spec, which Spark plans as an `Exchange SinglePartition` + one-task
  * sort of the whole frame (it even logs a warning). On a
  * 1000-executor cluster that single task is the job.
  *
  * [[globalRowNumber]] computes the identical 1-based rank with a
  * DISTRIBUTED sort: `RDD.sortBy` range-partitions on the key (every
  * partition sorts in parallel) and `zipWithIndex` numbers rows with
  * per-partition offsets — no single-task stage anywhere, for
  * multi-column mixed-type keys with per-column direction.
  * `GemPipeline.assignCompanyIds` ranks its distinct company names
  * through it. `Sampling.shuffleShards` keeps its own sortBy +
  * zipWithIndex: its null-key check sits inside the sort key and it
  * breaks ties on `String.valueOf` of the raw value.
  *
  * [[prefixSum]] extends a computed rank to a global running sum
  * (`sum(...) OVER (ORDER BY ... ROWS UNBOUNDED PRECEDING)`) with the
  * two-pass bucketed scan from `Lateness.watermarkProfile` /
  * `Concurrency`: per-bucket partials, a prefix over the TINY bucket
  * frame, then a bucket-partitioned running sum — all heavy windows
  * parallel.
  *
  * Ordering parity with the SQL engines (Spark window + DuckDB
  * oracle): ascending sorts NULLs first, descending sorts NULLs last
  * (both engines' defaults); doubles compare with NaN greatest. Ties
  * beyond the key columns fall back to input order — pass a
  * tie-breaking column whenever downstream math depends on the exact
  * rank of tied rows (every catalog call site does).
  */
object Rank {

  /** Total order on Spark external row values of one column. */
  private def cmpValues(a: Any, b: Any): Int = (a, b) match {
    case (null, null) => 0
    case (null, _)    => -1
    case (_, null)    => 1
    // Double/Float first: compare() gives the SQL total order
    // (NaN greatest) which Comparable would also give, but be explicit.
    case (x: java.lang.Double, y: java.lang.Double) =>
      java.lang.Double.compare(x, y)
    case (x: java.lang.Float, y: java.lang.Float) =>
      java.lang.Float.compare(x, y)
    case (x: Comparable[_], y) if x.getClass == y.getClass =>
      x.asInstanceOf[Comparable[Any]].compareTo(y)
    case _ => throw new IllegalArgumentException(
      s"globalRowNumber: cannot order ${a.getClass.getName}" +
        s" against ${b.getClass.getName}")
  }

  /** Exact global `row_number()` over `order` (column name → ascending),
    * appended as `rankCol` (1-based long), computed with a distributed
    * range-partitioned sort — never a single-task window.
    *
    * Eager caveat: `zipWithIndex` runs a Spark job at plan-build time
    * (it must learn per-partition counts), like the other
    * sortBy+zipWithIndex sites in this codebase.
    */
  def globalRowNumber(
      df: DataFrame, order: Seq[(String, Boolean)],
      rankCol: String): DataFrame = {
    require(order.nonEmpty, "globalRowNumber: order spec must be non-empty")
    require(!df.columns.contains(rankCol),
      s"globalRowNumber emits '$rankCol': rename the existing column")
    val spark = df.sparkSession
    val st = df.schema
    val idxs = order.map { case (c, _) => st.fieldIndex(c) }.toArray
    val signs = order.map { case (_, asc) => if (asc) 1 else -1 }.toArray
    implicit val ord: Ordering[Array[Any]] = new Ordering[Array[Any]] {
      def compare(x: Array[Any], y: Array[Any]): Int = {
        var i = 0
        while (i < x.length) {
          val c = signs(i) * cmpValues(x(i), y(i))
          if (c != 0) return c
          i += 1
        }
        0
      }
    }
    val ranked = df.rdd
      .sortBy(r => idxs.map(r.get(_): Any))
      .zipWithIndex()
      .map { case (r, i) => Row.fromSeq(r.toSeq :+ (i + 1L)) }
    spark.createDataFrame(ranked, st.add(rankCol, LongType))
  }

  /** EXACT per-group discontinuous quantiles at scale — the answer to
    * "p50/p95/p99 per group" when groups are FEW and HUGE, where
    * `Window.partitionBy(group).orderBy(value)` funnels each giant
    * group through one task. One distributed range-partitioned sort
    * on (group, value, tie) ranks everything ([[globalRowNumber]]);
    * per-group offsets come from a tiny group-count frame; the wanted
    * order statistics are then a semi-join on rank — no skewed window
    * anywhere, and the result is the exact lower order statistic
    * (`rank = floor(q·(n−1)) + 1`, SQL type-1 / disc semantics), not
    * an interpolation or a sketch.
    *
    * @param tieCol    unique tiebreak column (exact ranks of tied
    *                  values must be deterministic)
    * @param qsPermil  quantiles in permil (500 = median)
    * @return per (group, q_permil): `n`, `<valueCol>` (the order
    *         statistic)
    */
  def groupedQuantiles(
      df: DataFrame, groupCol: String, valueCol: String, tieCol: String,
      qsPermil: Seq[Int]): DataFrame = {
    require(qsPermil.nonEmpty && qsPermil.forall(q => q >= 0 && q <= 1000),
      s"quantiles in [0,1000] permil: $qsPermil")
    val sp = df.sparkSession
    import sp.implicits._
    val in = df.select(col(groupCol), col(valueCol), col(tieCol))
      .where(col(valueCol).isNotNull)
    val ranked = globalRowNumber(in,
      Seq(groupCol -> true, valueCol -> true, tieCol -> true), "_grk")
    val counts = in.groupBy(groupCol).agg(count(lit(1)).as("n"))
    // offset of each group = ranks consumed by smaller groups; the
    // group frame is tiny (FEW groups by precondition) — a window
    // over it is driver-trivial, mirroring prefixSum's bucket frame.
    val offs = counts.withColumn("_off",
      coalesce(sum("n").over(Window.orderBy(groupCol)
        .rowsBetween(Window.unboundedPreceding, -1L)), lit(0L)))
    val wanted = offs.select(col(groupCol), col("n"), col("_off"))
      .crossJoin(broadcast(
        qsPermil.toDF("q_permil").select(col("q_permil").cast("int"))))
      .withColumn("_grk",
        col("_off") + expr("(q_permil * (n - 1)) DIV 1000") + lit(1L))
      .select(col(groupCol).as("_wg"), col("q_permil"), col("n"),
        col("_grk"))
    ranked.join(broadcast(wanted), Seq("_grk"))
      .select(col("_wg").as(groupCol), col("q_permil"), col("n"),
        col(valueCol))
  }

  /** Global running sum of `valueCol` (long) in `rankCol` order
    * (1-based dense ranks from [[globalRowNumber]]), appended as
    * `outCol` — inclusive of the current row, exactly
    * `sum(v) OVER (ORDER BY rank ROWS UNBOUNDED PRECEDING)`.
    *
    * Two-pass bucketed prefix scan: ranks group into buckets of
    * `bucketSize`; per-bucket sums prefix over the bucket frame
    * (`n/bucketSize` rows — the ONLY unpartitioned window, sized to
    * stay driver-trivial: pick bucketSize ≈ √n or larger so both the
    * bucket frame and each bucket partition stay bounded), then a
    * bucket-PARTITIONED running sum finishes within buckets in
    * parallel.
    */
  def prefixSum(
      df: DataFrame, rankCol: String, valueCol: String, outCol: String,
      bucketSize: Long = 1L << 16): DataFrame = {
    require(bucketSize > 0, s"bucketSize must be positive: $bucketSize")
    require(!df.columns.contains(outCol),
      s"prefixSum emits '$outCol': rename the existing column")
    val b = df.withColumn("_pfb", expr(s"($rankCol - 1) DIV ${bucketSize}L"))
    val pre = b.groupBy("_pfb")
      .agg(sum(col(valueCol)).as("_pfs"))
      .withColumn("_pfprev", sum("_pfs").over(
        Window.orderBy("_pfb")
          .rowsBetween(Window.unboundedPreceding, -1L)))
    val wIn = Window.partitionBy("_pfb").orderBy(col(rankCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    b.join(broadcast(pre.select("_pfb", "_pfprev")), Seq("_pfb"))
      .withColumn(outCol,
        coalesce(col("_pfprev"), lit(0L)) + sum(col(valueCol)).over(wIn))
      .drop("_pfb", "_pfprev")
  }
}
