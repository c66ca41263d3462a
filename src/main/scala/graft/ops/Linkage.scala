package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Cross-table record linkage (entity resolution): match records of
  * two tables that describe the same real-world entity despite field
  * noise — the Fellegi–Sunter shape with a deterministic weighted
  * agreement score instead of EM-fitted log-odds. The cross-source
  * cousin of the dedup tier: dedup collapses one corpus, linkage
  * aligns two (this crawl's domains against last crawl's, a vendor
  * list against a master dim).
  *
  * Pipeline: (1) blocking — an equi-join on caller-chosen block keys
  * (composite keys beat single hot tokens: candidate generation must
  * be an inverted-index-shaped join, never A×B, and block-key
  * selectivity is THE scale knob); (2) score each candidate pair
  * once: token-set Jaccard on the name (integer |∩|/|∪|) plus
  * exact-agreement weights on the remaining fields; (3) threshold
  * into match / possible / miss. Counts are integers and the score
  * is one rational expression, so every decision is reproducible.
  */
object Linkage {

  /** Score candidate pairs between `a` and `b`, blocked on equality
    * of `blockCols` (must exist on both sides).
    *
    * @param exactCols (column, weight) exact-agreement fields
    * @return (key_a, key_b, jacc, score), one row per candidate pair;
    *         `jacc` and `score` rounded to 6
    */
  def candidates(
      a: DataFrame, b: DataFrame, keyCol: String, nameCol: String,
      blockCols: Seq[String], exactCols: Seq[(String, Double)],
      nameWeight: Double): DataFrame = {
    def prep(df: DataFrame, side: String) = df.select(
      col(keyCol).as(s"key_$side") +:
        array_distinct(split(col(nameCol), " ")).as(s"toks_$side") +:
        struct(exactCols.map { case (c, _) => col(c) }: _*).as(s"ex_$side") +:
        blockCols.map(c => col(c).as(s"_blk_${c}_$side")): _*)
    val joinCond = blockCols
      .map(c => col(s"_blk_${c}_a") === col(s"_blk_${c}_b"))
      .reduce(_ && _)
    val exactScore = exactCols.map { case (c, w) =>
      when(col("ex_a").getField(c) === col("ex_b").getField(c), lit(w))
        .otherwise(lit(0.0))
    }.reduce(_ + _)
    prep(a, "a").join(prep(b, "b"), joinCond)
      .withColumn("n_int",
        size(array_intersect(col("toks_a"), col("toks_b"))).cast("long"))
      .withColumn("n_uni",
        size(array_union(col("toks_a"), col("toks_b"))).cast("long"))
      .withColumn("jacc",
        round(col("n_int").cast("double") / col("n_uni").cast("double"), 6))
      .select(col("key_a"), col("key_b"), col("jacc"),
        round(lit(nameWeight) * col("jacc") + exactScore, 6).as("score"))
  }

  /** Sorted-neighborhood candidate generation (the OTHER classic
    * blocking family): union both sides, sort once on the blocking
    * key, and pair records whose ranks fall within a window w — where
    * composite-key blocking (q166) partitions by exact equality, SNM
    * tolerates near-miss keys (typo'd first tokens land adjacent, not
    * in a different block).
    *
    * Scale shape: the rank-band pairing is NOT a range join — each
    * row computes band = rank DIV w and the probe side duplicates
    * onto (band, band+1), so candidates come from one EQUI-join on
    * the band id and a rank-distance filter. One global sort of the
    * (small) key frame, no nested loops.
    *
    * @return one row: `w`, `n_candidates` (cross-side pairs within
    *         the window), `n_true` (key-equal pairs among them),
    *         `n_true_possible` (right-side records whose key exists
    *         on the left), `recall_ppm`
    */
  def sortedNeighborhood(
      a: DataFrame, b: DataFrame, keyCol: String, sortCol: String,
      w: Int): DataFrame = {
    require(w >= 1, s"window must be >= 1: $w")
    def side(df: DataFrame, s: Int) = df.select(
      col(keyCol).as("key"), col(sortCol).as("sk"), lit(s).as("side"))
    // (sk, key, side): the tie-break must INTERLEAVE sides — with
    // duplicated sort keys, (sk, side, key) stacks all of one side
    // first and pushes a record's twin ~dup-count ranks away. The
    // global sort is DISTRIBUTED (Rank.globalRowNumber) — the record
    // frame is corpus-sized in real ER use, so an unpartitioned
    // row_number window here would be a single-task sort of the data.
    val u = Rank.globalRowNumber(
        side(a, 0).unionByName(side(b, 1)),
        Seq("sk" -> true, "key" -> true, "side" -> true), "r")
      .withColumn("band", expr(s"r DIV $w"))
      // Self-joined below (base × down-replicated probe): pin so the
      // ranked union materializes once.
      .transform(Pin.shared)
    // The probe side always has the LARGER rank (y.r > x.r), so its
    // band is ≥ the base band — it must replicate DOWN onto
    // (band − 1, band) to meet every base row within w ranks.
    val probe = u.withColumn("band",
      explode(array(col("band"), col("band") - 1)))
    val pairs = u.as("x").join(probe.as("y"),
        col("x.band") === col("y.band") &&
          col("y.r") > col("x.r") && col("y.r") <= col("x.r") + w &&
          col("x.side") =!= col("y.side"))
      .select(
        when(col("x.side") === 0, col("x.key")).otherwise(col("y.key"))
          .as("key_a"),
        when(col("x.side") === 0, col("y.key")).otherwise(col("x.key"))
          .as("key_b"))
      .distinct()
    val truePossible = b.select(col(keyCol).as("key")).distinct()
      .join(a.select(col(keyCol).as("key")).distinct(), Seq("key"),
        "left_semi")
      .agg(count(lit(1)).as("n_true_possible"))
    pairs.agg(count(lit(1)).as("n_candidates"),
        sum(when(col("key_a") === col("key_b"), 1L).otherwise(0L))
          .as("n_true"))
      .crossJoin(truePossible)
      .select(lit(w).as("w"), col("n_candidates"), col("n_true"),
        col("n_true_possible"),
        expr("(n_true * 1000000) DIV n_true_possible").as("recall_ppm"))
  }

  /** Link and evaluate against the ground truth `key_a == key_b`
    * (available when linking a table against its perturbed twin):
    * per decision bucket, pair count, how many are true same-entity
    * pairs, and the mean score.
    */
  def linkReport(
      pairs: DataFrame, matchAt: Double, possibleAt: Double): DataFrame =
    pairs
      .withColumn("decision",
        when(col("score") >= matchAt, "match")
          .when(col("score") >= possibleAt, "possible")
          .otherwise("miss"))
      .groupBy("decision")
      .agg(count(lit(1)).as("n_pairs"),
        sum(when(col("key_a") === col("key_b"), 1L).otherwise(0L))
          .as("n_true"),
        // Scores carry ≤6 decimals by construction, so summing them
        // as exact micro-units keeps the mean order-independent —
        // a float sum would expose fold order at this row count.
        sum(round(col("score") * lit(1e6)).cast("long")).as("_micros"))
      .withColumn("mean_score",
        round(col("_micros").cast("double") /
          (col("n_pairs").cast("double") * lit(1e6)), 4))
      .drop("_micros")
}
