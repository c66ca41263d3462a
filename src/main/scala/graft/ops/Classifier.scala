package graft.ops

import graft.functions.Hashing
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hashing-trick linear text classifier — the fastText-shaped quality
  * gate of large corpus pipelines (e.g. the GPT-3/CCNet "looks like
  * reference text" filter): score = mean over tokens of a weight
  * looked up by feature hash, no vocabulary file, fixed memory `dim`.
  *
  * Inference is a pure per-row expression — token hash → bucket →
  * weight → sum — so the corpus NEVER shuffles and the whole scorer
  * stays inside one whole-stage-codegen projection. A trained model
  * would broadcast its `dim`-sized weight array; here the weights are
  * derived from the portable hash of the bucket id (a deterministic
  * stand-in with the exact data flow of the real thing), so the DuckDB
  * oracle replays scoring bit-for-bit.
  *
  * Numeric discipline: weights are INTEGER parts-per-million in
  * [−500000, 500000] and the per-document total is an integer sum —
  * order-independent, so the score (one final division) is IEEE-exact
  * in any engine, and the keep/drop decision (`sum > 0`) never sits on
  * a floating-point boundary.
  */
object Classifier {

  /** Integer ppm weight of one token: bucket = h(token) mod dim,
    * weight = h("w:" + bucket) mod 1000001 − 500000.
    */
  private def weightPpm(token: Column, dim: Int): Column =
    pmod(Hashing.portableHash(
        concat(lit("w:"),
          pmod(Hashing.portableHash(token), lit(dim.toLong)).cast("string"))),
      lit(1000001L)) - lit(500000L)

  /** Score `textCol` of every row: appends `n_tokens` (int),
    * `score_ppm` (floor of the mean token weight, integer ppm in
    * [−500000, 500000]; null for empty docs) and `keep` (weight sum
    * > 0; null for empty docs). The mean stays integral — one floor
    * division of exact integers — because a 6-decimal float score hit
    * round-half TIES at sf0.1 (HALF_UP vs the oracle's half-even on 2
    * of 5000 docs); floor(x) is the same function in every engine.
    * The double intermediate is exact: |sum| ≤ 5·10⁵·n < 2⁵³.
    */
  def scoreDocs(
      df: DataFrame, textCol: String, dim: Int = 4096): DataFrame = {
    require(dim > 0, s"dim must be positive: $dim")
    val toks = TextAnalysis.tokens(col(textCol))
    val ppm = aggregate(toks, lit(0L), (acc, t) => acc + weightPpm(t, dim))
    df.withColumn("n_tokens", size(toks))
      .withColumn("_ppm", ppm)
      .withColumn("score_ppm", when(col("n_tokens") > 0,
        floor(col("_ppm").cast("double") / col("n_tokens")).cast("long")))
      .withColumn("keep", when(col("n_tokens") > 0, col("_ppm") > 0))
      .drop("_ppm")
  }

  /** DuckDB fragment scoring one token list (kept adjacent so the
    * oracle cannot drift): ppm sum over `toksExpr`.
    */
  def duckPpmSum(toksExpr: String, dim: Int): String = {
    val bucket = Hashing.duckPortableHash("t") + s" % $dim"
    val w = Hashing.duckPortableHash(s"'w:' || CAST($bucket AS VARCHAR)") +
      " % 1000001 - 500000"
    s"list_sum(list_transform($toksExpr, t -> $w))"
  }

  /** ROC operating table + exact tie-corrected AUC for a continuous
    * score against a binary label — the standard readout for choosing
    * a quality-gate threshold. AUC is the Mann–Whitney statistic in
    * its grouped form: reduce to score-DISTINCT grain (pos/neg counts
    * per score), then AUC·2PN = Σ_s (2·negBelow(s)·pos_s +
    * neg_s·pos_s) — the half-credit term handles ties exactly. The
    * cumulative negBelow runs on [[Rank.globalRowNumber]] +
    * [[Rank.prefixSum]], never a single-task window, so the
    * score-distinct frame may be data-proportional.
    *
    * Integer-exact until the final division: the AUC ratio is one
    * double divide of two exact int64s (order-independent sums), so
    * the rounded value is engine-portable. Confusion counts per
    * threshold are exact; derived rates are integer-ppm floors.
    *
    * @param thresholds predicted-positive rule is `score >= t`
    * @return one row per threshold: `thr`, `tp`, `fp`, `fn`, `tn`,
    *         `precision_ppm` (null when nothing is predicted
    *         positive), `recall_ppm`, `fpr_ppm`, `f1_ppm`, plus
    *         `auc` (round 6) and `n_pos`/`n_neg` on every row
    */
  def rocAuc(
      df: DataFrame, scoreCol: String, labelCol: String,
      thresholds: Seq[Double]): DataFrame = {
    require(thresholds.nonEmpty, "thresholds must be non-empty")
    val byScore = df.groupBy(col(scoreCol).cast("double").as("s"))
      .agg(sum(when(col(labelCol).cast("boolean"), 1L).otherwise(0L))
          .as("pos"),
        sum(when(!col(labelCol).cast("boolean"), 1L).otherwise(0L))
          .as("neg"))
      .transform(Pin.shared)
    val ranked = Rank.globalRowNumber(byScore, Seq("s" -> true), "_rk")
    val cum = Rank.prefixSum(ranked, "_rk", "neg", "_cneg")
    val auc = cum.agg(
      sum(lit(2L) * (col("_cneg") - col("neg")) * col("pos") +
        col("neg") * col("pos")).as("_a2"),
      sum("pos").as("n_pos"), sum("neg").as("n_neg"))
      .select(col("n_pos"), col("n_neg"),
        round(col("_a2").cast("double") /
          (lit(2.0) * col("n_pos") * col("n_neg")), 6).as("auc"))
    byScore
      .select(col("s"), col("pos"), col("neg"),
        explode(array(thresholds.map(lit): _*)).as("thr"))
      .groupBy("thr")
      .agg(sum(when(col("s") >= col("thr"), col("pos")).otherwise(0L))
          .as("tp"),
        sum(when(col("s") >= col("thr"), col("neg")).otherwise(0L))
          .as("fp"))
      .crossJoin(broadcast(auc))
      .withColumn("fn", col("n_pos") - col("tp"))
      .withColumn("tn", col("n_neg") - col("fp"))
      .select(col("thr"), col("tp"), col("fp"), col("fn"), col("tn"),
        expr("CASE WHEN tp + fp > 0" +
          " THEN (tp * 1000000) DIV (tp + fp) END").as("precision_ppm"),
        expr("(tp * 1000000) DIV n_pos").as("recall_ppm"),
        expr("(fp * 1000000) DIV n_neg").as("fpr_ppm"),
        expr("CASE WHEN 2 * tp + fp + fn > 0" +
          " THEN (2 * tp * 1000000) DIV (2 * tp + fp + fn) END")
          .as("f1_ppm"),
        col("auc"), col("n_pos"), col("n_neg"))
  }
}
