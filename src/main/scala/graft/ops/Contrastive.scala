package graft.ops

import graft.functions.Hashing
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Contrastive training-pair construction: (anchor, positive,
  * negatives…) triplets for embedding/retrieval training — positives
  * from the verified near-dup graph, negatives drawn DETERMINISTICALLY
  * by hash from the whole corpus and then REJECTED (flagged, not
  * silently dropped) when a draw collides with the anchor's own
  * duplicate neighborhood. The false-negative audit column is the
  * point: contrastive losses are poisoned by negatives that are
  * secretly positives.
  *
  * Scale shape: the corpus gets ONE distributed hash-permutation
  * ([[Sampling.shuffleShards]]'s sortBy+zipWithIndex — no global
  * window), negatives resolve by an equi-join on the drawn rank, and
  * the neighborhood rejection is a LEFT join against the pair frame —
  * never an all-pairs product.
  */
object Contrastive {

  /** @param docs   corpus (idCol)
    * @param pairs  verified near-dup pairs (aCol, bCol), both
    *               orientations NOT required
    * @param negsPer negatives drawn per anchor
    * @return per (anchor, draw): `anchor`, `pos` (smallest near-dup
    *         neighbor), `neg_ix` (0-based draw index), `neg`,
    *         `clean` (1 unless the draw hit the anchor itself, its
    *         positive, or any of its near-dups)
    */
  def triplets(
      docs: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      negsPer: Int): DataFrame = {
    val sym = pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .union(pairs.select(col(bCol).cast("long").as("u"),
        col(aCol).cast("long").as("v")))
      .distinct()
      .transform(Pin.shared)
    val anchors = sym.groupBy(col("u").as("anchor"))
      .agg(min("v").as("pos"))
    val ranked = Sampling.shuffleShards(
        docs.select(col(idCol)), idCol, shardSize = Long.MaxValue)
      .select(col(idCol).cast("long").as("neg"), col("rank"))
      .transform(Pin.shared)
    val nTot = ranked.agg(count(lit(1)).as("_n"))
    val drawn = anchors
      .crossJoin(broadcast(nTot))
      .select(col("anchor"), col("pos"),
        explode(sequence(lit(0), lit(negsPer - 1))).as("neg_ix"),
        col("_n"))
      .withColumn("rank", pmod(
        Hashing.seededHash(col("neg_ix"), col("anchor").cast("string")),
        col("_n")))
      .join(ranked, Seq("rank"))
    drawn
      .join(sym.select(col("u").as("anchor"), col("v").as("neg"))
          .withColumn("_dup", lit(1)),
        Seq("anchor", "neg"), "left")
      .select(col("anchor"), col("pos"), col("neg_ix"), col("neg"),
        when(col("neg") === col("anchor") || col("neg") === col("pos") ||
          col("_dup").isNotNull, 0).otherwise(1).as("clean"))
  }

  /** Hard-negative mining for metric/two-tower training (the step
    * [[triplets]]' random draws skip): for each anchor, the `n` most
    * cosine-similar vectors carrying a DIFFERENT label — the negatives
    * that actually move the loss — plus the anchor's nearest
    * same-label positive and a `violation` flag (hard negative scores
    * at or above the positive: the triplet is actively wrong, the
    * highest-value training signal). The violation count per batch is
    * the curriculum dial hard-example miners tune.
    *
    * Scale shape: anchors are a bounded mining batch — they broadcast;
    * the corpus never shuffles beyond the per-anchor top-(n|1) windows
    * (high-cardinality keys). Cosines round to 4 decimals AFTER
    * ranking, and the violation compare uses the rounded values so the
    * flag is engine-portable.
    *
    * @return per (anchor, rank ≤ n): `anchor_id`, `anchor_label`,
    *         `rank`, `neg_id`, `neg_label`, `neg_cos` (round 4),
    *         `pos_id`, `pos_cos` (round 4; null if the anchor's label
    *         is unique in the corpus), `violation` (0/1)
    */
  def hardNegatives(
      corpus: DataFrame, anchors: DataFrame, idCol: String,
      vecCol: String, labelCol: String, n: Int): DataFrame = {
    val a = anchors.select(col(idCol).as("anchor_id"),
      col(vecCol).as("_av"), col(labelCol).as("anchor_label"))
    val scored = corpus
      .select(col(idCol).as("_cid"), col(vecCol).as("_cv"),
        col(labelCol).as("_clbl"))
      .crossJoin(broadcast(a))
      .where(col("_cid") =!= col("anchor_id"))
      .withColumn("_cos", Similarity.cosine(col("_av"), col("_cv")))
    val wNeg = Window.partitionBy(col("anchor_id"))
      .orderBy(col("_cos").desc, col("_cid").asc)
    val negs = scored.where(col("_clbl") =!= col("anchor_label"))
      .withColumn("rank", row_number().over(wNeg))
      .where(col("rank") <= n)
      .select(col("anchor_id"), col("anchor_label"), col("rank"),
        col("_cid").as("neg_id"), col("_clbl").as("neg_label"),
        round(col("_cos"), 4).as("neg_cos"))
    val pos = scored.where(col("_clbl") === col("anchor_label"))
      .withColumn("_pr", row_number().over(wNeg))
      .where(col("_pr") === 1)
      .select(col("anchor_id"), col("_cid").as("pos_id"),
        round(col("_cos"), 4).as("pos_cos"))
    negs.join(broadcast(pos), Seq("anchor_id"), "left")
      .withColumn("violation",
        when(col("pos_cos").isNotNull && col("neg_cos") >= col("pos_cos"),
          1).otherwise(0))
      .select(col("anchor_id"), col("anchor_label"), col("rank"),
        col("neg_id"), col("neg_label"), col("neg_cos"),
        col("pos_id"), col("pos_cos"), col("violation"))
  }
}
