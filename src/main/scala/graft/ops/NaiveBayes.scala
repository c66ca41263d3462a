package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multinomial Naive Bayes with Laplace smoothing — the classifier
  * that IS an aggregation: training is one (label, token) count pass
  * (map-side combinable, no iterations, no gradients), which is why
  * NB remains the 100 TB baseline every fancier model must beat
  * (q118's logreg needs per-round passes; this needs ONE).
  *
  * Determinism: every model weight ln((c+1)/(C_l+V)) is snapped to
  * integer nano-nats at TRAIN time, so test-doc scores are integer
  * sums over model weights (order-free) and the argmax ties break on
  * the smallest label — an external engine replays train AND
  * inference exactly.
  *
  * Scale shape: training aggregates are vocabulary-sized; scoring
  * explodes test tokens × |labels| (a broadcast label dim) and
  * left-joins the broadcastable model; per-doc argmax is a
  * row_number window keyed by doc.
  */
object NaiveBayes {

  /** Train on `trainFilter` rows, score the rest, report per-label
    * accuracy. A test document whose tokenization is EMPTY still
    * scores — token sum 0, so its argmax is the max-prior (most
    * frequent training) label — and counts in `n_test`; the explode
    * never silently drops it.
    *
    * @return per true label: `label`, `n_test`, `n_correct`,
    *         `accuracy` (round 4)
    */
  def evalSplit(
      docs: DataFrame, idCol: String, labelCol: String, textCol: String,
      trainFilter: Column): DataFrame = {
    val base = docs.select(col(idCol).as("id"),
      col(labelCol).as("label"), col(textCol).as("text"),
      trainFilter.as("is_train"))
    val train = base.where(col("is_train"))
    val test = base.where(!col("is_train"))
    val toks = train.select(col("label"),
        explode(TextAnalysis.tokens(col("text"))).as("token"))
    val counts = toks.groupBy("label", "token")
      .agg(count(lit(1)).as("c"))
    val cl = counts.groupBy("label").agg(sum("c").as("cl"))
    val vocab = counts.select("token").distinct()
      .agg(count(lit(1)).as("v"))
    val priors = train.groupBy("label").agg(count(lit(1)).as("nl"))
      .crossJoin(broadcast(train.agg(count(lit(1)).as("nt"))))
      .select(col("label"),
        round(log(col("nl").cast("double") / col("nt").cast("double")) *
          lit(1e9)).cast("long").as("prior_n"))
    def d(c: Column) = c.cast("double")
    val withV = cl.crossJoin(broadcast(vocab))
    val model = counts.join(withV, Seq("label"))
      .select(col("label"), col("token"),
        round(log((d(col("c")) + lit(1.0)) /
          (d(col("cl")) + d(col("v")))) * lit(1e9)).cast("long")
          .as("w_n"))
    val defaults = withV.select(col("label"),
      round(log(lit(1.0) / (d(col("cl")) + d(col("v")))) * lit(1e9))
        .cast("long").as("def_n"))
    val labels = defaults.select("label", "def_n")
    val testToks = test.select(col("id"), col("label").as("true_label"),
      explode(TextAnalysis.tokens(col("text"))).as("token"))
    val tokSums = testToks
      .join(broadcast(labels.withColumnRenamed("label", "cand")),
        lit(true))
      .join(model.select(col("label").as("cand"), col("token"),
        col("w_n")), Seq("cand", "token"), "left")
      .withColumn("cell", coalesce(col("w_n"), col("def_n")))
      .groupBy("id", "cand")
      .agg(sum("cell").as("_toksum"))
    // Left join from the full test frame, not from the exploded
    // tokens: empty-token docs keep a row per candidate (token sum 0
    // → prior-only argmax) instead of dropping out of n_test.
    val scoredCells = test
      .select(col("id"), col("label").as("true_label"))
      .join(broadcast(labels.select(col("label").as("cand"))), lit(true))
      .join(tokSums, Seq("id", "cand"), "left")
      .join(broadcast(priors.select(col("label").as("cand"),
        col("prior_n"))), Seq("cand"))
      .withColumn("score",
        coalesce(col("_toksum"), lit(0L)) + col("prior_n"))
    val w = Window.partitionBy("id")
      .orderBy(col("score").desc, col("cand").asc)
    val preds = scoredCells
      .withColumn("_rk", row_number().over(w))
      .where(col("_rk") === 1)
    preds.groupBy(col("true_label").as("label"))
      .agg(count(lit(1)).as("n_test"),
        sum(when(col("cand") === col("true_label"), 1L).otherwise(0L))
          .as("n_correct"))
      .withColumn("accuracy",
        round(col("n_correct").cast("double") /
          col("n_test").cast("double"), 4))
  }
}
