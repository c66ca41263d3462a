package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed logistic-regression training over hashed text features
  * — the TRAINED form of the fastText-shaped quality gate
  * ([[Classifier]] scores with stand-in weights; this learns them from
  * labels, the actual CCNet / GPT-3 "looks like reference text"
  * recipe: hash features, fit a linear model, filter by score).
  *
  * Features are the DSIR hashed unigram+bigram buckets
  * ([[Dsir.docFeatures]]), L1-normalized per document so every
  * example has unit mass; training is full-batch gradient descent
  * `w <- w - lr * X^T (sigmoid(Xw) - y) / N`.
  *
  * Scale shape (the same discipline as [[Similarity]]'s Lloyd loop
  * and [[Pca.fit]]): the per-doc feature frame is computed ONCE,
  * pre-partitioned by doc id and pinned ([[Pin.shared]]) for its K reuses;
  * each iteration is ONE job — an exchange-free window computes the
  * per-doc margin on the existing partitioning, the per-bucket
  * gradient is a map-side-combinable aggregate, and the ≤ dim+1-row
  * gradient is collected into the driver-held weight map (the
  * bounded-codebook pattern: model state is dim-sized by
  * construction, never data-sized). The corpus shuffles exactly once
  * (the feature build), not per round.
  */
object LogReg {

  /** Train `iters` full-batch GD steps from w = 0; labels are 0/1.
    * Ids must be non-null: a null id fails the call.
    *
    * @return `(bucket, w)` — one row per feature bucket that occurs in
    *         `df`, `w` the raw double weight (caller rounds)
    */
  def train(
      df: DataFrame, idCol: String, textCol: String, labelCol: String,
      dim: Int = 256, lr: Double = 1.0, iters: Int = 3): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    require(lr > 0, s"lr must be positive: $lr")
    // A null id would drop out of the label join and the `countDistinct`
    // behind nDocs without a trace, so it raises instead. The check rides
    // the feature build's scan: no extra job.
    val docs = df.withColumn(idCol, coalesce(col(idCol),
      raise_error(lit(s"LogReg.train: null $idCol"))))
    val spark = df.sparkSession
    val labels = docs.select(col(idCol),
      col(labelCol).cast("double").as("y"))
    val hashed = Dsir.docFeatures(docs, idCol, textCol, dim)
      .withColumn("x",
        col("n").cast("double") /
          sum(col("n")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(idCol)))
      .join(labels, Seq(idCol))
      .select(col(idCol), col("bucket"), col("x"), col("y"))
    // bucket -1 is the INTERCEPT: x = 1 on every doc that has any
    // feature, so the model can express the class prior instead of
    // saturating on the majority class.
    //
    // Pre-partitioned by doc id (one build-time shuffle): every GD
    // round's per-doc margin then runs as a WINDOW over the existing
    // partitioning — no exchange inside the loop (r19; the former
    // shape paid a model broadcast + two shuffle aggregates + a
    // checkpoint per round, ~4 actions; this shape pays ONE
    // aggregate-and-collect job per round).
    // Partition count derived from the INPUT size, not inherited from
    // defaultParallelism: the feature frame
    // is corpus-bytes-proportional, and at bench scale it is sub-MB —
    // 32 near-empty partitions made every GD round pay the ~150 ms
    // per-task constant × 32, which is why the 8-core bench beat the
    // 32-core one on the whole LogReg family. At production input
    // sizes sizedParts saturates to defaultParallelism, so the wide
    // shape is unchanged where it matters.
    val feats = hashed.unionByName(
        hashed.select(col(idCol), col("y")).distinct()
          .select(col(idCol), lit(-1L).as("bucket"),
            lit(1.0).as("x"), col("y")))
      .repartition(Par.sizedParts(df), col(idCol))
      .transform(Pin.shared)
    // ONE setup job for both model-sized facts (was two: a distinct
    // count + a distinct collect): nDocs and the bucket universe are
    // both bounded aggregates of the checkpointed feature frame.
    val setup = feats.agg(
      countDistinct(col(idCol)).as("_nd"),
      sort_array(collect_set(col("bucket"))).as("_bk")).collect()(0)
    val nDocs = setup.getLong(0).toDouble
    // The model is dim-bounded (≤ dim+1 buckets) — driver state, the
    // same bounded-codebook posture as Pca.fit / Bpe's merge rules.
    // w = 0 for every bucket that occurs anywhere in the corpus.
    import spark.implicits._
    val allBuckets = setup.getSeq[Long](1).toArray
    var w = allBuckets.map(_ -> 0.0).toMap
    val wDoc = org.apache.spark.sql.expressions.Window.partitionBy(idCol)
    for (_ <- 1 to iters) {
      // err(doc) = sigmoid(Σ x·w) − y, computed per row via a window
      // sum against the literal weight vector. The weights ride as a
      // dim+1-slot ARRAY indexed by bucket+1 (bucket −1 = intercept →
      // slot 0), not a map literal: element_at on a map literal is a
      // LINEAR scan (GetMapValue has no hash lookup — ADVICE r19), and
      // with the plan recompiled every round (fresh weight literal)
      // those dim probes per row ran as cold interpreted bytecode —
      // the measured ~0.15 s/task constant of the GD rounds. The
      // array slot read is O(1); slots for never-occurring buckets
      // hold 0.0 and are never read, so the arithmetic is unchanged.
      val wVec: Seq[Double] =
        (0 to dim).map(i => w.getOrElse(i.toLong - 1L, 0.0))
      val z = sum(col("x") * element_at(typedlit(wVec),
          (col("bucket") + lit(2L)).cast("int")))
        .over(wDoc)
      val err = lit(1.0) / (lit(1.0) + exp(-z)) - col("y")
      val grad = feats
        .select(col("bucket"), (col("x") * err).as("_c"))
        .groupBy("bucket")
        .agg((sum(col("_c")) / nDocs).as("g"))
        .collect()
      val g = grad.flatMap(r =>
        if (r.isNullAt(1)) None // all-null contribs ≡ the old coalesce-to-0
        else Some(r.getLong(0) -> r.getDouble(1))).toMap
      // same update arithmetic as the distributed form: absent
      // gradient (bucket with no surviving rows) leaves w unchanged
      w = w.map { case (b, wv) => b -> (wv - lr * g.getOrElse(b, 0.0)) }
    }
    spark.createDataset(allBuckets.toSeq.map(b => (b, w(b))))
      .toDF("bucket", "w")
  }

  /** Score a frame under a trained model: mean bucket weight weighted
    * by the doc's normalized features — `sigmoid` of it is the quality
    * probability. Returns `idCol`, `z`, `p`.
    */
  def score(
      df: DataFrame, idCol: String, textCol: String, model: DataFrame,
      dim: Int = 256): DataFrame = {
    val hashed = Dsir.docFeatures(df, idCol, textCol, dim)
      .withColumn("x",
        col("n").cast("double") /
          sum(col("n")).over(org.apache.spark.sql.expressions.Window
            .partitionBy(idCol)))
    val feats = hashed.select(col(idCol), col("bucket"), col("x"))
      .unionByName(hashed.select(col(idCol)).distinct()
        .select(col(idCol), lit(-1L).as("bucket"), lit(1.0).as("x")))
    feats.join(broadcast(model), Seq("bucket"))
      .groupBy(idCol)
      .agg(sum(col("x") * col("w")).as("z"))
      .select(col(idCol), col("z"),
        (lit(1.0) / (lit(1.0) + exp(-col("z")))).as("p"))
  }
}
