package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** k-anonymity risk report over quasi-identifier columns (Sweeney
  * 2002): every row whose QI equivalence class has fewer than k
  * members is re-identifiable by linking those attributes — the
  * governance gate to run BEFORE sharing a "de-identified" extract.
  *
  * One QI-grain count aggregate; the report is the class frame. The
  * output is the `topN` SMALLEST classes (the actual risk surface,
  * not a yes/no) with the corpus-level summary repeated on each row:
  * total classes, classes below k, records at risk, and the minimum
  * class size (the dataset's true k).
  */
object Anonymity {

  def kAnonymity(
      df: DataFrame, qiCols: Seq[String], k: Long,
      topN: Int): DataFrame = {
    val classes = df.groupBy(qiCols.map(col): _*)
      .agg(count(lit(1)).as("class_size"))
      .transform(Pin.shared)
    val summary = classes.agg(
      count(lit(1)).as("n_classes"),
      sum(when(col("class_size") < k, 1L).otherwise(0L))
        .as("n_small_classes"),
      sum(when(col("class_size") < k, col("class_size")).otherwise(0L))
        .as("records_at_risk"),
      min("class_size").as("min_class_size"),
      sum("class_size").as("n_records"))
    // Explicit top-N (TakeOrderedAndProject — per-partition heaps,
    // one topN-row merge), then the rank window runs on the ≤ topN
    // survivors only: never a rank window over the full class frame
    // whose single-task sort only InferWindowGroupLimit defuses.
    val ordCols = col("class_size").asc +: qiCols.map(col(_).asc)
    classes
      .orderBy(ordCols: _*)
      .limit(topN)
      .withColumn("risk_rank", row_number().over(Window.orderBy(ordCols: _*)))
      .crossJoin(broadcast(summary))
      .select((col("risk_rank") +: qiCols.map(col) :+
        col("class_size") :+ col("n_classes") :+
        col("n_small_classes") :+ col("records_at_risk") :+
        col("min_class_size") :+
        expr("(records_at_risk * 1000000) DIV n_records")
          .as("risk_ppm")): _*)
  }

  /** t-closeness audit (Li, Li & Venkatasubramanian, ICDE 2007): the
    * step after [[lDiversity]] — a class can hold l distinct
    * sensitive values and STILL leak when its distribution is skewed
    * far from the corpus-wide one (all-low-salary classes are
    * disclosive even with many distinct salaries). Closeness is the
    * 1-D earth-mover distance between the class's sensitive
    * distribution and the global one over the ORDERED sensitive
    * domain with unit adjacent-bucket ground distance (the paper's
    * numeric-attribute form; [[graft.ops.Drift.emdFromHists]] is the
    * same integral at corpus-drift grain).
    *
    * Scale shape: one (QI, sens) count aggregate; the sensitive
    * DOMAIN is attribute-bounded (broadcast), so densifying each
    * class against it is a dim-sized broadcast join, cumsums window
    * PARTITIONED by class, and the report ranks only the topN
    * worst via explicit TakeOrderedAndProject.
    *
    * @return topN rows: `risk_rank`, QI cols, `class_size`, `emd`
    *         (round 4, in bucket units), plus summary on every row:
    *         `n_classes`, `n_above_t`, `max_emd`
    */
  def tCloseness(
      df: DataFrame, qiCols: Seq[String], sensitiveCol: String,
      t: Double, topN: Int): DataFrame = {
    val cells = df.groupBy(
        (qiCols.map(col) :+ col(sensitiveCol).cast("long").as("_sv")): _*)
      .agg(count(lit(1)).as("_n"))
      .transform(Pin.shared)
    val domain = cells.select(col("_sv")).distinct()
    val global = cells.groupBy("_sv").agg(sum("_n").as("_gn"))
    val classes = cells.groupBy(qiCols.map(col): _*)
      .agg(sum("_n").as("class_size"))
    val grid = classes.crossJoin(broadcast(domain))
      .join(cells, qiCols :+ "_sv", "left")
      .na.fill(0L, Seq("_n"))
      .join(broadcast(global), Seq("_sv"))
    val wc = Window.partitionBy(qiCols.map(col): _*).orderBy("_sv")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = grid.crossJoin(broadcast(
      global.agg(sum("_gn").as("_gt"))))
    val emd = tot
      .withColumn("_cc", sum("_n").over(wc))
      .withColumn("_cg", sum("_gn").over(wc))
      .groupBy((qiCols.map(col) :+ col("class_size")): _*)
      .agg(round(sum(abs(
        col("_cc").cast("double") / col("class_size").cast("double") -
          col("_cg").cast("double") / col("_gt").cast("double"))), 4)
        .as("emd"))
      .transform(Pin.shared)
    val summary = emd.agg(
      count(lit(1)).as("n_classes"),
      sum(when(col("emd") > t, 1L).otherwise(0L)).as("n_above_t"),
      max("emd").as("max_emd"))
    val ordCols = col("emd").desc +: qiCols.map(col(_).asc)
    emd.orderBy(ordCols: _*).limit(topN)
      .withColumn("risk_rank", row_number().over(Window.orderBy(ordCols: _*)))
      .crossJoin(broadcast(summary))
      .select((col("risk_rank") +: qiCols.map(col) :+
        col("class_size") :+ col("emd") :+ col("n_classes") :+
        col("n_above_t") :+ col("max_emd")): _*)
  }

  /** l-diversity audit (Machanavajjhala et al. 2007): k-anonymity is
    * not enough when everyone in a large QI class shares the SAME
    * sensitive value — the attacker learns it without distinguishing
    * anyone. A class is l-diverse when it contains ≥ l distinct
    * well-represented sensitive values; this reports distinct-count
    * l-diversity per class plus the corpus summary, listing the topN
    * LEAST diverse classes (the disclosure surface).
    *
    * One (QI, sensitive)-grain count, reduced to QI grain with an
    * exact distinct count — no second data pass; the rank window runs
    * on the topN survivors of an explicit TakeOrderedAndProject, the
    * same discipline as [[kAnonymity]].
    *
    * @return topN rows: `risk_rank`, QI cols, `class_size`,
    *         `n_sensitive` (distinct sensitive values in the class),
    *         `n_classes`, `n_below_l`, `records_below_l`, `min_l`
    *         (the dataset's true l)
    */
  def lDiversity(
      df: DataFrame, qiCols: Seq[String], sensitiveCol: String,
      l: Long, topN: Int): DataFrame = {
    val cells = df.groupBy(
        (qiCols.map(col) :+ col(sensitiveCol).as("_sv")): _*)
      .agg(count(lit(1)).as("_n"))
    val classes = cells.groupBy(qiCols.map(col): _*)
      .agg(sum("_n").as("class_size"),
        count(lit(1)).as("n_sensitive"))
      .transform(Pin.shared)
    val summary = classes.agg(
      count(lit(1)).as("n_classes"),
      sum(when(col("n_sensitive") < l, 1L).otherwise(0L))
        .as("n_below_l"),
      sum(when(col("n_sensitive") < l, col("class_size"))
        .otherwise(0L)).as("records_below_l"),
      min("n_sensitive").as("min_l"))
    val ordCols = (col("n_sensitive").asc +: col("class_size").desc +:
      qiCols.map(col(_).asc))
    classes
      .orderBy(ordCols: _*)
      .limit(topN)
      .withColumn("risk_rank",
        row_number().over(Window.orderBy(ordCols: _*)))
      .crossJoin(broadcast(summary))
      .select((col("risk_rank") +: qiCols.map(col) :+
        col("class_size") :+ col("n_sensitive") :+ col("n_classes") :+
        col("n_below_l") :+ col("records_below_l") :+ col("min_l")): _*)
  }

  /** ε-DP noisy-count release audit — the last rung of the privacy
    * ladder after [[kAnonymity]]/[[lDiversity]]/[[tCloseness]]: those
    * audit a deterministic release, this one QUANTIFIES the utility
    * cost of the release that actually carries a privacy guarantee.
    * Mechanism: the two-sided geometric (discrete Laplace) of
    * Ghosh–Roughgarden–Sundararajan (STOC'09) — universally
    * utility-maximizing for counts under ε-DP with α = e^(-ε); counts
    * have sensitivity 1 under add/remove-one-row neighbors.
    *
    * Noise is drawn as G₁ − G₂ of two truncated geometrics: per
    * group, `2·trials` INDEPENDENT md5 hashes (one
    * [[graft.functions.Hashing.seededHash]] per trial index — not the
    * affine universal family, whose members are all deterministic
    * functions of one base hash and at best pairwise independent, so
    * leading-run counts over them are not truncated geometrics) act
    * as Bernoulli(α) trials (success ⇔ h mod P31 < ⌊α·P31⌋,
    * integer-exact in both engines) and Gᵢ is the count of leading
    * successes. Truncation at `trials` bounds |noise| (tail mass
    * α^trials — pick trials so it is negligible at your ε). md5 cost
    * is per GROUP (post-aggregation), not per row, so 2·trials
    * digests are negligible at any scale.
    * DETERMINISTIC seeding makes the draw reproducible and
    * oracle-checkable — and means this op is a release *rehearsal*,
    * not the release itself: a production release must swap `seed`
    * for a secret high-entropy value (with a public seed the noise is
    * recomputable and the guarantee void). Cells whose noisy count
    * falls below `suppressBelow` are suppressed (null `released`),
    * the standard small-cell rule layered over DP.
    *
    * Scale shape: one count aggregate on the release grain; noise,
    * suppression and the release are narrow per-group expressions,
    * and the summary is a 1-row broadcast back onto the group frame.
    *
    * @param alphaPpm α = e^(-ε) in parts-per-million (500000 ⇒
    *                 ε = ln 2 ≈ 0.693)
    * @return per group: `n` (true count — this is the utility AUDIT
    *         view; publish only `released`), `noise`, `released`
    *         (null when suppressed), `suppressed`, plus on every row:
    *         `n_groups`, `n_suppressed`, `l1_noise` (Σ|noise|)
    */
  def dpNoisyCounts(
      df: DataFrame, groupCols: Seq[String], alphaPpm: Long,
      trials: Int, suppressBelow: Long, seed: String): DataFrame = {
    import graft.functions.Hashing
    val thresh = alphaPpm * Hashing.P31 / 1000000L
    val key = concat_ws(":",
      (lit(seed) +: groupCols.map(c => col(c).cast("string"))): _*)
    val hs = transform(sequence(lit(0), lit(2 * trials - 1)),
      s => pmod(Hashing.seededHash(s, key), lit(Hashing.P31)))
    val succ = transform(hs, h => when(h < thresh, 1).otherwise(0))
    // Count of leading successes = 0-based position of the first
    // failure (array_position is 1-based, 0 when absent → trials).
    def leadRun(c: Column): Column = {
      val p = array_position(c, 0)
      when(p > 0L, p - 1L).otherwise(lit(trials.toLong))
    }
    val noisy = df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("_succ", succ)
      .withColumn("noise",
        leadRun(slice(col("_succ"), 1, trials)) -
          leadRun(slice(col("_succ"), trials + 1, trials)))
      .withColumn("_rel", greatest(col("n") + col("noise"), lit(0L)))
      .withColumn("suppressed",
        when(col("_rel") < suppressBelow, 1).otherwise(0))
      .withColumn("released", when(col("suppressed") === 0, col("_rel")))
      .transform(Pin.shared)
    val summary = noisy.agg(
      count(lit(1)).as("n_groups"),
      sum("suppressed").cast("long").as("n_suppressed"),
      sum(abs(col("noise"))).as("l1_noise"))
    noisy.crossJoin(broadcast(summary))
      .select((groupCols.map(col) :+ col("n") :+ col("noise") :+
        col("released") :+ col("suppressed") :+ col("n_groups") :+
        col("n_suppressed") :+ col("l1_noise")): _*)
  }
}
