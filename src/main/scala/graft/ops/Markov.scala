package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** First-order Markov chain over an event stream: the empirical
  * transition matrix (q138's frame) driven to its stationary
  * distribution by FIXED synchronous power-iteration rounds — "if
  * today's behavior repeats, what does the steady-state event mix
  * look like", the load-model input for capacity planning.
  *
  * Determinism: the round count is fixed; the distribution is carried
  * in integer nano-units and each π·P term is snapped per (i,j) CELL
  * before the per-state integer sum, so no order-sensitive double
  * accumulation exists; transition probabilities enter each term as
  * the exact rational n_ij/n_i.
  *
  * Scale shape: counting transitions is one lag window partitioned by
  * entity + one aggregate; every iteration then runs on the
  * state²-sized matrix frame — model-sized, like the LogReg/Bpe
  * rounds.
  */
object Markov {

  /** Observed transition counts `n_ij` from state `i` to the next state
    * `j` of the same entity, pinned: every caller reads them several
    * times.
    */
  private def transitions(
      df: DataFrame, entityCol: String, orderCol: String,
      stateCol: String): DataFrame = {
    val w = Window.partitionBy(entityCol).orderBy(orderCol)
    df.select(col(entityCol), col(orderCol), col(stateCol).as("j"))
      .withColumn("i", lag("j", 1).over(w))
      .where(col("i").isNotNull)
      .groupBy("i", "j").agg(count(lit(1)).as("n_ij"))
      .transform(Pin.shared)
  }

  /** Conditional entropy of the transition structure: per state the
    * entropy of ITS next-step distribution, plus the chain-level
    * H(next|cur) = Σ pᵢ·Hᵢ against the marginal H(next) — the
    * information gain of knowing the current state ("how much more
    * predictable is the next action given this one"). A gain near 0
    * means the first-order model ([[stationary]]) adds nothing over
    * the base rates.
    *
    * Every −p·ln p cell snaps to integer nano-nats (the q281
    * discipline); the weighted chain-level sums are integer too.
    *
    * @return per state: `state`, `n_out`, `h_row` (round 4), plus
    *         chain-level `h_cond`, `h_marginal`, `info_gain`
    *         (round 4, repeated)
    */
  def conditionalEntropy(
      df: DataFrame, entityCol: String, orderCol: String,
      stateCol: String): DataFrame = {
    val trans = transitions(df, entityCol, orderCol, stateCol)
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    val rows = trans
      .withColumn("n_i", sum("n_ij").over(Window.partitionBy("i")))
      .withColumn("_cell", round(-(d(col("n_ij")) / d(col("n_i"))) *
        log(d(col("n_ij")) / d(col("n_i"))) * lit(1e9)).cast("long"))
      .groupBy(col("i").as("state"))
      .agg(max("n_i").as("n_out"), sum("_cell").as("_h_row"))
    val tot = rows.agg(sum("n_out").as("_nt"))
    val weighted = rows.crossJoin(broadcast(tot))
      .withColumn("_w_n", round(d(col("n_out")) / d(col("_nt")) *
        (d(col("_h_row")) / lit(1e9)) * lit(1e9)).cast("long"))
    val hCond = weighted.agg(sum("_w_n").as("_hc"))
    val marg = trans.groupBy("j").agg(sum("n_ij").as("nj"))
      .crossJoin(broadcast(tot))
      .select(round(-(d(col("nj")) / d(col("_nt"))) *
        log(d(col("nj")) / d(col("_nt"))) * lit(1e9)).cast("long")
        .as("_cell"))
      .agg(sum("_cell").as("_hm"))
    weighted
      .crossJoin(broadcast(hCond)).crossJoin(broadcast(marg))
      .select(col("state"), col("n_out"),
        round(d(col("_h_row")) / lit(1e9), 4).as("h_row"),
        round(d(col("_hc")) / lit(1e9), 4).as("h_cond"),
        round(d(col("_hm")) / lit(1e9), 4).as("h_marginal"),
        (round((d(col("_hm")) - d(col("_hc"))) / lit(1e9), 4)
          + lit(0.0)).as("info_gain"))
  }

  /** @return per state: `state`, `n_out` (outgoing transitions),
    *         `pi0` (uniform start, round 6), `pi` (after `rounds`
    *         power iterations, renormalized, round 6)
    */
  def stationary(
      df: DataFrame, entityCol: String, orderCol: String,
      stateCol: String, rounds: Int): DataFrame = {
    val trans = transitions(df, entityCol, orderCol, stateCol)
    val outTot = trans.groupBy("i").agg(sum("n_ij").as("n_i"))
    val p = trans.join(outTot, Seq("i"))
    val states = trans.select(col("i").as("state"))
      .union(trans.select(col("j"))).distinct()
      .transform(Pin.shared)
    val nStates = states.count()
    var pi = states.select(col("state"),
      lit(math.round(1e9 / nStates)).as("pi_nano"))
    (1 to rounds).foreach { rnd =>
      pi = Pin.loop(rnd, p
        .join(pi.select(col("state").as("i"), col("pi_nano")), "i")
        // Snap each cell's mass flow BEFORE the per-state sum.
        .withColumn("_cell",
          round(col("pi_nano").cast("double") *
            col("n_ij").cast("double") / col("n_i").cast("double"))
            .cast("long"))
        .groupBy(col("j").as("state"))
        .agg(sum("_cell").as("pi_nano")))
    }
    val tot = pi.agg(sum("pi_nano").as("_tot"))
    states
      .join(outTot.select(col("i").as("state"), col("n_i")), Seq("state"),
        "left")
      .join(pi, Seq("state"), "left")
      .crossJoin(broadcast(tot))
      .select(col("state"),
        coalesce(col("n_i"), lit(0L)).as("n_out"),
        round(lit(1.0) / lit(nStates.toDouble), 6).as("pi0"),
        round(coalesce(col("pi_nano"), lit(0L)).cast("double") /
          col("_tot").cast("double"), 6).as("pi"))
  }
}
