package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bradley–Terry strength fitting over pairwise preference counts —
  * the model behind preference-data leaderboards (and the reward-side
  * sanity check on RLHF comparison data): given "i beat j n times"
  * counts, recover a strength π per item such that
  * P(i beats j) = π_i / (π_i + π_j).
  *
  * Training is the classic MM (minorize–maximize) update (Hunter 2004,
  * Ann. Statist. 32(1)):
  *   π_i ← W_i / Σ_{j≠i} m_ij / (π_i + π_j)
  * normalized to sum 1 each round — monotone in the likelihood, no
  * step size, deterministic from the all-equal start.
  *
  * Scale shape: the iteration state is ITEM-grain (leaderboard-sized,
  * e.g. sources or model variants), so each of the K rounds is one
  * broadcast of the tiny strength frame into the pair-count frame +
  * one combinable sum back to item grain; the pair frame itself is
  * aggregated ONCE up front from the raw comparison log and
  * pinned. Nothing data-sized ever reaches the driver and
  * lineage stays flat across rounds.
  */
object BradleyTerry {

  /** @param pairs one row per directed comparison count:
    *              (winnerCol, loserCol, nCol)
    * @param iters MM rounds (each strictly increases the likelihood;
    *              ~10 suffice for leaderboard-sized item sets)
    * @return one row per item: `item`, `n_wins`, `n_games`,
    *         `pi` (round 6, sums to 1), `win_rate_ppm` (raw integer
    *         floor — the naive rate kappa-style models correct)
    * @note items with zero wins converge to π = 0 (the MLE boundary);
    *       items appearing only as winners keep finite π because every
    *       game contributes to the denominator of BOTH participants.
    */
  def fit(
      pairs: DataFrame, winCol: String, loseCol: String, nCol: String,
      iters: Int = 10): DataFrame = {
    require(iters >= 1, s"iters must be >= 1: $iters")
    val counts = pairs
      .groupBy(col(winCol).as("_w"), col(loseCol).as("_l"))
      .agg(sum(col(nCol).cast("long")).as("_n"))
      .transform(Pin.shared)
    // Undirected game counts m_ij, materialized in BOTH orientations
    // (a, b, m) so the per-item denominator is one groupBy("a").
    val games = counts.select(col("_w").as("_a"), col("_l").as("_b"), col("_n"))
      .unionByName(
        counts.select(col("_l").as("_a"), col("_w").as("_b"), col("_n")))
      .groupBy("_a", "_b").agg(sum("_n").as("_m"))
      .transform(Pin.shared)
    val wins = games.select(col("_a").as("item")).distinct()
      .join(counts.groupBy(col("_w").as("item"))
        .agg(sum("_n").as("n_wins")), Seq("item"), "left")
      .na.fill(0L, Seq("n_wins"))
      .transform(Pin.shared)
    var model = wins.select(col("item"), lit(1.0).as("pi"))
      .transform(Pin.shared)
    for (_ <- 1 to iters) {
      val pa = model.select(col("item").as("_a"), col("pi").as("_pa"))
      val pb = model.select(col("item").as("_b"), col("pi").as("_pb"))
      val denom = games
        .join(broadcast(pa), Seq("_a"))
        .join(broadcast(pb), Seq("_b"))
        .groupBy(col("_a").as("item"))
        .agg(sum(col("_m").cast("double") / (col("_pa") + col("_pb")))
          .as("_d"))
      val raw = wins.join(denom, Seq("item"))
        .select(col("item"),
          (col("n_wins").cast("double") / col("_d")).as("_raw"))
      val z = raw.agg(sum("_raw").as("_z"))
      // Pin.rebase, not Pin.shared: carried checkpoint statistics
      // compound across rounds and planning goes exponential past
      // ~16 rounds (measured on this loop, see Pin's doc).
      model = Pin.rebase(raw.crossJoin(broadcast(z))
        .select(col("item"), (col("_raw") / col("_z")).as("pi")))
    }
    val totGames = games.groupBy(col("_a").as("item"))
      .agg(sum("_m").as("n_games"))
    wins.join(totGames, Seq("item"))
      .join(model, Seq("item"))
      .select(col("item"), col("n_wins"), col("n_games"),
        round(col("pi"), 6).as("pi"),
        expr("(n_wins * 1000000) DIV n_games").as("win_rate_ppm"))
  }
}
