package graft.ops

import org.apache.spark.sql.DataFrame

/** Lineage pinning for ITERATIVE DataFrame loops.
  *
  * `localCheckpoint(eager = true)` cuts the logical plan to a 1-node
  * `LogicalRDD` — but in Spark 4 that leaf CARRIES the origin plan's
  * stats/constraint metadata, and when the next round's plan builds
  * on it (and the round after builds on that...), the carried
  * metadata compounds across checkpoint generations. Measured on the
  * [[BradleyTerry]] loop (36-node per-round plan, 2-row frames):
  * per-round planning time is flat ~0.3 s through generation ~16,
  * then grows ~3× per generation — 30 s at gen 22, 172 s at gen 24,
  * effectively hung by gen 30 — while the logical node count stays
  * EXACTLY 36. The physical data is irrelevant (2 rows); this is
  * driver-side planning work.
  *
  * [[pin]] is the remedy: checkpoint eagerly, then REBASE the frame
  * with `createDataFrame(rdd, schema)` so the new leaf carries
  * nothing but the schema. Same measured loop: flat 0.27 s/round
  * through 30+ generations. The rebase costs one extra
  * deserialize/serialize pass over the frame, so:
  *
  *  - model-sized loop state (BradleyTerry strengths, LogReg weights,
  *    Lloyd centroids): pin EVERY round — the pass is free;
  *  - data-sized loop state ([[Components]] labels): pin every
  *    [[PIN_EVERY]] rounds and plain-localCheckpoint between — the
  *    metadata chain resets well before the ~16-generation knee while
  *    the extra pass amortizes to 1/[[PIN_EVERY]] per round.
  *
  * Loops with a fixed round count ≤ 10 (PageRank, LPA, BPE) sit
  * safely below the knee either way.
  *
  * Failure model of every `localCheckpoint`, here and in the operators
  * that pin a reused frame: the checkpointed blocks live only in the
  * executors' block managers, with no copy on reliable storage and no
  * lineage back to the source. Losing an executor that holds one of
  * them fails the job; Spark cannot recompute the frame.
  */
object Iterate {

  /** Pin to a metadata-free leaf: eager localCheckpoint + rebase. */
  def pin(df: DataFrame): DataFrame = {
    val p = df.localCheckpoint(true)
    df.sparkSession.createDataFrame(p.rdd, p.schema)
  }

  /** Generation cadence for data-sized loops: resets the checkpoint
    * metadata chain at less than half the measured ~16-generation
    * planning knee.
    */
  val PIN_EVERY: Int = 6

  /** Round-aware variant for data-sized loop state: full [[pin]]
    * every [[PIN_EVERY]]-th round (0-based), plain eager
    * localCheckpoint otherwise.
    */
  def pinEvery(round: Int, df: DataFrame): DataFrame =
    if (round % PIN_EVERY == PIN_EVERY - 1) pin(df)
    else df.localCheckpoint(true)
}
