package graft.ops

import org.apache.spark.sql.DataFrame

/** The one place a frame is materialized before its sink. Every eager
  * `localCheckpoint` in the library goes through one of three entry
  * points:
  *
  *  - [[shared]]: a frame that more than one plan reads (several
  *    consumers, or an action in between). One job computes it; every
  *    consumer then reads the checkpointed blocks.
  *  - [[loop]]: loop state of an iterative operator, pinned once per
  *    round.
  *  - [[rebase]]: a [[shared]] pin re-rooted on a leaf that carries
  *    nothing but the schema.
  *
  * Why loops need the rebase: the `LogicalRDD` leaf of a local
  * checkpoint carries the statistics of the plan it replaced, and the
  * next round's plan builds on it. The size estimates multiply across
  * checkpoint generations. Measured on the [[BradleyTerry]] loop
  * (2-row frames): per-round planning is flat at ~0.3-0.6 s up to
  * about generation 14-16, then grows ~3× per generation, until the
  * JVM runs out of memory inside the join statistics visitor near
  * generation 20. Rebasing with `createDataFrame(rdd, schema)` keeps
  * the same loop flat through 30+ generations. The rebase costs one
  * extra deserialize/serialize pass over the frame, so [[loop]] takes
  * it every [[PIN_EVERY]] rounds and plain-checkpoints in between,
  * while model-sized loop state ([[BradleyTerry]] strengths,
  * [[Mixing]] weights) calls [[rebase]] every round.
  *
  * Job names: Spark names a job after the first stack frame outside
  * its own packages, which here would be this file. Each entry point
  * instead sets the call site (`SparkContext.setCallSite`) from the
  * first frame outside `Pin`, so the jobs, stages and RDDs a pin
  * creates read `localCheckpoint at Components.scala:N`, and then
  * restores the caller's previous call site.
  *
  * Failure model: the checkpointed blocks live only in the executors'
  * block managers, with no copy on reliable storage and no lineage
  * back to the source. Losing an executor that holds one of them
  * fails the job; Spark cannot recompute the frame. The blocks are
  * freed only when the frame is garbage-collected (ContextCleaner):
  * `unpersist()` on a checkpointed frame releases nothing.
  */
object Pin {

  /** Eager local checkpoint of a frame that more than one plan reads. */
  def shared(df: DataFrame): DataFrame =
    atCaller(df, "localCheckpoint")(df.localCheckpoint(true))

  /** [[shared]], re-rooted on a leaf with no carried statistics. */
  def rebase(df: DataFrame): DataFrame = {
    val p = shared(df)
    atCaller(df, "createDataFrame")(df.sparkSession.createDataFrame(p.rdd, p.schema))
  }

  /** Rebase cadence for data-sized loop state: resets the carried
    * statistics at less than half the measured planning knee.
    */
  val PIN_EVERY: Int = 6

  /** Per-round pin of loop state: [[rebase]] every [[PIN_EVERY]]-th
    * round (`round % PIN_EVERY == PIN_EVERY - 1`), [[shared]] otherwise.
    */
  def loop(round: Int, df: DataFrame): DataFrame =
    if (round % PIN_EVERY == PIN_EVERY - 1) rebase(df) else shared(df)

  private def atCaller[T](df: DataFrame, method: String)(body: => T): T = {
    val sc = df.sparkSession.sparkContext
    val prev = sc.getLocalProperty("callSite.short") // Spark's key for setCallSite
    new Throwable().getStackTrace.find(!_.getClassName.startsWith("graft.ops.Pin$"))
      .foreach(f => sc.setCallSite(s"$method at ${f.getFileName}:${f.getLineNumber}"))
    try body finally sc.setLocalProperty("callSite.short", prev)
  }
}
