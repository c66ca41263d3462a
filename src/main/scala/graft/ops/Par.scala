package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

/** Scan-parallelism floor for compute-dense stages.
  *
  * A parquet row group is not byte-splittable, so a small table written
  * as one row group scans as ONE task whatever `spark.sql.files.*` says,
  * and an expensive per-row kernel above it (MinHash signature fold,
  * hashed-feature explode, vector math, ownership regex split) runs
  * serially while the other cores idle. Measured at sf0.1: the q293
  * whitening fold was a single 3.3 s task; q115's DSIR feature fold two
  * ~1.5 s tasks; q43's wrangle+totals rode 2-task stages for ~5 s of
  * its 9.6 s wall.
  *
  * [[spread]] repartitions such inputs up to the session's default
  * parallelism BEFORE the expensive kernel. It fires only when the
  * summed bytes of the frame's file sources are below
  * `min(defaultParallelism, 4) × maxPartitionBytes`: a few splits' worth
  * of input, the regime where the scan is starved of parallelism on its
  * own. The cap of 4 keeps the trigger from scaling with cluster size
  * (on 2000 cores, `defaultParallelism × maxPartitionBytes` would cover
  * a multi-GB input that already scans with hundreds of tasks). On a
  * production table the condition is false and the call is a
  * plan-identical no-op. The extra exchange moves only the bytes the
  * kernel was going to read anyway, and hash-partitioning on the
  * caller's key keeps the assignment deterministic under task retry.
  *
  * Blind spot: the trigger reads bytes, not scan tasks, so a
  * single-row-group input above the cap still scans as one task and is
  * not spread.
  */
object Par {

  /** Total bytes of all file-source leaves under `df`'s logical plan,
    * or None when a leaf is not a file relation (fixture/checkpoint
    * frames — no cheap size estimate, assume already distributed).
    */
  private def scanBytes(df: DataFrame): Option[Long] = {
    val leaves = df.queryExecution.logical.collectLeaves()
    val sizes = leaves.map {
      case l: LogicalRelation => l.relation match {
        case f: HadoopFsRelation => Some(f.location.sizeInBytes)
        case _ => None
      }
      case _ => None
    }
    if (sizes.forall(_.isDefined)) Some(sizes.flatten.sum) else None
  }

  /** Repartition `df` to the session default parallelism (hashed on
    * `keys`, round-robin when empty) iff its file inputs are too small
    * for the scan to reach that parallelism on its own. No-op on
    * large inputs and on non-file-rooted frames.
    */
  def spread(df: DataFrame, keys: Column*): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val maxSplit = spark.sessionState.conf.filesMaxPartitionBytes
    // Trigger capped at 4 splits' worth of bytes (see the object doc).
    scanBytes(df) match {
      case Some(bytes) if bytes < math.min(target.toLong, 4L) * maxSplit =>
        if (keys.nonEmpty) df.repartition(target, keys: _*)
        else df.repartition(target)
      case _ => df
    }
  }

  /** Partition count for a SMALL derived frame (iterative loop state,
    * model/feature frames): size from the file bytes feeding `src`
    * instead of inheriting `defaultParallelism`, so a sub-MB frame is
    * not spread over 32 near-empty partitions paying the per-task
    * constant each round (VERDICT r19: the 8-core bench beat 32 cores
    * exactly on these frames). ~`bytesPerPart` of INPUT bytes per
    * partition, clamped to [1, defaultParallelism]; non-file-rooted
    * frames keep the default (no cheap size estimate).
    */
  def sizedParts(src: DataFrame, bytesPerPart: Long = 4L << 20): Int = {
    val spark = src.sparkSession
    val target = spark.sparkContext.defaultParallelism
    scanBytes(src) match {
      case Some(bytes) =>
        math.max(1L, math.min(target.toLong,
          (bytes + bytesPerPart - 1) / bytesPerPart)).toInt
      case None => target
    }
  }
}
