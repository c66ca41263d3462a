package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Session factory + table loading for the graft engine.
  *
  * Design notes (100 TB posture): the session keeps Spark's default
  * AQE (runtime partition coalescing + skew-join splitting), sizes shuffle
  * partitions to the harness core count, and pins UTC so timestamp
  * semantics match the DuckDB oracle and any downstream warehouse.
  *
  * Every `.config(...)` here is applied as a *fallback*: when the JVM
  * was launched by spark-submit with an explicit master/conf, those
  * win — nothing below forces local-mode behavior onto a cluster.
  */
object Graft {

  /** Default parallelism for the local harness (local[32] per driver). */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

  /** Build (or get) the engine session. Single entry point for
    * Verify/Bench/tests so every path agrees on config (see ADVICE.md).
    */
  def session(appName: String = "graft"): SparkSession = {
    val defaults = Seq(
      "spark.sql.shuffle.partitions" -> cpus,
      // r19: AQE's coalesce floor, lowered from the 1 MB default so
      // parallelism-first coalescing keeps compute-dense SMALL
      // shuffles wide (a ~1 MB post-rollup frame feeding the 19-col
      // finalize measured 3.4 s on the 2 tasks the default floor
      // left it). At production shuffle sizes coalescing is governed
      // by advisoryPartitionSizeInBytes, not this floor; applied as a
      // fallback like every default here, so spark-submit overrides
      // win.
      "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "64k",
      // r20: never take the bypass-merge shuffle write path. Bypass
      // writes ONE FILE PER REDUCE PARTITION per map task, and on the
      // harness's ext4 scratch dir each create+delete costs ~4 ms of
      // sys CPU — measured ~130 ms/task on 32→32 exchanges of KB-sized
      // frames (ScratchProbe r20), the "~200 ms/task constant" that
      // made the whole catalog slower on 32 cores than on 8
      // (VERDICT r19 item 1). The sort/serialized writer emits one
      // data + one index file per map task regardless of R (measured
      // 0.4 s vs 4.2 s CPU on the same stage). Inert at production
      // scale: R > 200 never bypassed anyway; fallback default, so
      // spark-submit overrides win.
      "spark.shuffle.sort.bypassMergeThreshold" -> "1",
      // Generated-class cache, sized to a pass's working set. Repeated
      // passes over one plan (tracker configs, streaming micro-batches,
      // bench passes) regenerate the same code, and Spark's default of
      // 100 entries is below one 12-query GEM pass (289 classes on the
      // first run, 142 for q43 alone): every pass recompiled 300+
      // classes with Janino, and the JIT compiled them again. 1024 is
      // >= 3x the largest pass measured (335 classes).
      // - Static conf: it takes effect only when this call creates the
      //   SparkContext; a later getOrCreate cannot resize the cache.
      // - The cache is JVM-global (CodeGenerator's companion object),
      //   shared by every session in the process, and LRU-evicted.
      // - Cost against the default, full-catalog graft.Bench at sf0.01
      //   (2 passes, 4 cores, -Xmx4g): Metaspace used at exit
      //   196 -> 202 MB, code heap used at exit 145 -> 154 MB, peak RSS
      //   4417 MB on both, no "CodeCache is full". A GEM bench run
      //   (2 GB heap) peaks at 2110 -> 2210 MB RSS (+5%). The catalog's
      //   working set is ~8k classes, so its second pass still
      //   recompiled 7915 of 8168.
      "spark.sql.codegen.cache.maxEntries" -> "1024",
      "spark.sql.session.timeZone" -> "UTC",
      "spark.ui.enabled" -> "false",
      // events.parquet carries TIMESTAMP(NANOS) which Spark's parquet
      // reader rejects; read as long and convert (see Graft.table).
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      // Write µs (not INT96) so parquet output round-trips identically
      // through pyarrow/DuckDB in the driver's compare.
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"
    )
    val b = SparkSession.builder().appName(appName)
    // Fallback master only when none was provided (spark-submit sets
    // spark.master; a bare JVM launch does not).
    if (!sys.props.contains("spark.master"))
      b.master(s"local[$cpus]")
    defaults.foreach { case (k, v) =>
      if (!sys.props.contains(k)) b.config(k, v)
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Native codegen'd vector functions (graft_dot) — clusters launched
    // via spark-submit can instead set
    // spark.sql.extensions=graft.functions.GraftExtensions.
    graft.functions.GraftFunctions.register(spark)
    spark
  }

  /** Register every synthetic table as a temp view so the `spark.sql`
    * surface works over the same data as the DataFrame API (same
    * Catalyst plans underneath — SQL is a parse frontend, not another
    * engine).
    */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    Seq("region", "nation", "customer", "supplier", "part", "orders",
      "lineitem", "events", "documents", "embeddings")
      .foreach(n => table(spark, sfDir, n).createOrReplaceTempView(n))

  /** Load one of the driver's synthetic tables from an sf directory.
    * Plain parquet scan — Catalyst pushes filters/pruning into it.
    *
    * `events.ts` has varied by driver generation: TIMESTAMP(NANOS)
    * (read as a nanos BIGINT under `nanosAsLong`) in earlier rounds,
    * plain µs since round 11. Dispatch on the READ type so both file
    * vintages normalize to the same µs `timestamp_ntz` column every
    * consumer already expects.
    */
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events")
      df.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          // Nanos vintage. Integer `div`, not `/`: epoch-nanos exceed
          // double's 2^53 exact range, so float division can round
          // across a µs boundary and break parity with DuckDB's exact
          // CAST (see ADVICE.md r2). TIMESTAMP_NTZ (session tz is UTC,
          // so the wall clock is unchanged): DuckDB's TIMESTAMP is
          // tz-naive, and a tz-aware Spark output would stringify with
          // "+00:00" and break the hash compare even when the instants
          // agree.
          df.withColumn("ts",
            timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
        case org.apache.spark.sql.types.TimestampNTZType => df
        case _ =>
          // µs adjusted-to-UTC vintage (reads as LTZ): same instant,
          // tz-naive wall clock under the UTC session.
          df.withColumn("ts", col("ts").cast("timestamp_ntz"))
      }
    else df
  }
}
