package perfbench

import graft.core.Graft
import graft.ops.{Blocklist, Coordinates, Dedup, GemPipeline, Ownership, Similarity,
  TextAnalysis, Timeseries, TrackerConfigs}
import graft.sources.{CountryDim, Csv}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Per-layer measurements of a traced run. Each probe is timed from
  * outside, around one public call of the layer it measures, and
  * reports the median of its repeats.
  */
object Probes {
  type QueryFn = (SparkSession, String) => DataFrame

  private val perQuery = mutable.ArrayBuffer[(String, Seq[(String, Double)])]()
  def perQueryJson: String =
    Json.obj(perQuery.toSeq.map { case (n, kv) =>
      n -> Json.obj(kv.map { case (k, v) => k -> Json.num(v) }) })

  /** One pass of the workload under the listener: every query is a span
    * whose jobs carry its job group, and the bus is drained after each.
    */
  def tracedPass(spark: SparkSession, tracer: Tracer, root: Span,
      fns: Seq[(String, QueryFn)], input: String,
      sink: (String, DataFrame) => Unit,
      attempt: String => (=> Unit) => Main.QueryRun,
      lastUntracedWallS: Double): Seq[(String, Double)] = {
    tracer.attach(spark)
    tracer.drain()
    tracer.takePlanMs()
    val pass = tracer.open(root.id, "pass", "traced")
    val spans = fns.map { case (name, fn) =>
      val s = tracer.span(pass.id, "query", name) { s =>
        attempt(name)(sink(name, fn(spark, input)))
        s
      }
      tracer.drain()
      s.attrs("plan_ms") = tracer.takePlanMs()
      s
    }
    tracer.close(pass)
    val wallS = spans.map(_.durMs).sum / 1e3
    val cores = spark.sparkContext.defaultParallelism
    val jobsOf = spans.map(s => s -> tracer.jobsIn(s))
    jobsOf.foreach { case (s, js) =>
      perQuery += s.name -> Seq("jobs" -> js.size.toDouble, "wall_s" -> s.durMs / 1e3,
        "stages" -> js.map(_.stages).sum.toDouble, "tasks" -> js.map(_.tasks).sum.toDouble,
        "plan_ms" -> s.attrs("plan_ms"))
    }
    val jobs = jobsOf.flatMap(_._2)
    def total(f: JobStats => Double): Double = jobs.map(f).sum
    val driverGapS = jobsOf.map { case (s, js) =>
      s.durMs - tracer.unionMs(js.map(j =>
        (j.startMs.toDouble.max(s.startMs), j.endMs.toDouble.min(s.endMs))))
    }.sum / 1e3
    Seq(
      "queries.plan_ms_p50" -> Stats.median(spans.map(_.attrs("plan_ms"))),
      "queries.driver_gap_s" -> driverGapS,
      "queries.jobs" -> jobs.size.toDouble,
      "queries.stages" -> total(_.stages.toDouble),
      "queries.tasks" -> total(_.tasks.toDouble),
      "queries.shuffle_read_bytes" -> total(_.shuffleReadBytes.toDouble),
      "queries.shuffle_write_bytes" -> total(_.shuffleWriteBytes.toDouble),
      "queries.spill_bytes" -> total(_.spillBytes.toDouble),
      "queries.gc_s" -> total(_.gcMs / 1e3),
      "queries.cpu_busy_ratio" -> total(_.cpuNs / 1e9) / (wallS * cores),
      "sources.bytes_written" -> total(_.bytesWritten.toDouble),
      "trace.pass_wall_s" -> wallS,
      "trace.overhead_frac" -> (wallS / lastUntracedWallS - 1.0))
  }

  /** The layer probes: core floors, source scan and CSV write, kernel
    * cost per row, and the GEM operators on the raw tracker frame.
    */
  def all(spark: SparkSession, tracer: Tracer, root: Span, input: String,
      probeDir: String, work: String): Seq[(String, Double)] = {
    val pass = tracer.open(root.id, "pass", "probes")
    def timed(name: String, reps: Int)(body: => Unit): Double = Stats.median(
      (1 to reps).map(_ => tracer.span(pass.id, "op", name) { s => body; s }.durMs))
    val out = core(spark, timed) ++ scan(spark, tracer, pass, input, timed) ++
      kernels(spark, probeDir, timed) ++ ops(spark, input, work, timed)
    tracer.close(pass)
    out
  }

  private type Timed = (String, Int) => (=> Unit) => Double

  private def core(spark: SparkSession, timed: Timed): Seq[(String, Double)] = {
    val action = () => Main.noop(spark.range(0, 1, 1, 1).toDF())
    val exchange = () => Main.noop(spark.range(0, 64, 1, 2).repartition(2).toDF())
    (1 to 3).foreach { _ => action(); exchange() }
    Seq(
      "core.action_floor_ms" -> timed("core.action_floor", 9)(action()),
      "core.exchange_floor_ms" -> timed("core.exchange_floor", 9)(exchange()))
  }

  private def scan(spark: SparkSession, tracer: Tracer, pass: Span, input: String,
      timed: Timed): Seq[(String, Double)] = {
    val tables = new java.io.File(input).listFiles().map(_.getName)
      .filter(_.endsWith(".parquet")).map(_.stripSuffix(".parquet")).toSeq
    val (biggest, n) = tables.map(t => t -> Graft.table(spark, input, t).count()).maxBy(_._2)
    val ms = timed(s"sources.scan $biggest", 3)(Main.noop(Graft.table(spark, input, biggest)))
    val one = tracer.span(pass.id, "op", s"sources.scan_tasks $biggest") { s =>
      Main.noop(Graft.table(spark, input, biggest)); s
    }
    tracer.drain()
    Seq("sources.scan_rows_per_s" -> n / (ms / 1e3),
      "sources.scan_tasks" -> tracer.jobsIn(one).map(_.tasks).sum.toDouble)
  }

  private def replicated(df: DataFrame, rows: Long): (DataFrame, Long) = {
    val reps = math.max(1L, (rows + df.count() - 1) / df.count())
    val parts = df.sparkSession.sparkContext.defaultParallelism
    val r = df.withColumn("_rep", explode(sequence(lit(1L), lit(reps)))).drop("_rep")
      .repartition(parts).cache()
    (r, r.count())
  }

  private def kernels(spark: SparkSession, probeDir: String,
      timed: Timed): Seq[(String, Double)] = {
    val (docs, nDocs) =
      replicated(Graft.table(spark, probeDir, "documents").select("text"), 10000)
    val (vecs, nVecs) =
      replicated(Graft.table(spark, probeDir, "embeddings").select("embedding"), 10000)
    val text = col("text")
    val vec = col("embedding")
    val cases: Seq[(String, DataFrame, Long, Column, Column)] = Seq(
      ("graft_minhash", docs, nDocs, text, Dedup.minhashSignature(text, 64)),
      ("graft_simhash", docs, nDocs, text, Dedup.simhash(text, 60)),
      ("graft_shingles", docs, nDocs, text, Dedup.shingles(text, 3)),
      ("graft_canon", docs, nDocs, text, TextAnalysis.canonText(text)),
      ("graft_tokens", docs, nDocs, text, TextAnalysis.tokens(text)),
      ("graft_langid", docs, nDocs, text, TextAnalysis.langId(text)),
      ("graft_dot", vecs, nVecs, vec, Similarity.dot(vec, vec)),
      ("graft_blockhits", docs, nDocs, text,
        Blocklist.hitsCol(text, Seq("the", "and", "data", "spam", "free money"))))
    val out = cases.map { case (name, df, n, plain, kernel) =>
      val run = (c: Column) => Main.noop(df.select(c.as("k")))
      val base = timed(s"functions.$name plain", 3)(run(plain))
      val k = timed(s"functions.$name", 3)(run(kernel))
      s"functions.$name.ns_per_row" -> (k - base) * 1e6 / n
    }
    docs.unpersist(); vecs.unpersist()
    out
  }

  /** The raw coal-tracker frame, one unit per `customer` row and three
    * units per location, with the dirty-value vocabulary the wrangle
    * handles. Location-level columns derive from the location id, so the
    * rollup merges the units of one location.
    */
  def rawTracker(spark: SparkSession, dir: String): DataFrame = {
    val c = col("c_custkey")
    val loc = expr("c_custkey div 3")
    Graft.table(spark, dir, "customer")
      .select(
        concat(lit("CU"), c).as("GEM unit/phase ID"),
        concat(lit("CL"), loc).as("GEM location ID"),
        concat(lit("CPlant "), loc).as("Plant name"),
        elt(pmod(loc, lit(4)).cast("int") + 1,
          lit("Germany"), lit("France"), lit("Kosovo"), lit("Atlantis")).as("Country/Area"),
        concat(lit("Region "), pmod(loc, lit(5))).as("Region"),
        when(pmod(loc, lit(3)) === 0, lit("Alpha Corp [60%]; Beta GmbH [40%]"))
          .when(pmod(loc, lit(3)) === 1, lit("Gamma Inc [100%]"))
          .otherwise(concat(col("c_mktsegment"), lit(" Holdings [50%]; Delta LLC [50%]")))
          .as("Owner"),
        when(pmod(c, lit(13)) === 0, lit("unknown"))
          .otherwise(col("c_acctbal").cast("string")).as("Capacity (MW)"),
        element_at(array(lit("operating"), lit("construction"), lit("announced"),
          lit("pre-construction"), lit("retired")), (pmod(c, lit(5)) + 1).cast("int"))
          .as("Status"),
        when(pmod(c, lit(7)) === 0, lit("not found"))
          .otherwise((lit(1990) + pmod(c, lit(45))).cast("string")).as("Start year"),
        when(pmod(c, lit(6)) === 0, (lit(2015) + pmod(c, lit(30))).cast("string"))
          .otherwise(lit(null).cast("string")).as("Planned retirement"),
        pmod(loc, lit(50)).cast("string").as("Plant age (years)"),
        (pmod(c, lit(180)) - 90 + pmod(c, lit(3)) * 0.25).cast("double").as("Latitude"),
        (pmod(c, lit(360)) - 180 + pmod(c, lit(3)) * 0.25).cast("double").as("Longitude"))
  }

  private def ops(spark: SparkSession, input: String, work: String,
      timed: Timed): Seq[(String, Double)] = {
    val cfg = TrackerConfigs.coal
    val parts = spark.sparkContext.defaultParallelism
    val cached = mutable.ArrayBuffer[DataFrame]()
    def pin(df: DataFrame): DataFrame = {
      val p = df.repartition(parts).cache(); p.count(); cached += p; p
    }
    def step(name: String, in: DataFrame)(f: DataFrame => DataFrame): (Double, DataFrame) =
      (timed(s"ops.$name", 3)(Main.noop(f(in))), pin(f(in)))
    val raw = pin(rawTracker(spark, input))
    val wrangleS = timed("ops.wrangle", 3)(Main.noop(GemPipeline.wrangle(cfg)(raw)))
    // The wrangle's own cleaning steps, pinned, feed the operator spans.
    val cleaned = pin(raw
      .filter(col(cfg.statusCol).isin(cfg.statusWhitelist: _*))
      .filter(!col(cfg.capacityCol).isin("unknown", "N/A", "not found"))
      .filter(!col(cfg.startYearCol).isin("unknown", "not found"))
      .withColumn(cfg.capacityCol, col(cfg.capacityCol).cast("double"))
      .withColumn(cfg.startYearCol, col(cfg.startYearCol).cast("double"))
      .withColumn("Planned retirement", col("Planned retirement").cast("double"))
      .withColumn("technology", cfg.technology))
    val (canonMs, canon) = step("canonicalize", cleaned)(
      Coordinates.canonicalize(cfg.locationIdCol, "Latitude", "Longitude"))
    val (splitMs, split) = step("ownership_split", canon)(
      Ownership.split(cfg.ownerCol, cfg.capacityCol, cfg.ownershipMode))
    val (expandMs, expanded) = step("expand_years", split)(
      Timeseries.expandYears("Capacity_allocated", cfg.startYearCol, cfg.retireYearCol))
    val keys = Seq(cfg.locationIdCol, cfg.plantNameCol, cfg.countryCol, cfg.regionCol,
      "Latitude", "Longitude", "technology") ++ cfg.ageCol ++ Seq("Company", "year")
    val (rollupMs, rolled) = step("rollup", expanded)(Timeseries.rollupCapacity(keys))
    val finalized = pin(GemPipeline.finalizeSchema(cfg, CountryDim.dim(spark))(rolled))
    val steel = finalized.limit(3).withColumn("company_id", lit("STL1"))
      .withColumn("technology", lit("SteelCap"))
    val factors = spark.createDataFrame(Seq(("CoalCap", "DE", 0.9), ("CoalCap", "FR", 0.8)))
      .toDF("technology", "country_iso2", "emissions_factor")
    val totalsMs = timed("ops.totals", 3)(
      Main.noop(GemPipeline.totals(Seq(finalized), steel, factors)))
    val csvMs = timed("sources.csv_write", 3)(Csv.write(finalized, s"$work/probe_csv"))
    val nUnits = cleaned.count().toDouble
    val nExpanded = expanded.count().toDouble
    val out = Seq(
      "ops.canonicalize_s" -> canonMs / 1e3,
      "ops.ownership_split_s" -> splitMs / 1e3,
      "ops.expand_years_s" -> expandMs / 1e3,
      "ops.rollup_s" -> rollupMs / 1e3,
      "ops.wrangle_s" -> wrangleS / 1e3,
      "ops.totals_s" -> totalsMs / 1e3,
      "ops.expand_rows_per_unit" -> nExpanded / nUnits,
      "ops.rollup_keep_ratio" -> rolled.count() / nExpanded,
      "sources.csv_write_s" -> csvMs / 1e3)
    cached.foreach(_.unpersist())
    out
  }
}
