package perfbench

import graft.SparkEntry
import graft.core.Graft
import graft.sources.Csv
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One benchmark run of one workload, inside one JVM.
  *
  * Phases: set-up (JVM start → session ready, warm-up query included);
  * an untimed concurrent warm-up pass that also dumps every query's
  * result for the oracle check; `warm_passes` untimed sequential passes;
  * `seconds` / `pass_s` timed passes, rounded up. With
  * `trace=1` one more pass runs under the span recorder and listener,
  * followed by the per-layer probes ([[Probes]]).
  *
  * Arguments are `key=value` pairs; see `perfbench/run.py`, which
  * builds them, runs the oracle check and prints the result line.
  */
object Main {
  final case class QueryRun(name: String, seconds: Double, ok: Boolean)

  def main(args: Array[String]): Unit = {
    val opt = args.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val queries = opt("queries").split(",").toSeq
    val input = opt("input")
    val work = opt("work")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val csvSink = opt("sink") == "csv"
    val permute = opt("permute") == "true"

    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val t0 = Clock.nowMs
    val spark = Graft.session("perfbench")
    val sessionS = (Clock.nowMs - t0) / 1e3
    noop(SparkEntry.queries("q16_distinct")(spark, input))
    val setupS = (Clock.nowMs - jvmStartMs) / 1e3
    System.err.println(f"[perfbench] set-up: JVM ${(t0 - jvmStartMs) / 1e3}%.2f s, " +
      f"session $sessionS%.2f s, warm-up query ${setupS - sessionS - (t0 - jvmStartMs) / 1e3}%.2f s")

    val catalog = SparkEntry.queries
    val fns = queries.map(n => n -> catalog.getOrElse(n, sys.error(s"unknown query $n")))
    val attempted = new AtomicInteger()
    val failedRuns = new AtomicInteger()
    def attempt(name: String)(body: => Unit): QueryRun = {
      attempted.incrementAndGet()
      val t = Clock.nowMs
      val ok =
        try { body; true }
        catch { case NonFatal(e) =>
          failedRuns.incrementAndGet()
          System.err.println(s"[perfbench] $name failed: ${e.getMessage}")
          false
        }
      QueryRun(name, (Clock.nowMs - t) / 1e3, ok)
    }
    def sink(name: String, df: DataFrame): Unit =
      if (csvSink) Csv.write(df, s"$work/csv/$name") else noop(df)

    // Warm-up pass, untimed: JIT and codegen land here, and each result
    // is dumped the way `graft.Verify` does for the oracle check. The
    // queries run concurrently, one per core, to keep this phase short.
    val scanned = new ConcurrentHashMap[String, Set[String]]()
    val pool = Executors.newFixedThreadPool(spark.sparkContext.defaultParallelism)
    val warmStart = Clock.nowMs
    val warm = try {
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
      Await.result(Future.traverse(fns) { case (name, fn) => Future(attempt(name) {
        val df = fn(spark, input)
        scanned.put(name, scannedTables(df))
        df.coalesce(1).write.mode("overwrite").parquet(s"$work/dump/$name")
      }) }, Duration.Inf)
    } finally pool.shutdown()
    val rowsOf = mutable.HashMap[String, Long]()
    val inputRowsPerPass = scanned.values.asScala.toSeq.flatMap(_.toSeq)
      .map(p => rowsOf.getOrElseUpdate(p, spark.read.parquet(p).count())).sum
    log(f"warm-up pass (concurrent, ${(Clock.nowMs - warmStart) / 1e3}%.2f s wall)", warm)
    val oracles = SparkEntry.oracleSql
    Files.writeString(Paths.get(s"$work/dump/oracle_sql.json"),
      Json.obj(queries.flatMap(n => oracles.get(n).map(n -> Json.str(_)))))

    def pass(p: Int): Seq[QueryRun] = {
      val order = if (permute) new scala.util.Random(seed * 1000003L + p).shuffle(fns) else fns
      order.map { case (name, fn) => attempt(name)(sink(name, fn(spark, input))) }
    }
    val passes = mutable.ArrayBuffer[Seq[QueryRun]]()
    val hostUse = mutable.ArrayBuffer[(Double, Double)]()
    val jitS = mutable.ArrayBuffer[Double]()
    // `warm_passes` more untimed passes, run as the timed ones are: the
    // JIT is still compiling after the concurrent pass, and the first
    // sequential pass is the one its progress moves most.
    val warmPasses = opt("warm_passes").toInt
    (0 until warmPasses).foreach(p => log(s"untimed pass $p", pass(p)))
    // A fixed number of passes, `seconds` over the workload's nominal
    // pass time: a pass count that followed the clock would change the
    // statistic whenever the host ran faster or slower.
    val jit = ManagementFactory.getCompilationMXBean
    val passCount = math.max(1, math.ceil(seconds / opt("pass_s").toDouble).toInt)
    while (passes.size < passCount) {
      val before = Host.sample()
      val jitBefore = jit.getTotalCompilationTime
      passes += pass(warmPasses + passes.size)
      hostUse += Host.since(before)
      jitS += (jit.getTotalCompilationTime - jitBefore) / 1e3
    }
    System.err.println("[perfbench] timed passes (JVM CPU s, host steal share, JIT s): " +
      hostUse.zip(jitS).map { case ((cpu, steal), j) => f"($cpu%.1f, $steal%.3f, $j%.1f)" }
        .mkString(" "))
    passes.zipWithIndex.foreach { case (p, i) => log(s"timed pass $i", p) }
    val passWalls = passes.map(_.map(_.seconds).sum).toSeq
    val wallS = Stats.median(passWalls)
    // Query latency percentiles are over every timed query run.
    val queryS = passes.toSeq.flatten.map(_.seconds)

    val endToEnd = Seq(
      "setup_s" -> setupS,
      "wall_s" -> wallS,
      "query_p50_s" -> Stats.quantile(queryS, 0.5),
      "query_p90_s" -> Stats.quantile(queryS, 0.9),
      "input_rows_per_s" -> inputRowsPerPass / wallS)

    val layer: Seq[(String, Double)] =
      if (!traced) Nil
      else {
        val tracer = new Tracer(spark.sparkContext)
        val root = tracer.open(-1, "workload", opt("workload"))
        val layers = Probes.tracedPass(spark, tracer, root, fns, input, sink, attempt,
          passWalls.last) ++
          Seq("core.session_s" -> sessionS) ++
          Probes.all(spark, tracer, root, input, opt("probes"), work)
        tracer.close(root)
        tracer.detach(spark)
        tracer.attachJobSpans()
        Files.writeString(Paths.get(opt("trace_out")), tracer.toJson(Seq(
          "workload" -> Json.str(opt("workload")),
          "seed" -> seed.toString,
          "untraced_pass_walls_s" -> passWalls.map(Json.num).mkString("[", ",", "]"),
          "metrics" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) }),
          "per_query" -> Probes.perQueryJson)))
        layers
      }

    val peakRssMb = vmHwmKb() / 1024.0
    val result = Json.obj(Seq(
      "end_to_end" -> Json.obj((endToEnd :+ ("peak_rss_mb" -> peakRssMb))
        .map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(layer.map { case (k, v) => k -> Json.num(v) }),
      "attempted" -> attempted.get.toString,
      "failed_runs" -> failedRuns.get.toString,
      "passes" -> passes.size.toString,
      "pass_walls_s" -> passWalls.map(Json.num).mkString("[", ",", "]"),
      "dumped" -> queries.map(Json.str).mkString("[", ",", "]")))
    Files.writeString(Paths.get(opt("result")), result + "\n")
    spark.stop()
  }

  def log(what: String, runs: Seq[QueryRun]): Unit =
    System.err.println(f"[perfbench] $what, queries ${runs.map(_.seconds).sum}%.2f s: " +
      runs.map(r => f"${r.name} ${r.seconds}%.2f" + (if (r.ok) "" else " FAILED"))
        .mkString(", "))

  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** Parquet paths under `df`'s plan that are read straight from files. */
  def scannedTables(df: DataFrame): Set[String] =
    df.queryExecution.logical.collectLeaves().collect {
      case l: LogicalRelation => l.relation match {
        case f: HadoopFsRelation => f.location.rootPaths.map(_.toString)
        case _ => Nil
      }
    }.flatten.toSet

  /** Peak resident set of this JVM (the Spark driver), in kB. */
  def vmHwmKb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toDouble }
      .getOrElse(Double.NaN)
}

/** CPU this JVM used, and the share of the host's runnable CPU time
  * the hypervisor stole, between two samples.
  */
object Host {
  final case class Sample(processCpuNs: Long, ticks: Array[Long])
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private def ticks(): Array[Long] = {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().split("\\s+").drop(1).map(_.toLong)
    finally src.close()
  }
  def sample(): Sample = Sample(os.getProcessCpuTime, ticks())
  /** (process CPU seconds, stolen / (busy + stolen) across the host). */
  def since(s: Sample): (Double, Double) = {
    val now = sample()
    val d = now.ticks.zip(s.ticks).map { case (a, b) => a - b }
    // user nice system idle iowait irq softirq steal
    val busy = d(0) + d(1) + d(2) + d(5) + d(6)
    val steal = d(7)
    ((now.processCpuNs - s.processCpuNs) / 1e9,
      if (busy + steal > 0) steal.toDouble / (busy + steal) else 0.0)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile, as numpy's default. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }
}
