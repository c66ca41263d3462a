package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart,
  SparkListenerStageCompleted}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import scala.collection.mutable

/** Wall clock with sub-millisecond resolution on the same epoch as
  * Spark's listener event times, so job intervals and spans compare.
  */
object Clock {
  private val baseMs = System.currentTimeMillis().toDouble
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** Counters of one Spark job, filled from listener events. */
final class JobStats(val id: Int, val group: String, val startMs: Long) {
  var endMs: Long = -1L
  var stages = 0
  var tasks = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  var cpuNs = 0L
  var bytesWritten = 0L
}

/** One interval of the trace tree: workload → pass → query or op call →
  * Spark job. Job spans are attached to the query span whose job group
  * the harness set while the job ran.
  */
final class Span(val id: Int, val parent: Int, val level: String, val name: String,
    val startMs: Double) {
  var endMs: Double = Double.NaN
  val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
  def durMs: Double = endMs - startMs
}

/** In-memory span recorder plus the listener that feeds it job spans.
  * Nothing is written until [[toJson]] at the end of the run.
  */
final class Tracer(sc: SparkContext) {
  private val spans = mutable.ArrayBuffer[Span]()
  private val jobs = mutable.LinkedHashMap[Int, JobStats]()
  private val stageToJob = mutable.HashMap[Int, Int]()
  private var planMs = 0.0
  private var drains = 0

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val group = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse("")
      jobs(e.jobId) = new JobStats(e.jobId, group, e.time)
      e.stageIds.foreach(s => stageToJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      jobs.get(e.jobId).foreach(_.endMs = e.time)
      Tracer.this.notifyAll()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Tracer.this.synchronized {
        val si = e.stageInfo
        val m = si.taskMetrics
        stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
          j.stages += 1
          j.tasks += si.numTasks
          if (m != null) {
            j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
            j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
            j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
            j.gcMs += m.jvmGCTime
            j.cpuNs += m.executorCpuTime
            j.bytesWritten += m.outputMetrics.bytesWritten
          }
        }
      }
  }

  // Analysis + optimization + planning time of every SQL execution,
  // read from Spark's own phase tracker; same listener queue as the jobs.
  private val planListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit = Tracer.this.synchronized {
      planMs += qe.tracker.phases.values.map(_.durationMs).sum
    }
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = add(qe)
  }

  private var attached = false
  def attach(spark: org.apache.spark.sql.SparkSession): Unit = if (!attached) {
    sc.addSparkListener(listener)
    spark.listenerManager.register(planListener)
    attached = true
  }
  def detach(spark: org.apache.spark.sql.SparkSession): Unit = if (attached) {
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(planListener)
    attached = false
  }

  def open(parent: Int, level: String, name: String): Span = synchronized {
    val s = new Span(spans.size, parent, level, name, Clock.nowMs)
    spans += s
    s
  }
  def close(s: Span): Span = { s.endMs = Clock.nowMs; s }

  /** Runs `body` inside a leaf span whose Spark jobs carry the span's
    * job group, so the listener can hang them under it.
    */
  def span[T](parent: Int, level: String, name: String)(body: Span => T): T = {
    val s = open(parent, level, name)
    sc.setJobGroup(groupOf(s), name, interruptOnCancel = false)
    try body(s)
    finally { close(s); sc.clearJobGroup() }
  }
  def groupOf(s: Span): String = s"perfbench-span-${s.id}"

  /** Waits until the listener has seen every job submitted so far end.
    * A marker job is submitted after the measured work; its job-end is
    * queued behind every earlier event, so once it is seen and each seen
    * job start has its job end, nothing of the measured work is left in
    * the bus. No fixed sleep.
    */
  def drain(): Unit = {
    drains += 1
    val group = s"perfbench-drain-$drains"
    sc.setJobGroup(group, "drain", interruptOnCancel = false)
    try sc.parallelize(Seq(0), 1).count()
    finally sc.clearJobGroup()
    val deadline = System.currentTimeMillis() + 60000L
    synchronized {
      def done = jobs.values.exists(j => j.group == group && j.endMs >= 0) &&
        jobs.values.forall(_.endMs >= 0)
      while (!done) {
        val left = deadline - System.currentTimeMillis()
        if (left <= 0) sys.error("listener bus did not drain within 60 s")
        wait(left)
      }
    }
  }

  /** Plan milliseconds accumulated since the last call. */
  def takePlanMs(): Double = synchronized { val p = planMs; planMs = 0.0; p }

  /** Jobs that ran in `s`'s job group. */
  def jobsIn(s: Span): Seq[JobStats] = synchronized {
    jobs.values.filter(_.group == groupOf(s)).toSeq
  }

  /** Adds one `job` span per Spark job under the span that owned it. */
  def attachJobSpans(): Unit = synchronized {
    val byGroup = spans.map(s => groupOf(s) -> s).toMap
    jobs.values.foreach { j =>
      byGroup.get(j.group).foreach { owner =>
        val js = new Span(spans.size, owner.id, "job", s"job ${j.id}", j.startMs.toDouble)
        js.endMs = j.endMs.toDouble
        js.attrs ++= Seq("stages" -> j.stages.toDouble, "tasks" -> j.tasks.toDouble,
          "shuffle_read_bytes" -> j.shuffleReadBytes.toDouble,
          "shuffle_write_bytes" -> j.shuffleWriteBytes.toDouble,
          "spill_bytes" -> j.spillBytes.toDouble, "gc_ms" -> j.gcMs.toDouble,
          "cpu_ms" -> j.cpuNs / 1e6, "bytes_written" -> j.bytesWritten.toDouble)
        spans += js
      }
    }
  }

  /** Length of the union of the given intervals. */
  def unionMs(intervals: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var cur: Option[(Double, Double)] = None
    intervals.sortBy(_._1).foreach { case (s, e) =>
      cur match {
        case Some((cs, ce)) if s <= ce => cur = Some((cs, ce.max(e)))
        case Some((cs, ce)) => total += ce - cs; cur = Some((s, e))
        case None => cur = Some((s, e))
      }
    }
    total + cur.map { case (cs, ce) => ce - cs }.getOrElse(0.0)
  }

  /** Self time: own duration minus the union of the children's. */
  def selfMs(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id).map(k => (k.startMs, k.endMs)).toSeq
    s.durMs - unionMs(kids)
  }

  def toJson(extra: Seq[(String, String)]): String = synchronized {
    val body = spans.map { s =>
      val attrs = Json.obj(s.attrs.toSeq.map { case (k, v) => k -> Json.num(v) })
      s"""{"id":${s.id},"parent":${s.parent},"level":${Json.str(s.level)},""" +
        s""""name":${Json.str(s.name)},"start_ms":${Json.num(s.startMs)},""" +
        s""""dur_ms":${Json.num(s.durMs)},"self_ms":${Json.num(selfMs(s))},"attrs":$attrs}"""
    }.mkString("[\n", ",\n", "\n]")
    (extra :+ ("spans" -> body)).map { case (k, v) => s"${Json.str(k)}:$v" }
      .mkString("{\n", ",\n", "\n}\n")
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
