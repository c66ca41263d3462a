package graft.tools

import graft.SparkEntry
import graft.core.Graft
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import scala.collection.mutable

/** Measurement harness for the optimization rounds (guide §1): runs
  * named catalog queries to the noop sink with a job/stage listener
  * attached, prints a per-job timeline (wall, task time, shuffle
  * bytes) so driver-side gaps (planning, RDD-API work) are visible,
  * and writes each query's `.explain("formatted")` to
  * `plans/r20/<name>_<tag>.txt` for the before/after artifact trail.
  *
  * Usage: `Test/runMain graft.tools.Prof <tag> <qname> [<qname> ...]`
  * (env `SPARK_GRAFT_SF_DIR` picks the data directory, default sf0.1;
  * `SPARK_GRAFT_PROF_PASSES` repeats the timed run, default 2 —
  * pass 1 includes codegen/JIT warm-up, pass 2 is the steady state.)
  *
  * Diagnostic only: never run by the driver's bench/verify, changes no
  * query result.
  */
object Prof {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Prof <tag> <qname> [<qname>...]")
    val tag = args.head
    val names = args.tail.toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val passes = sys.env.get("SPARK_GRAFT_PROF_PASSES").map(_.toInt).getOrElse(2)
    val spark = Graft.session("graft-prof")

    final case class JobRec(id: Int, desc: String, start: Long,
      var end: Long = 0L, var taskTimeMs: Long = 0L, var gcMs: Long = 0L,
      var cpuMs: Long = 0L, var deserMs: Long = 0L,
      var shufReadMB: Double = 0, var shufWriteMB: Double = 0,
      var stages: Int = 0, var tasks: Int = 0,
      var names: List[String] = Nil)
    val jobs = mutable.LinkedHashMap[Int, JobRec]()
    val stageToJob = mutable.HashMap[Int, Int]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
        // e.properties can be null for jobs without local properties
        // (ADVICE r19) — a throw here would drop the job's record.
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        jobs(e.jobId) = JobRec(e.jobId, d, e.time)
        e.stageIds.foreach(sid => stageToJob(sid) = e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time)
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = jobs.synchronized {
        val si = e.stageInfo
        stageToJob.get(si.stageId).flatMap(jobs.get).foreach { j =>
          j.stages += 1
          j.tasks += si.numTasks
          j.taskTimeMs += si.taskMetrics.executorRunTime
          j.gcMs += si.taskMetrics.jvmGCTime
          j.cpuMs += si.taskMetrics.executorCpuTime / 1000000L
          j.deserMs += si.taskMetrics.executorDeserializeTime
          j.names ::= s"${si.name.take(46)}(${si.numTasks}t," +
            f"${si.taskMetrics.executorRunTime / 1e3}%.1fs)"
          j.shufReadMB += si.taskMetrics.shuffleReadMetrics.totalBytesRead / 1e6
          j.shufWriteMB += si.taskMetrics.shuffleWriteMetrics.bytesWritten / 1e6
        }
      }
    }

    // Warm-up (JIT, codegen cache, FS caches) on a cheap query.
    try SparkEntry.queries("q16_distinct")(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[prof] warm-up failed: ${e.getMessage}")
    }

    java.nio.file.Files.createDirectories(java.nio.file.Paths.get("plans/r20"))
    names.foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      // Plan artifact (cheap: analysis only, no execution).
      val df = fn(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"plans/r20/${name}_$tag.txt"),
        plan.getBytes("UTF-8"))

      (1 to passes).foreach { p =>
        jobs.synchronized { jobs.clear(); stageToJob.clear() }
        spark.sparkContext.addSparkListener(listener)
        spark.sparkContext.setJobDescription(s"$name pass$p")
        val t0 = System.nanoTime()
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wallS = (System.nanoTime() - t0) / 1e9
        spark.sparkContext.setJobDescription(null)
        // listener events are async; let the queue drain (ADVICE r19:
        // a fixed 300 ms raced slow buses — poll until no active job
        // remains, then pad for the async bus tail)
        var waited = 0
        while (spark.sparkContext.statusTracker.getActiveJobIds().nonEmpty
            && waited < 10000) { Thread.sleep(100); waited += 100 }
        Thread.sleep(1000)
        spark.sparkContext.removeSparkListener(listener)
        val js = jobs.synchronized { jobs.values.toSeq }
        val jobWall = js.map(j => (j.end - j.start).max(0L)).sum / 1e3
        println(f"[prof] $name pass$p wall=$wallS%.2fs jobs=${js.size} jobWall=$jobWall%.2fs driverGap=${wallS - jobWall}%.2fs")
        js.foreach { j =>
          println(f"[prof]   job${j.id}%3d ${(j.end - j.start).max(0L) / 1e3}%6.2fs stages=${j.stages}%2d tasks=${j.tasks}%4d taskTime=${j.taskTimeMs / 1e3}%7.2fs cpu=${j.cpuMs / 1e3}%6.2fs gc=${j.gcMs / 1e3}%5.2fs deser=${j.deserMs / 1e3}%5.2fs shufR=${j.shufReadMB}%8.2fMB shufW=${j.shufWriteMB}%8.2fMB ${j.names.reverse.mkString(" | ")}")
        }
      }
    }
    spark.stop()
  }
}
