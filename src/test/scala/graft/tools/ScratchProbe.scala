package graft.tools

import graft.core.Graft
import org.apache.spark.sql.functions._

/** Disposable micro-probe for the per-task CPU constant on tiny
  * shuffle-write stages (r20 diagnostics; not part of any query path).
  * args: k=v spark-conf overrides, set as system properties so
  * [[Graft.session]] takes them over its own defaults.
  */
object ScratchProbe {
  def main(args: Array[String]): Unit = {
    args.foreach { kv =>
      val Array(k, v) = kv.split("=", 2); sys.props(k) = v
    }
    val spark = Graft.session("graft-scratch")
    val sc = spark.sparkContext
    import org.apache.spark.scheduler._
    val lines = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    sc.addSparkListener(new SparkListener {
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        val m = si.taskMetrics
        lines.add(f"    stage${si.stageId}%4d ${si.numTasks}%3dt cpu=${m.executorCpuTime / 1e9}%6.2fs run=${m.executorRunTime / 1e3}%6.2fs")
      }
    })
    def time(tag: String)(f: => Unit): Unit = {
      lines.clear()
      val t0 = System.nanoTime()
      f
      val w = (System.nanoTime() - t0) / 1e9
      Thread.sleep(400)
      println(f"[scratch] $tag wall=$w%.3fs")
      lines.forEach(l => println("[scratch]" + l))
    }

    val pairs = spark.range(30000).select(
      (col("id") % 997L).as("id_a"), (col("id") % 1013L + 1000L).as("id_b"),
      (col("id") % 100L).cast("double").as("jaccard"))
    val ck = pairs.repartition(32).localCheckpoint(true)
    time("warm")(ck.repartition(32, col("id_a")).count())
    for (n <- Seq(32, 8, 2)) {
      time(s"exchange n=$n")(ck.repartition(n, col("id_a")).count())
      time(s"exchange n=$n again")(ck.repartition(n, col("id_a")).count())
    }
    spark.stop()
  }
}
