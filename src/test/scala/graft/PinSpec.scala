package graft

import graft.ops.{Components, Pin}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

class PinSpec extends SparkSpec {
  import spark.implicits._

  /** Runs `body` under its own job group and returns the name of every
    * job it started (the short call site, which Spark also gives the
    * job's result stage). A marker job closes the window: listener
    * events arrive in order, so once its start is seen every earlier
    * job's start has been recorded.
    */
  private def jobNames[T](body: => T): (T, Seq[String]) = {
    val sc = spark.sparkContext
    val group = s"pinspec-${System.nanoTime}"
    val marker = s"$group-marker"
    val names = new ConcurrentLinkedQueue[String]()
    val done = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
        if (g == marker) done.countDown()
        else if (g == group)
          names.add(e.stageInfos.sortBy(-_.stageId).headOption.fold("")(_.name))
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "PinSpec")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(marker, "PinSpec marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(done.await(60, TimeUnit.SECONDS), "listener never saw the marker job")
      (out, names.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }

  test("connectedComponents names every pin job after Components.scala") {
    // A 9-node path takes 8 label rounds, so Pin.loop both checkpoints
    // and rebases.
    val nodes = (0L until 9L).toDF("id")
    val edges = (0L until 8L).map(i => (i, i + 1)).toDF("a", "b")
    val (labels, names) = jobNames(
      Components.connectedComponents(nodes, "id", edges, "a", "b")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    assert(labels == (0L until 9L).map(_ -> 0L).toMap)
    val pins = names.filter(_.startsWith("localCheckpoint at "))
    assert(pins.size >= 9, names)
    assert(pins.forall(_.contains("Components.scala:")), pins)
    assert(!names.exists(n => n.contains("Pin.scala") || n.contains("Iterate.scala")), names)
  }

  test("Pin.shared names its caller, keeps the rows and runs one job") {
    val in = spark.range(0, 200, 1, 4).toDF("id").withColumn("sq", col("id") * col("id"))
    val (pinned, names) = jobNames(Pin.shared(in))
    assert(names.size == 1, names)
    assert(names.head.startsWith("localCheckpoint at PinSpec.scala:"), names)
    assert(pinned.collect().map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      (0L until 200L).map(i => (i, i * i)))
    // The caller's own call site is restored afterwards.
    assert(spark.sparkContext.getLocalProperty("callSite.short") == null)
  }

  test("a Bradley-Terry-shaped loop stays flat for 30 rounds through Pin.loop") {
    // Plain per-round checkpoints compound the carried size estimates
    // of this plan: rounds grow from ~0.6 s past round 13 to minutes
    // by round 19. Pin.loop's periodic rebase keeps every round flat.
    val games = Seq(("a", "b", 3L), ("b", "a", 1L), ("b", "c", 2L),
        ("c", "b", 2L), ("a", "c", 1L), ("c", "a", 1L))
      .toDF("_a", "_b", "_m")
    val pinnedGames = Pin.shared(games)
    val wins = Pin.shared(pinnedGames.groupBy(col("_a").as("item"))
      .agg(sum("_m").as("n_wins")))
    var model: DataFrame = Pin.shared(wins.select(col("item"), lit(1.0).as("pi")))
    // The bound is checked each round: a planning blow-up never lets
    // the loop end on its own, it only slows until the driver runs out
    // of memory.
    for (round <- 0 until 30) {
      val t0 = System.nanoTime()
      val pa = model.select(col("item").as("_a"), col("pi").as("_pa"))
      val pb = model.select(col("item").as("_b"), col("pi").as("_pb"))
      val denom = pinnedGames
        .join(broadcast(pa), Seq("_a"))
        .join(broadcast(pb), Seq("_b"))
        .groupBy(col("_a").as("item"))
        .agg(sum(col("_m").cast("double") / (col("_pa") + col("_pb"))).as("_d"))
      val raw = wins.join(denom, Seq("item"))
        .select(col("item"), (col("n_wins").cast("double") / col("_d")).as("_raw"))
      val z = raw.agg(sum("_raw").as("_z"))
      model = Pin.loop(round, raw.crossJoin(broadcast(z))
        .select(col("item"), (col("_raw") / col("_z")).as("pi")))
      val seconds = (System.nanoTime() - t0) / 1e9
      assert(seconds < 5.0, f"round $round took $seconds%.2f s")
    }
    val pi = model.collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pi.keySet == Set("a", "b", "c") && math.abs(pi.values.sum - 1.0) < 1e-9)
  }
}
