package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator

/** A repeated query must reuse its generated classes: the session's
  * codegen cache has to hold the working set of a pass, or every pass
  * pays Janino (and then the JIT) for the same code again.
  *
  * Counts come from `CodegenMetrics.METRIC_COMPILATION_TIME`, which
  * records one sample per class Janino compiles. Both it and the class
  * cache are JVM-global, so the spec empties the cache first: the first
  * run's count is then the two queries' full working set whatever ran
  * earlier in this JVM. A suite compiling concurrently can only add to
  * the second run's count, so that run is measured up to three times and
  * the smallest count is asserted (the min-of-deltas pattern).
  */
class CodegenReuseSpec extends SparkSpec {
  private val sfDir = "/root/testdata/sf0.001"
  private val names = Seq("q35_tracker_e2e", "q43_multi_tracker_totals")

  private def compiledDuring(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  private def runAll(): Unit = names.foreach { n =>
    SparkEntry.queries(n)(spark, sfDir).write.format("noop").mode("overwrite").save()
  }

  test("a second run of q35 and q43 compiles almost no generated classes") {
    spark // the session, and so the cache's capacity, exists before the flush
    val cacheOf = CodeGenerator.getClass.getDeclaredMethod("cache")
    cacheOf.setAccessible(true)
    val cache = cacheOf.invoke(CodeGenerator)
    cache.getClass.getMethod("invalidateAll").invoke(cache)
    val first = compiledDuring(runAll())
    assert(first >= 100, s"first run compiled only $first classes")
    val bound = first / 20
    val mins = LazyList.continually(compiledDuring(runAll())).take(3)
      .scanLeft(Long.MaxValue)(math.min).tail
    val again = mins.find(_ <= bound).getOrElse(mins.last)
    info(s"generated classes compiled: first run $first, second run $again")
    assert(again <= bound,
      s"second run compiled $again classes, first $first (bound $bound)")
  }
}
