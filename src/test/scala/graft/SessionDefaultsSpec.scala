package graft

/** The effective session config behind every suite, Verify and Bench:
  * AQE with coalescing and skew splitting (Spark's own defaults, no
  * longer restated in `Graft.session`) plus the two overrides the
  * session does set.
  */
class SessionDefaultsSpec extends SparkSpec {
  test("AQE is on and the graft overrides are in effect") {
    val conf = spark.conf
    Seq("spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.skewJoin.enabled")
      .foreach(k => assert(conf.get(k) == "true", k))
    assert(conf.get("spark.shuffle.sort.bypassMergeThreshold") == "1")
    assert(conf.get("spark.sql.codegen.cache.maxEntries") == "1024")
  }
}
