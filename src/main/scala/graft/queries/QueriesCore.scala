package graft.queries

import graft.core.Graft
import graft.functions.{CmsSketch, Hashing}
import graft.ops.{ActiveLearning, Agreement, Allocate, Anonymity, AsofJoin, Attribution,
  Behavior, Bootstrap, Bpe, BradleyTerry, CardinalityEstimate, Conformal,
  Mixing,
  Chunking, Classifier, Cleaning, Components, Compressibility, Coreset,
  Contrastive, Coordinates,
  Categorical, ChangeDecomposition, ChangePoint, CoOccurrence, CorpusPipeline, Intervals, JoinDiagnostics, Pareto, QuantileNormalize, Retention, Sessionize, TemporalAntiJoin, Paths, Benford, Concentration, Debounce, Reconcile, RobustStats, RollingDistinct, Seasonal, ShardBalance, WeightedStats,
  DecisionStump,
  Dedup, Drift, Dsir, Encoding, GemPipeline, GraphMetrics, Homoglyph,
  IncrementalAgg, Isotonic,
  Experiment, IntervalJoin, Linkage,
  Fairness, FeatureSelect, FileAudit, Itemsets, LanguageModel, Lateness,
  LineDedup, LogReg,
  Markov, Merge, Multimodal, NaiveBayes, TimeWeighted,
  Normalize, Outliers, Ownership, Packing, PageRank, Pca, Pii, Pq, Profile,
  Quantize, Rank, Retrieval, Rfm, Rolling, Sampling, Scd2, Similarity, Skew,
  SourceSim, SpatialJoin, ZOrder, CorrMatrix, Concurrency,
  Shrinkage, SnapshotDiff, SpanDedup, Stats, SurrogateKeys, Survival,
  SequentialTest, TableChecksum, TextAnalysis,
  Timeseries, TrackerConfigs, Valuation}
import graft.sources.{CountryDim, Csv, Jsonl, Layout, Orc, Xml}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import Shared._

/** Catalog section `coreDefs` of the former monolithic GemQueries
  * (mechanical round-14 split; content unchanged).
  */
private[queries] object QueriesCore {

  val defs: Seq[QueryDef] = Seq(

    // P1/P3 projection + fixed order (`Coalplants_GEM.R:17-38,214-223`)
    QueryDef("q01_project",
      (s, dir) => t(s, dir, "lineitem")
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
        // (l_orderkey, l_linenumber) is NOT unique in the synthetic data;
        // sort on every output column so the oracle compare is
        // order-deterministic.
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
             |FROM lineitem ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin)),

    // P4 rename + M4 constant/typed-null columns (`Coalplants_GEM.R:186-210`)
    QueryDef("q02_rename_const",
      (s, dir) => t(s, dir, "orders")
        .withColumnsRenamed(Map("o_orderkey" -> "order_id", "o_orderstatus" -> "status"))
        .withColumn("sector", lit("Power"))
        .withColumn("note", lit(null).cast("string"))
        .select("order_id", "status", "sector", "note")
        .orderBy("order_id"),
      Some("""SELECT o_orderkey AS order_id, o_orderstatus AS status,
             |'Power' AS sector, CAST(NULL AS VARCHAR) AS note
             |FROM orders ORDER BY order_id""".stripMargin)),

    // F1 value-set membership filter (`Coalplants_GEM.R:41`)
    QueryDef("q03_filter_isin",
      (s, dir) => t(s, dir, "lineitem")
        .filter(col("l_returnflag").isin("A", "R"))
        .select("l_orderkey", "l_linenumber", "l_returnflag", "l_quantity")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag"),
      Some("""SELECT l_orderkey, l_linenumber, l_returnflag, l_quantity
             |FROM lineitem WHERE l_returnflag IN ('A', 'R')
             |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin)),

    // F2 negated compound predicate w/ 3VL parity (`GasOilplants_GEM.R:88-92`)
    QueryDef("q04_filter_negated",
      (s, dir) => t(s, dir, "lineitem")
        .filter(!(col("l_returnflag").isin("N") || col("l_quantity").isNull ||
          col("l_quantity") === 0.0 || col("l_discount") > 0.08))
        .select("l_orderkey", "l_linenumber", "l_quantity", "l_discount")
        .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_discount"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity, l_discount
             |FROM lineitem
             |WHERE NOT (l_returnflag IN ('N') OR l_quantity IS NULL
             |           OR l_quantity = 0.0 OR l_discount > 0.08)
             |ORDER BY l_orderkey, l_linenumber, l_quantity, l_discount""".stripMargin)),

    // F3 null check + F4 range-with-null-pass (`Coalplants_GEM.R:122-128`)
    QueryDef("q05_filter_null_range",
      (s, dir) => t(s, dir, "orders")
        .filter(col("o_custkey").isNotNull)
        .filter(col("o_orderdate").isNull ||
          col("o_orderdate") >= to_timestamp(lit("1995-06-01"), "yyyy-MM-dd"))
        .select("o_orderkey", "o_custkey", "o_orderdate")
        .orderBy("o_orderkey"),
      Some("""SELECT o_orderkey, o_custkey, o_orderdate FROM orders
             |WHERE o_custkey IS NOT NULL
             |  AND (o_orderdate IS NULL OR o_orderdate >= TIMESTAMP '1995-06-01')
             |ORDER BY o_orderkey""".stripMargin)),

    // F5 timestamp comparison filter (`TotalData_GEM.R:75-76`); events.ts
    // is ns in the files → µs in both engines (Graft.table / CAST).
    QueryDef("q06_ts_filter",
      (s, dir) => t(s, dir, "events")
        .filter(col("ts") >= lit("2024-01-03 00:00:00").cast("timestamp_ntz") &&
          col("ts") < lit("2024-01-04 00:00:00").cast("timestamp_ntz"))
        .select("event_id", "ts", "event_type")
        .orderBy("event_id"),
      Some("""SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, event_type FROM events
             |WHERE CAST(ts AS TIMESTAMP) >= TIMESTAMP '2024-01-03 00:00:00'
             |  AND CAST(ts AS TIMESTAMP) < TIMESTAMP '2024-01-04 00:00:00'
             |ORDER BY event_id""".stripMargin)),

    // M2 multi-branch case_when (`Hydroplants_GEM.R:102-107`)
    QueryDef("q07_case_when",
      (s, dir) => t(s, dir, "lineitem")
        .withColumn("qty_band",
          when(col("l_quantity") < 10, "small")
            .when(col("l_quantity") < 25, "medium")
            .when(col("l_quantity") < 40, "large")
            .otherwise("huge"))
        .groupBy("qty_band").agg(count(lit(1)).as("n"))
        .orderBy("qty_band"),
      Some("""SELECT CASE WHEN l_quantity < 10 THEN 'small'
             |            WHEN l_quantity < 25 THEN 'medium'
             |            WHEN l_quantity < 40 THEN 'large'
             |            ELSE 'huge' END AS qty_band, count(*) AS n
             |FROM lineitem GROUP BY 1 ORDER BY qty_band""".stripMargin)),

    // M3 ifelse(is.na(x), y, x) ≡ coalesce (`TotalData_GEM.R:33,56`)
    QueryDef("q08_coalesce",
      (s, dir) => t(s, dir, "lineitem")
        .withColumn("disc_or_flag", coalesce(nullif(col("l_discount"), lit(0.0)), lit(-1.0)))
        .groupBy("l_returnflag")
        .agg(round(sum("disc_or_flag"), 2).as("sum_disc"), count(lit(1)).as("n"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag,
             |round(sum(coalesce(nullif(l_discount, 0.0), -1.0)), 2) AS sum_disc,
             |count(*) AS n
             |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // M5 whole-table value replace (`Coalplants_GEM.R:50`)
    QueryDef("q09_replace_everywhere",
      (s, dir) => t(s, dir, "lineitem")
        .select("l_returnflag", "l_linestatus", "l_quantity")
        .transform(Cleaning.replaceEverywhere("N", "unknown"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), round(sum("l_quantity"), 2).as("sum_qty"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT CASE WHEN l_returnflag = 'N' THEN 'unknown' ELSE l_returnflag END AS l_returnflag,
             |       CASE WHEN l_linestatus = 'N' THEN 'unknown' ELSE l_linestatus END AS l_linestatus,
             |       count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
             |FROM lineitem GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // A1+J1 coordinate canonicalization: group-summary + broadcast
    // re-join (`Coalplants_GEM.R:59-76`), nation as the location key.
    // The balance is averaged in integer cents: integer sums are exact
    // in both engines whatever the summation order, so the one division
    // and the half-up rounding agree even on an exact x.xx5 tie. Round
    // before the BIGINT cast (a bare double cast truncates in Spark and
    // rounds in DuckDB).
    QueryDef("q10_canon_coords",
      (s, dir) => t(s, dir, "customer")
        .withColumn("c_lon", col("c_custkey").cast("double"))
        .withColumn("c_cents", round(col("c_acctbal") * 100).cast("bigint"))
        .transform(Coordinates.canonicalize("c_nationkey", "c_cents", "c_lon"))
        .select(col("c_custkey"), col("c_nationkey"),
          (round(col("c_cents")) / 100).as("acct_canon"))
        .orderBy("c_custkey"),
      Some("""WITH cust AS (
             |  SELECT *, CAST(round(c_acctbal * 100) AS BIGINT) AS c_cents
             |  FROM customer),
             |summ AS (
             |  SELECT c_nationkey,
             |    CASE WHEN count(DISTINCT (c_cents, CAST(c_custkey AS DOUBLE))) > 1
             |         THEN avg(c_cents) ELSE min(c_cents) END AS cents
             |  FROM cust GROUP BY c_nationkey)
             |SELECT c.c_custkey, c.c_nationkey, round(s.cents) / 100 AS acct_canon
             |FROM customer c LEFT JOIN summ s USING (c_nationkey)
             |ORDER BY c_custkey""".stripMargin)),

    // J2 left join + coalesce of the fallback column (`TotalData_GEM.R:31-34`)
    QueryDef("q11_join_coalesce",
      (s, dir) => {
        val dim = t(s, dir, "customer").filter(col("c_acctbal") > 5000)
          .select("c_custkey", "c_name")
        // No broadcast hint: the dim is a filtered slice of `customer`
        // and grows with the data; AQE picks broadcast when it fits.
        t(s, dir, "orders")
          .join(dim, col("o_custkey") === col("c_custkey"), "left")
          .withColumn("customer_name", coalesce(col("c_name"), lit("unknown")))
          .groupBy("customer_name")
          .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("total"))
          .orderBy("customer_name")
      },
      Some("""WITH dim AS (SELECT c_custkey, c_name FROM customer WHERE c_acctbal > 5000)
             |SELECT coalesce(c_name, 'unknown') AS customer_name,
             |       count(*) AS n_orders, round(sum(o_totalprice), 2) AS total
             |FROM orders LEFT JOIN dim ON o_custkey = c_custkey
             |GROUP BY 1 ORDER BY customer_name""".stripMargin)),

    // J3 composite-key left join against an aggregated dim
    // (`TotalData_GEM.R:116-119`)
    QueryDef("q12_composite_join",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
        val dim = li.groupBy("l_returnflag", "l_linestatus")
          .agg(avg("l_quantity").as("avg_qty"))
        li.join(broadcast(dim), Seq("l_returnflag", "l_linestatus"), "left")
          .withColumn("above_avg", (col("l_quantity") > col("avg_qty")).cast("int"))
          .groupBy("l_returnflag", "l_linestatus")
          .agg(sum("above_avg").cast("long").as("n_above"), count(lit(1)).as("n"))
          .orderBy("l_returnflag", "l_linestatus")
      },
      Some("""WITH dim AS (SELECT l_returnflag, l_linestatus, avg(l_quantity) AS avg_qty
             |            FROM lineitem GROUP BY 1, 2)
             |SELECT l.l_returnflag, l.l_linestatus,
             |       CAST(sum(CASE WHEN l.l_quantity > d.avg_qty THEN 1 ELSE 0 END) AS BIGINT) AS n_above,
             |       count(*) AS n
             |FROM lineitem l LEFT JOIN dim d USING (l_returnflag, l_linestatus)
             |GROUP BY 1, 2 ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // J4 dimension-lookup chain (countrycode analog, `Coalplants_GEM.R:200`):
    // two broadcast joins up a snowflake.
    QueryDef("q13_dim_lookup",
      (s, dir) => t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(count(lit(1)).as("n_customers"), round(sum("c_acctbal"), 2).as("total_acctbal"))
        .orderBy("r_name"),
      Some("""SELECT r_name, count(*) AS n_customers,
             |       round(sum(c_acctbal), 2) AS total_acctbal
             |FROM customer JOIN nation ON c_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // A2 main rollup, TPC-H-Q1 shape (`Coalplants_GEM.R:165-171`):
    // partial aggregation collapses before the shuffle.
    QueryDef("q14_pricing_summary",
      (s, dir) => t(s, dir, "lineitem")
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          round(coalesce(sum("l_quantity"), lit(0.0)), 2).as("sum_qty"),
          round(sum("l_extendedprice"), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))), 2).as("sum_disc_price"),
          round(avg("l_quantity"), 4).as("avg_qty"),
          round(avg("l_discount"), 4).as("avg_disc"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus"),
      Some("""SELECT l_returnflag, l_linestatus,
             |  round(coalesce(sum(l_quantity), 0.0), 2) AS sum_qty,
             |  round(sum(l_extendedprice), 2) AS sum_base_price,
             |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS sum_disc_price,
             |  round(avg(l_quantity), 4) AS avg_qty,
             |  round(avg(l_discount), 4) AS avg_disc,
             |  count(*) AS count_order
             |FROM lineitem GROUP BY l_returnflag, l_linestatus
             |ORDER BY l_returnflag, l_linestatus""".stripMargin)),

    // A3 two-level unweighted mean-of-means (`TotalData_GEM.R:79-93`)
    QueryDef("q15_two_level_mean",
      (s, dir) => t(s, dir, "customer")
        .join(broadcast(t(s, dir, "nation")), col("c_nationkey") === col("n_nationkey"))
        .groupBy("n_regionkey", "c_nationkey")
        .agg(avg("c_acctbal").as("nation_mean"))
        .join(broadcast(t(s, dir, "region")), col("n_regionkey") === col("r_regionkey"))
        .groupBy("r_name")
        .agg(round(avg("nation_mean"), 2).as("region_mean"))
        .orderBy("r_name"),
      Some("""WITH nm AS (
             |  SELECT n_regionkey, c_nationkey, avg(c_acctbal) AS nation_mean
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey
             |  GROUP BY 1, 2)
             |SELECT r_name, round(avg(nation_mean), 2) AS region_mean
             |FROM nm JOIN region ON n_regionkey = r_regionkey
             |GROUP BY r_name ORDER BY r_name""".stripMargin)),

    // A4/A5 distinct projection dedup (`TotalData_GEM.R:144-146,21`)
    QueryDef("q16_distinct",
      (s, dir) => t(s, dir, "customer")
        .select("c_mktsegment", "c_nationkey").distinct()
        .orderBy("c_mktsegment", "c_nationkey"),
      Some("""SELECT DISTINCT c_mktsegment, c_nationkey FROM customer
             |ORDER BY c_mktsegment, c_nationkey""".stripMargin)),

    // A6 first-row-per-group via explicit ordinal (`TotalData_GEM.R:48-51`)
    QueryDef("q17_first_per_group",
      (s, dir) => {
        val w = Window.partitionBy(col("o_custkey"))
          .orderBy(col("o_orderdate"), col("o_orderkey"))
        t(s, dir, "orders")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
          .select("o_custkey", "o_orderkey", "o_orderdate")
          .orderBy("o_custkey")
      },
      Some("""SELECT o_custkey, o_orderkey, o_orderdate FROM (
             |  SELECT *, row_number() OVER (
             |    PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS rn
             |  FROM orders) WHERE rn = 1 ORDER BY o_custkey""".stripMargin)),

    // A7 count/sum-over-partition windows (`Hydroplants_GEM.R:174-189`)
    QueryDef("q18_window_share",
      (s, dir) => {
        val w = Window.partitionBy(col("l_orderkey"))
        t(s, dir, "lineitem")
          .withColumn("n_items", count(lit(1)).over(w))
          .withColumn("qty_share", round(col("l_quantity") / sum("l_quantity").over(w), 4))
          .select("l_orderkey", "l_linenumber", "n_items", "qty_share")
          .orderBy("l_orderkey", "l_linenumber")
      },
      Some("""SELECT l_orderkey, l_linenumber,
             |  count(*) OVER (PARTITION BY l_orderkey) AS n_items,
             |  round(l_quantity / sum(l_quantity) OVER (PARTITION BY l_orderkey), 4) AS qty_share
             |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin)),

    // U1 union-by-name (`TotalData_GEM.R:6-16`)
    QueryDef("q19_union",
      (s, dir) => {
        val o = t(s, dir, "orders")
        val hi = o.filter(col("o_totalprice") >= 200000).withColumn("bucket", lit("high"))
        val lo = o.filter(col("o_totalprice") < 50000).withColumn("bucket", lit("low"))
        hi.unionByName(lo)
          .groupBy("bucket", "o_orderstatus")
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
          .orderBy("bucket", "o_orderstatus")
      },
      Some("""WITH u AS (
             |  SELECT *, 'high' AS bucket FROM orders WHERE o_totalprice >= 200000
             |  UNION ALL
             |  SELECT *, 'low' AS bucket FROM orders WHERE o_totalprice < 50000)
             |SELECT bucket, o_orderstatus, count(*) AS n,
             |       round(sum(o_totalprice), 2) AS total
             |FROM u GROUP BY 1, 2 ORDER BY bucket, o_orderstatus""".stripMargin)),

    // G1 separate_rows ≡ explode(split(...)) (`Coalplants_GEM.R:107`)
    QueryDef("q20_explode_tokens",
      (s, dir) => t(s, dir, "documents")
        .withColumn("word", explode(split(col("text"), " ")))
        .filter(col("word") =!= "")
        .groupBy("word").agg(count(lit(1)).as("n"))
        .orderBy("word"),
      Some("""SELECT word, count(*) AS n FROM (
             |  SELECT unnest(string_split(text, ' ')) AS word FROM documents)
             |WHERE word <> '' GROUP BY word ORDER BY word""".stripMargin)),

    // G2+M2 year expansion with the capacity-timeline rule
    // (`Coalplants_GEM.R:134-152`): explode(sequence(...)) — narrow, no join.
    QueryDef("q21_expand_years",
      (s, dir) => t(s, dir, "supplier")
        .withColumn("start_year", (lit(2020) + pmod(col("s_suppkey"), lit(15))).cast("int"))
        .withColumn("retire_year", col("start_year") + 20)
        .withColumn("year", explode(sequence(lit(2023), lit(2050))))
        .withColumn("capacity",
          when(col("year") < col("start_year"), 0.0)
            .when(col("year") > col("retire_year"), 0.0)
            .otherwise(col("s_acctbal")))
        .groupBy("year")
        .agg(round(coalesce(sum("capacity"), lit(0.0)), 2).as("total_capacity"))
        .orderBy("year"),
      Some("""WITH e AS (
             |  SELECT s_suppkey, s_acctbal,
             |         2020 + (s_suppkey % 15) AS start_year,
             |         2040 + (s_suppkey % 15) AS retire_year,
             |         y.year
             |  FROM supplier
             |  CROSS JOIN (SELECT unnest(generate_series(2023, 2050)) AS year) y)
             |SELECT year, round(coalesce(sum(
             |  CASE WHEN year < start_year THEN 0.0
             |       WHEN year > retire_year THEN 0.0
             |       ELSE s_acctbal END), 0.0), 2) AS total_capacity
             |FROM e GROUP BY year ORDER BY year""".stripMargin)),

    // G4 ownership split + capacity allocation, both variants at once
    // (`Coalplants_GEM.R:104-119`, `Hydroplants_GEM.R:159-202`):
    // explode + regex extract + count-over-window equal-share default.
    QueryDef("q22_ownership_split",
      (s, dir) => t(s, dir, "part")
        .withColumn("Owner",
          when(pmod(col("p_size"), lit(3)) === 0,
            concat(col("p_brand"), lit("; "), col("p_type")))
            .otherwise(concat(col("p_brand"), lit(" [60%]; "), col("p_type"), lit(" [40%]"))))
        .transform(Ownership.split("Owner", "p_retailprice", Ownership.EqualShareDefault))
        .groupBy(col("Company").as("company"))
        // Exact decimal sum, rounded once: a double sum can land on
        // either side of a 2-decimal tie (500.005 x 3), and the two
        // engines then round it differently.
        .agg(round(sum(col("Capacity_allocated").cast("decimal(20,6)")), 2)
          .cast("double").as("alloc"), count(lit(1)).as("n"))
        .orderBy("company"),
      Some("""WITH o AS (
             |  SELECT p_partkey, p_retailprice,
             |    CASE WHEN p_size % 3 = 0 THEN p_brand || '; ' || p_type
             |         ELSE p_brand || ' [60%]; ' || p_type || ' [40%]' END AS owners
             |  FROM part),
             |e AS (SELECT p_partkey, p_retailprice,
             |             len(string_split(owners, '; ')) AS n_owners,
             |             unnest(string_split(owners, '; ')) AS ow FROM o),
             |sh AS (SELECT p_partkey, p_retailprice, n_owners,
             |  trim(regexp_extract(ow, '^([^\[]+)', 1)) AS company,
             |  CAST(NULLIF(regexp_extract(ow, '(\d+)%', 1), '') AS DOUBLE) / 100 AS share
             |  FROM e)
             |SELECT company,
             |  CAST(round(sum(CAST(p_retailprice * coalesce(share, 1.0 / n_owners)
             |    AS DECIMAL(20,6))), 2) AS DOUBLE) AS alloc,
             |  count(*) AS n
             |FROM sh GROUP BY company ORDER BY company""".stripMargin)),

    // X8/X13 deterministic TFL surrogate ids (`TotalData_GEM.R:21-34`)
    QueryDef("q23_company_ids",
      (s, dir) => t(s, dir, "customer")
        .transform(GemPipeline.assignCompanyIds("c_name"))
        .select("c_custkey", "company_id")
        .orderBy("c_custkey"),
      Some("""WITH dim AS (
             |  SELECT c_name, 'TFL' || lpad(CAST(
             |    dense_rank() OVER (ORDER BY c_name) + 10000000 AS VARCHAR), 8, '0')
             |    AS company_id
             |  FROM (SELECT DISTINCT c_name FROM customer))
             |SELECT c_custkey, company_id
             |FROM customer LEFT JOIN dim USING (c_name)
             |ORDER BY c_custkey""".stripMargin)),

    // X3-X8 scalar string functions (SURVEY.md §2.9)
    QueryDef("q24_string_funcs",
      (s, dir) => t(s, dir, "part")
        .select(
          col("p_partkey"),
          lower(col("p_type")).as("type_lower"),
          trim(col("p_brand")).as("brand_trim"),
          concat_ws(", ", col("p_brand"), col("p_type")).as("brand_type"),
          nullif(instr(col("p_type"), "BRASS").cast("long"), lit(0L)).as("brass_pos"),
          lpad(col("p_partkey").cast("string"), 8, "0").as("padded"))
        .orderBy("p_partkey"),
      Some("""SELECT p_partkey, lower(p_type) AS type_lower,
             |  trim(p_brand) AS brand_trim,
             |  concat_ws(', ', p_brand, p_type) AS brand_type,
             |  NULLIF(CAST(strpos(p_type, 'BRASS') AS BIGINT), 0) AS brass_pos,
             |  lpad(CAST(p_partkey AS VARCHAR), 8, '0') AS padded
             |FROM part ORDER BY p_partkey""".stripMargin)),

    // ── LLM-training-data pipeline operators (documents/embeddings) ──
    // Every sketch below uses the PORTABLE hash (functions/Hashing.scala)
    // so the DuckDB oracle recomputes bit-identical signatures.

    // Exact dedup: one hash aggregate, map-side combine (Dedup.exact)
    QueryDef("q25_exact_dedup",
      (s, dir) => Dedup.exact(t(s, dir, "documents"), "text", "doc_id")
        .orderBy("content_hash"),
      Some("""SELECT md5(text) AS content_hash, min(doc_id) AS keep_id,
             |  count(*) AS n_copies
             |FROM documents GROUP BY md5(text)
             |ORDER BY content_hash""".stripMargin)),

    // MinHash signature → LSH bands (Dedup.lshBands, k=16, bands=4)
    QueryDef("q26_minhash_bands",
      (s, dir) => Dedup.lshBands(t(s, dir, "documents"), "doc_id", "text", 16, 4)
        .orderBy("doc_id", "band_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_distinct(list_filter(
             |    string_split_regex(text, ' +'), t -> t <> '')) AS tk
             |  FROM documents),
             |ph AS (
             |  SELECT doc_id, list_transform(tk, t ->
             |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 2147483647) AS h31
             |  FROM toks),
             |sig AS (
             |  SELECT doc_id, CASE WHEN len(h31) > 0 THEN
             |    list_transform(generate_series(0, 15), s ->
             |    list_min(list_transform(h31, h ->
             |      (((s*1103515245 + 12345) % 2147483647) * h
             |       + ((s*2654435761 + 1013904223) % 2147483647)) % 2147483647))) END AS sig
             |  FROM ph)
             |SELECT doc_id, band_id,
             |  md5(array_to_string(list_transform(
             |    list_slice(sig, band_id*4 + 1, band_id*4 + 4),
             |    x -> CAST(x AS VARCHAR)), ',')) AS band_hash
             |FROM sig, (SELECT unnest(generate_series(0, 3)) AS band_id) b
             |ORDER BY doc_id, band_id""".stripMargin)),

    // Blocked n-gram Jaccard near-dup pairs (Dedup.ngramJaccardPairs).
    // Threshold 0.7: the corpus is bimodal (true near-dups at J ≥ 0.89,
    // ambient at ≤ 0.06) and a realistic near-dup cutoff keeps the
    // prefix filter sharp (prefix length scales with 1 − t).
    QueryDef("q27_ngram_jaccard",
      (s, dir) => Dedup.ngramJaccardPairs(
        t(s, dir, "documents"), "doc_id", "text", "source", n = 3, threshold = 0.7)
        .orderBy("id_a", "id_b"),
      Some("""WITH sh AS (
             |  SELECT doc_id, source,
             |    list_distinct(list_transform(
             |      generate_series(1, greatest(len(tk) - 2, 0)),
             |      i -> array_to_string(list_slice(tk, i, i + 2), ' '))) AS sh
             |  FROM (SELECT doc_id, source, list_filter(
             |          string_split_regex(text, ' +'), t -> t <> '') AS tk
             |        FROM documents))
             |SELECT l.doc_id AS id_a, r.doc_id AS id_b,
             |  round(CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) /
             |        len(list_distinct(list_concat(l.sh, r.sh))), 4) AS jaccard
             |FROM sh l JOIN sh r ON l.source = r.source AND l.doc_id < r.doc_id
             |WHERE CAST(len(list_intersect(l.sh, r.sh)) AS DOUBLE) /
             |        len(list_distinct(list_concat(l.sh, r.sh))) >= 0.7
             |ORDER BY id_a, id_b""".stripMargin)),

    // Text quality/language/fingerprint signals (TextAnalysis.annotate).
    // The HEURISTIC lang leg: its per-doc labels replay in SQL below.
    // The trained-kernel default is covered per-doc by the hand-labeled
    // q411/q416/q420 fixtures (synthetic word-salad text has no true
    // language label to pin here — the trained model honestly says und).
    QueryDef("q28_text_signals",
      (s, dir) => t(s, dir, "documents")
        .transform(TextAnalysis.annotate("text", trainedLangId = false))
        .select("doc_id", "n_tokens", "type_token_ratio", "stopword_ratio",
          "lang_pred", "fingerprint", "quality")
        .orderBy("doc_id"),
      Some("""WITH tk AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(text, ' +'), t -> t <> '') AS tk
             |  FROM documents),
             |sig AS (
             |  SELECT doc_id, len(tk) AS n_tokens,
             |    CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS ttr,
             |    CAST(len(list_filter(tk, t -> t IN
             |      ('the','a','an','of','and','to','in','is'))) AS DOUBLE)
             |      / len(tk) AS swr,
             |    md5(array_to_string(list_sort(list_distinct(tk)), ' ')) AS fingerprint
             |  FROM tk)
             |SELECT doc_id, n_tokens,
             |  round(ttr, 4) AS type_token_ratio,
             |  round(swr, 4) AS stopword_ratio,
             |  CASE WHEN swr >= 0.05 THEN 'en' ELSE 'other' END AS lang_pred,
             |  fingerprint,
             |  round((CASE WHEN n_tokens BETWEEN 5 AND 10000 THEN 1.0 ELSE 0.0 END
             |         + ttr
             |         + CASE WHEN swr > 0 THEN 1.0 ELSE 0.0 END) / 3.0, 4) AS quality
             |FROM sig ORDER BY doc_id""".stripMargin)),

    // Exact cosine top-k ANN baseline (Similarity.bruteForceTopK)
    QueryDef("q29_cosine_topk",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.bruteForceTopK(
          emb, emb.filter(col("vec_id") < 5), "vec_id", "embedding", k = 3)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
             |           FROM embeddings WHERE vec_id < 5),
             |c AS (SELECT vec_id AS neighbor_id, embedding AS cvec FROM embeddings),
             |${cosineTop3Sql("c, q WHERE neighbor_id <> query_id")}""".stripMargin)),

    // 60-bit SimHash signatures (Dedup.simhash)
    QueryDef("q30_simhash",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"), Dedup.simhash(col("text"), 60).as("simhash"))
        .orderBy("doc_id"),
      Some("""WITH toks AS (
             |  SELECT doc_id, list_distinct(list_filter(
             |    string_split_regex(text, ' +'), t -> t <> '')) AS tk
             |  FROM documents),
             |h AS (SELECT doc_id, list_transform(tk, t ->
             |        CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs
             |      FROM toks)
             |SELECT doc_id, CASE WHEN len(hs) > 0 THEN
             |  CAST(list_sum(list_transform(generate_series(0, 59), b ->
             |  CASE WHEN list_sum(list_transform(hs, x ->
             |         CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
             |       THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT)
             |  END)) AS BIGINT) END AS simhash
             |FROM h ORDER BY doc_id""".stripMargin)),

    // Embedding near-dup pairs blocked by label (Similarity.cosineNearDupPairs)
    QueryDef("q31_cosine_neardups",
      (s, dir) => Similarity.cosineNearDupPairs(
        t(s, dir, "embeddings"), "vec_id", "embedding", "label", threshold = 0.2)
        .orderBy("id_a", "id_b"),
      Some("""WITH v AS (SELECT vec_id, label, embedding AS v FROM embeddings),
             |p AS (
             |  SELECT l.vec_id AS id_a, r.vec_id AS id_b,
             |    round(
             |      list_sum(list_transform(l.v, (x, i) ->
             |        CAST(x AS DOUBLE) * CAST(r.v[i] AS DOUBLE))) /
             |      (sqrt(list_sum(list_transform(l.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
             |       sqrt(list_sum(list_transform(r.v, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))), 4) AS cos
             |  FROM v l JOIN v r ON l.label = r.label AND l.vec_id < r.vec_id)
             |SELECT id_a, id_b, cos FROM p WHERE cos >= 0.2
             |ORDER BY id_a, id_b""".stripMargin)),

    // X gas/oil fuel classification (`GasOilplants_GEM.R:20-42`):
    // substring positions decide; earlier match wins when both appear.
    QueryDef("q33_fuel_classify",
      (s, dir) => t(s, dir, "part")
        .withColumn("Fuel",
          when(pmod(col("p_partkey"), lit(4)) === 0, "Fossil Gas: combined cycle")
            .when(pmod(col("p_partkey"), lit(4)) === 1, "fossil liquids: fuel oil")
            .when(pmod(col("p_partkey"), lit(4)) === 2, "mix: fossil liquids then fossil gas")
            .otherwise("hydrogen"))
        .transform(GemPipeline.classifyFuel("Fuel"))
        .groupBy("classification").agg(count(lit(1)).as("n"))
        .orderBy("classification"),
      Some("""WITH f AS (
             |  SELECT CASE p_partkey % 4
             |    WHEN 0 THEN 'Fossil Gas: combined cycle'
             |    WHEN 1 THEN 'fossil liquids: fuel oil'
             |    WHEN 2 THEN 'mix: fossil liquids then fossil gas'
             |    ELSE 'hydrogen' END AS fuel FROM part),
             |p AS (SELECT NULLIF(strpos(lower(fuel), 'fossil gas'), 0) AS pg,
             |             NULLIF(strpos(lower(fuel), 'fossil liquids'), 0) AS pl FROM f)
             |SELECT CASE
             |    WHEN pg IS NOT NULL AND pl IS NULL THEN 'Gas Power Plant'
             |    WHEN pg IS NULL AND pl IS NOT NULL THEN 'Oil Power Plant'
             |    WHEN pg IS NOT NULL AND pl IS NOT NULL THEN
             |      CASE WHEN pg < pl THEN 'Gas Power Plant' ELSE 'Oil Power Plant' END
             |    ELSE 'Not Sure' END AS classification, count(*) AS n
             |FROM p GROUP BY 1 ORDER BY classification""".stripMargin)),

    // G3 binational row duplication (`Hydroplants_GEM.R:23-74`)
    QueryDef("q34_binational",
      (s, dir) => {
        val k = col("s_suppkey")
        val raw = t(s, dir, "supplier").select(
          concat(lit("U"), k).as("GEM unit ID"),
          concat(lit("L"), k).as("GEM location ID"),
          when(pmod(k, lit(10)) === 0, "Yes").otherwise("No").as("Binational"),
          concat(lit("C"), pmod(k, lit(7))).as("Country 1"),
          when(pmod(k, lit(10)) === 0, concat(lit("C"), pmod(k, lit(5))))
            .otherwise(lit(null).cast("string")).as("Country 2"),
          col("s_acctbal").cast("string").as("Country 1 Capacity (MW)"),
          when(pmod(k, lit(10)) === 0, (col("s_acctbal") / 2).cast("string"))
            .otherwise(lit(null).cast("string")).as("Country 2 Capacity (MW)"))
        GemPipeline.expandBinational("Binational",
          idCols = Seq("GEM location ID", "GEM unit ID"),
          promote = Seq(
            "Country 1" -> "Country 2",
            "Country 1 Capacity (MW)" -> "Country 2 Capacity (MW)"))(raw)
          .select(col("GEM unit ID").as("unit_id"), col("Country 1").as("country"),
            col("Country 1 Capacity (MW)").as("capacity"), col("Country 2").as("country2"))
          .orderBy("unit_id")
      },
      Some("""WITH raw AS (
             |  SELECT 'U' || CAST(s_suppkey AS VARCHAR) AS uid,
             |    CASE WHEN s_suppkey % 10 = 0 THEN 'Yes' ELSE 'No' END AS bin,
             |    'C' || CAST(s_suppkey % 7 AS VARCHAR) AS c1,
             |    CASE WHEN s_suppkey % 10 = 0
             |      THEN 'C' || CAST(s_suppkey % 5 AS VARCHAR) END AS c2,
             |    CAST(s_acctbal AS VARCHAR) AS cap1,
             |    CASE WHEN s_suppkey % 10 = 0
             |      THEN CAST(s_acctbal / 2 AS VARCHAR) END AS cap2
             |  FROM supplier)
             |SELECT uid AS unit_id, c1 AS country, cap1 AS capacity, c2 AS country2
             |FROM raw WHERE bin = 'No'
             |UNION ALL
             |SELECT uid, c1, cap1, NULL FROM raw WHERE bin = 'Yes'
             |UNION ALL
             |SELECT uid || '_2', c2, cap2, NULL FROM raw WHERE bin = 'Yes'
             |ORDER BY unit_id""".stripMargin)),

    // The WHOLE per-tracker pipeline end-to-end (gas/oil config:
    // classify → filters → clean → canonicalize → ownership split →
    // year expansion → rollup → 19-col finalize with bundled ISO dim).
    QueryDef("q35_tracker_e2e",
      (s, dir) => {
        val k = col("s_suppkey")
        val raw = t(s, dir, "supplier")
          .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
          .select(
            concat(lit("U"), k).as("GEM unit ID"),
            concat(lit("L"), expr("s_suppkey div 4")).as("GEM location ID"),
            concat(lit("Plant "), expr("s_suppkey div 4")).as("Plant name"),
            elt(pmod(col("n_nationkey"), lit(8)) + 1,
              lit("Germany"), lit("France"), lit("China"), lit("India"),
              lit("Kosovo"), lit("United States"), lit("Brazil"), lit("Atlantis"))
              .as("Country/Area"),
            concat(lit("Region "), col("n_regionkey")).as("Region"),
            when(pmod(k, lit(4)) === 0, lit("Alpha Corp [60%]; Beta GmbH [40%]"))
              .when(pmod(k, lit(4)) === 1, concat(col("s_name"), lit(" [50%]; Gamma Inc")))
              .when(pmod(k, lit(4)) === 2, concat(col("s_name"), lit(" [100%]")))
              .otherwise(lit(null).cast("string")).as("Owner(s)"),
            when(pmod(k, lit(13)) === 0, lit("unknown"))
              .when(pmod(k, lit(17)) === 0, lit(">0"))
              .when(pmod(k, lit(19)) === 0, lit("N/A"))
              .otherwise(col("s_acctbal").cast("string")).as("Capacity (MW)"),
            element_at(array(lit("operating"), lit("construction"), lit("announced"),
              lit("pre-construction"), lit("retired")), (pmod(k, lit(5)) + 1).cast("int"))
              .as("Status"),
            when(pmod(k, lit(7)) === 0, lit("not found"))
              .otherwise((lit(1990) + pmod(k, lit(45))).cast("string")).as("Start year"),
            when(pmod(k, lit(6)) === 0, (lit(2015) + pmod(k, lit(30))).cast("string"))
              .otherwise(lit(null).cast("string")).as("Planned retire"),
            (pmod(k, lit(180)) - 90 + pmod(k, lit(3)) * 0.25).cast("double").as("Latitude"),
            (pmod(k, lit(360)) - 180 + pmod(k, lit(3)) * 0.25).cast("double").as("Longitude"),
            element_at(array(lit("Fossil Gas: combined cycle"),
              lit("fossil liquids: fuel oil"),
              lit("mix: fossil liquids then fossil gas"), lit("hydrogen")),
              (pmod(k, lit(4)) + 1).cast("int")).as("Fuel"))
        GemPipeline.wrangle(TrackerConfigs.gasOil)(raw)
          .transform(GemPipeline.finalizeSchema(TrackerConfigs.gasOil, CountryDim.dim(s)))
          .orderBy(col("asset_id"), col("company_name").asc_nulls_first,
            col("production_year"), col("country_name"), col("technology"))
      },
      Some("""WITH raw AS (
             |  SELECT
             |    'U' || CAST(s_suppkey AS VARCHAR) AS unit_id,
             |    'L' || CAST(s_suppkey // 4 AS VARCHAR) AS loc_id,
             |    'Plant ' || CAST(s_suppkey // 4 AS VARCHAR) AS plant,
             |    CASE n_nationkey % 8 WHEN 0 THEN 'Germany' WHEN 1 THEN 'France'
             |      WHEN 2 THEN 'China' WHEN 3 THEN 'India' WHEN 4 THEN 'Kosovo'
             |      WHEN 5 THEN 'United States' WHEN 6 THEN 'Brazil'
             |      ELSE 'Atlantis' END AS country,
             |    'Region ' || CAST(n_regionkey AS VARCHAR) AS region,
             |    CASE s_suppkey % 4
             |      WHEN 0 THEN 'Alpha Corp [60%]; Beta GmbH [40%]'
             |      WHEN 1 THEN s_name || ' [50%]; Gamma Inc'
             |      WHEN 2 THEN s_name || ' [100%]'
             |      ELSE NULL END AS owner,
             |    CASE WHEN s_suppkey % 13 = 0 THEN 'unknown'
             |      WHEN s_suppkey % 17 = 0 THEN '>0'
             |      WHEN s_suppkey % 19 = 0 THEN 'N/A'
             |      ELSE CAST(s_acctbal AS VARCHAR) END AS cap,
             |    (['operating','construction','announced','pre-construction','retired'])[s_suppkey % 5 + 1] AS status,
             |    CASE WHEN s_suppkey % 7 = 0 THEN 'not found'
             |      ELSE CAST(1990 + s_suppkey % 45 AS VARCHAR) END AS start_y,
             |    CASE WHEN s_suppkey % 6 = 0
             |      THEN CAST(2015 + s_suppkey % 30 AS VARCHAR) END AS retire_y,
             |    CAST(s_suppkey % 180 - 90 + (s_suppkey % 3) * CAST(0.25 AS DOUBLE) AS DOUBLE) AS lat,
             |    CAST(s_suppkey % 360 - 180 + (s_suppkey % 3) * CAST(0.25 AS DOUBLE) AS DOUBLE) AS lon,
             |    (['Fossil Gas: combined cycle','fossil liquids: fuel oil','mix: fossil liquids then fossil gas','hydrogen'])[s_suppkey % 4 + 1] AS fuel
             |  FROM supplier JOIN nation ON s_nationkey = n_nationkey),
             |cls AS (
             |  SELECT *, CASE
             |    WHEN pg IS NOT NULL AND pl IS NULL THEN 'Gas Power Plant'
             |    WHEN pg IS NULL AND pl IS NOT NULL THEN 'Oil Power Plant'
             |    WHEN pg IS NOT NULL AND pl IS NOT NULL THEN
             |      CASE WHEN pg < pl THEN 'Gas Power Plant' ELSE 'Oil Power Plant' END
             |    ELSE 'Not Sure' END AS classification
             |  FROM (SELECT *, NULLIF(strpos(lower(fuel), 'fossil gas'), 0) AS pg,
             |               NULLIF(strpos(lower(fuel), 'fossil liquids'), 0) AS pl FROM raw)),
             |f1 AS (SELECT * FROM cls
             |  WHERE classification IN ('Gas Power Plant', 'Oil Power Plant')
             |    AND status IN ('construction', 'operating', 'announced', 'pre-construction')),
             |f2 AS (SELECT * REPLACE (CASE WHEN cap = '>0' THEN 'unknown' ELSE cap END AS cap) FROM f1),
             |f3 AS (SELECT * FROM f2
             |  WHERE NOT (cap IN ('unknown', 'N/A', 'not found') OR cap IS NULL OR cap = '0')),
             |f4 AS (SELECT * FROM f3
             |  WHERE NOT (status IN ('announced', 'construction', 'pre-construction')
             |    AND (start_y IN ('unknown', 'not found') OR start_y IS NULL))),
             |num AS (SELECT *, TRY_CAST(cap AS DOUBLE) AS capn,
             |    TRY_CAST(start_y AS DOUBLE) AS startn,
             |    TRY_CAST(retire_y AS DOUBLE) AS retiren FROM f4),
             |summ AS (SELECT loc_id,
             |    CASE WHEN count(DISTINCT (lat, lon)) > 1 THEN avg(lat) ELSE min(lat) END AS clat,
             |    CASE WHEN count(DISTINCT (lat, lon)) > 1 THEN avg(lon) ELSE min(lon) END AS clon
             |  FROM num GROUP BY loc_id),
             |canon AS (SELECT num.* EXCLUDE (lat, lon), s.clat AS lat, s.clon AS lon
             |  FROM num LEFT JOIN summ s USING (loc_id)),
             |f5 AS (SELECT * FROM canon WHERE retiren IS NULL OR retiren >= 2024),
             |tech AS (SELECT *, CASE WHEN classification = 'Gas Power Plant' THEN 'GasCap'
             |    WHEN classification = 'Oil Power Plant' THEN 'OilCap'
             |    ELSE 'CoalCap' END AS technology FROM f5),
             |own AS (SELECT t.*, u.ow FROM tech t,
             |  unnest(coalesce(string_split_regex(t.owner, ';\s*'),
             |                  [CAST(NULL AS VARCHAR)])) AS u(ow)),
             |owns AS (SELECT *,
             |    NULLIF(trim(regexp_extract(ow, '^([^\[]+)', 1)), '') AS company,
             |    TRY_CAST(NULLIF(regexp_extract(ow, '(\d+)%', 1), '') AS DOUBLE) / 100 AS share
             |  FROM own),
             |alloc AS (SELECT *, capn * share AS cap_alloc FROM owns),
             |ex AS (SELECT a.*, y.year FROM alloc a
             |  CROSS JOIN (SELECT unnest(generate_series(2023, 2050)) AS year) y),
             |val AS (SELECT *, CASE
             |    WHEN startn IS NOT NULL AND year < startn THEN 0.0
             |    WHEN retiren IS NOT NULL AND year >= retiren THEN 0.0
             |    ELSE cap_alloc END AS value FROM ex),
             |roll AS (SELECT loc_id, plant, country, region, lat, lon, technology,
             |    company, year, coalesce(sum(value), 0.0) AS capacity
             |  FROM val GROUP BY loc_id, plant, country, region, lat, lon,
             |    technology, company, year)
             |""".stripMargin + gemFinalizeSql + """
             |ORDER BY asset_id, company_name NULLS FIRST, production_year,
             |  country_name, technology""".stripMargin)),

    // The cross-tracker totals job (`TotalData_GEM.R:6-148`): union →
    // company ids → steel overlay → emission factors → non-fossil zero.
    QueryDef("q36_totals",
      (s, dir) => {
        val n = col("n_nationkey")
        def finalCols(first: Seq[org.apache.spark.sql.Column], technology: String,
            capacity: org.apache.spark.sql.Column) = first ++ Seq(
          lit(null).cast("double").as("workforce_size"),
          lit(null).cast("string").as("workforce_source"),
          lit("Power").as("sector"),
          lit(technology).as("technology"),
          capacity.as("capacity"),
          lit("MW").as("capacity_unit"),
          lit(2030).as("production_year"),
          lit(null).cast("double").as("plant_age_years"),
          lit(null).cast("double").as("plant_age_rank"),
          lit(null).cast("double").as("capacity_factor"),
          lit(null).cast("double").as("emission_factor"))
        val trackerA = t(s, dir, "nation").select(finalCols(Seq(
          concat(lit("A"), n).as("asset_id"),
          concat(lit("Asset "), n).as("asset_name"),
          lit(null).cast("string").as("company_id"),
          concat(lit("Comp"), pmod(n, lit(6))).as("company_name"),
          elt(pmod(n, lit(4)) + 1, lit("DE"), lit("FR"), lit("CN"), lit("JP")).as("country_iso2"),
          elt(pmod(n, lit(4)) + 1, lit("Germany"), lit("France"), lit("China"), lit("Japan")).as("country_name"),
          concat(lit("Region "), col("n_regionkey")).as("region"),
          lit("50.0, 8.0").as("coordinates")), "CoalCap", (n * 10.0)): _*)
        val r = col("r_regionkey")
        val trackerB = t(s, dir, "region").select(finalCols(Seq(
          concat(lit("B"), r).as("asset_id"),
          concat(lit("BAsset "), r).as("asset_name"),
          lit(null).cast("string").as("company_id"),
          concat(lit("Comp"), pmod(r, lit(6))).as("company_name"),
          lit("DE").as("country_iso2"),
          lit("Germany").as("country_name"),
          concat(lit("Region "), r).as("region"),
          lit("51.0, 9.0").as("coordinates")), "RenewablesCap", (r * 100.0)): _*)
        val steel = t(s, dir, "region").select(finalCols(Seq(
          concat(lit("S"), r).as("asset_id"),
          concat(lit("Steel "), r).as("asset_name"),
          concat(lit("STL"), r).as("company_id"),
          concat(lit("Comp"), pmod(r, lit(6))).as("company_name"),
          lit("US").as("country_iso2"),
          lit("United States").as("country_name"),
          concat(lit("Region "), r).as("region"),
          lit("40.0, -75.0").as("coordinates")), "SteelCap", (r * 7.0)): _*)
        val factors = t(s, dir, "nation").select(
          elt(pmod(n, lit(2)) + 1, lit("CoalCap"), lit("GasCap")).as("technology"),
          elt(pmod(n, lit(3)) + 1, lit("DE"), lit("FR"), lit("CN")).as("country_iso2"),
          (n + 1.0).as("emissions_factor"))
        GemPipeline.totals(Seq(trackerA, trackerB), steel, factors)
          .orderBy("asset_id")
      },
      Some("""WITH ta AS (
             |  SELECT 'A' || CAST(n_nationkey AS VARCHAR) AS asset_id,
             |    'Asset ' || CAST(n_nationkey AS VARCHAR) AS asset_name,
             |    CAST(NULL AS VARCHAR) AS company_id,
             |    'Comp' || CAST(n_nationkey % 6 AS VARCHAR) AS company_name,
             |    (['DE','FR','CN','JP'])[n_nationkey % 4 + 1] AS country_iso2,
             |    (['Germany','France','China','Japan'])[n_nationkey % 4 + 1] AS country_name,
             |    'Region ' || CAST(n_regionkey AS VARCHAR) AS region,
             |    '50.0, 8.0' AS coordinates, CAST(NULL AS DOUBLE) AS workforce_size,
             |    CAST(NULL AS VARCHAR) AS workforce_source, 'Power' AS sector,
             |    'CoalCap' AS technology, n_nationkey * 10.0 AS capacity,
             |    'MW' AS capacity_unit, 2030 AS production_year,
             |    CAST(NULL AS DOUBLE) AS plant_age_years,
             |    CAST(NULL AS DOUBLE) AS plant_age_rank,
             |    CAST(NULL AS DOUBLE) AS capacity_factor,
             |    CAST(NULL AS DOUBLE) AS emission_factor
             |  FROM nation),
             |tb AS (
             |  SELECT 'B' || CAST(r_regionkey AS VARCHAR) AS asset_id,
             |    'BAsset ' || CAST(r_regionkey AS VARCHAR) AS asset_name,
             |    CAST(NULL AS VARCHAR) AS company_id,
             |    'Comp' || CAST(r_regionkey % 6 AS VARCHAR) AS company_name,
             |    'DE' AS country_iso2, 'Germany' AS country_name,
             |    'Region ' || CAST(r_regionkey AS VARCHAR) AS region,
             |    '51.0, 9.0' AS coordinates, CAST(NULL AS DOUBLE) AS workforce_size,
             |    CAST(NULL AS VARCHAR) AS workforce_source, 'Power' AS sector,
             |    'RenewablesCap' AS technology, r_regionkey * 100.0 AS capacity,
             |    'MW' AS capacity_unit, 2030 AS production_year,
             |    CAST(NULL AS DOUBLE) AS plant_age_years,
             |    CAST(NULL AS DOUBLE) AS plant_age_rank,
             |    CAST(NULL AS DOUBLE) AS capacity_factor,
             |    CAST(NULL AS DOUBLE) AS emission_factor
             |  FROM region),
             |steel AS (
             |  SELECT 'S' || CAST(r_regionkey AS VARCHAR) AS asset_id,
             |    'Steel ' || CAST(r_regionkey AS VARCHAR) AS asset_name,
             |    'STL' || CAST(r_regionkey AS VARCHAR) AS company_id,
             |    'Comp' || CAST(r_regionkey % 6 AS VARCHAR) AS company_name,
             |    'US' AS country_iso2, 'United States' AS country_name,
             |    'Region ' || CAST(r_regionkey AS VARCHAR) AS region,
             |    '40.0, -75.0' AS coordinates, CAST(NULL AS DOUBLE) AS workforce_size,
             |    CAST(NULL AS VARCHAR) AS workforce_source, 'Power' AS sector,
             |    'SteelCap' AS technology, r_regionkey * 7.0 AS capacity,
             |    'MW' AS capacity_unit, 2030 AS production_year,
             |    CAST(NULL AS DOUBLE) AS plant_age_years,
             |    CAST(NULL AS DOUBLE) AS plant_age_rank,
             |    CAST(NULL AS DOUBLE) AS capacity_factor,
             |    CAST(NULL AS DOUBLE) AS emission_factor
             |  FROM region),
             |unioned AS (SELECT * FROM ta UNION ALL SELECT * FROM tb),
             |iddim AS (
             |  SELECT company_name,
             |    'TFL' || lpad(CAST(dense_rank() OVER (ORDER BY company_name)
             |      + 10000000 AS VARCHAR), 8, '0') AS new_id
             |  FROM (SELECT DISTINCT company_name FROM unioned
             |        WHERE company_name IS NOT NULL)),
             |withids AS (
             |  SELECT u.* REPLACE (coalesce(u.company_id, d.new_id) AS company_id)
             |  FROM unioned u LEFT JOIN iddim d USING (company_name)),
             |steeldim AS (
             |  SELECT company_name, company_id AS steel_id FROM (
             |    SELECT company_name, company_id,
             |      row_number() OVER (PARTITION BY company_name ORDER BY asset_id) AS rn
             |    FROM steel) WHERE rn = 1),
             |overlaid AS (
             |  SELECT w.* REPLACE (coalesce(sd.steel_id, w.company_id) AS company_id)
             |  FROM withids w LEFT JOIN steeldim sd USING (company_name)
             |  UNION ALL SELECT * FROM steel),
             |factors AS (
             |  SELECT (['CoalCap','GasCap'])[n_nationkey % 2 + 1] AS technology,
             |    (['DE','FR','CN'])[n_nationkey % 3 + 1] AS country_iso2,
             |    n_nationkey + 1.0 AS emissions_factor
             |  FROM nation),
             |percountry AS (
             |  SELECT technology, country_iso2, avg(emissions_factor) AS ef_country
             |  FROM factors GROUP BY 1, 2),
             |globalmean AS (
             |  SELECT technology, avg(ef_country) AS ef_global
             |  FROM percountry GROUP BY 1)
             |SELECT o.* REPLACE (
             |    CASE WHEN o.technology IN ('CoalCap', 'OilCap', 'GasCap')
             |      THEN coalesce(pc.ef_country, g.ef_global)
             |      ELSE 0.0 END AS emission_factor)
             |FROM overlaid o
             |LEFT JOIN percountry pc
             |  ON o.technology = pc.technology AND o.country_iso2 = pc.country_iso2
             |LEFT JOIN globalmean g ON o.technology = g.technology
             |ORDER BY asset_id""".stripMargin)),

    // S2/S3 CSV sink + source round-trip, incl. the sep=';' variant
    // (`TotalData_GEM.R:65`, `Coalplants_GEM.R:229`).
    QueryDef("q37_csv_roundtrip",
      (s, dir) => {
        val tmp = sys.props("java.io.tmpdir") + "/graft_csv_roundtrip"
        Csv.write(
          t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"),
          tmp, sep = ";")
        Csv.read(s, tmp, sep = ";", schema = Some(StructType.fromDDL(
          "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE")))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 2).as("total"))
          .orderBy(col("o_orderstatus").asc_nulls_first)
      },
      Some("""SELECT o_orderstatus, count(*) AS n,
             |  round(sum(o_totalprice), 2) AS total
             |FROM orders GROUP BY o_orderstatus
             |ORDER BY o_orderstatus NULLS FIRST""".stripMargin)),

    // X4 ownership display rebuild + strip (`Hydroplants_GEM.R:159-202`)
    QueryDef("q38_owner_display",
      (s, dir) => t(s, dir, "part")
        .withColumn("Owner",
          when(pmod(col("p_partkey"), lit(3)) === 0,
            concat(col("p_brand"), lit("; "), col("p_type")))
            .when(pmod(col("p_partkey"), lit(3)) === 1,
              concat(col("p_brand"), lit(" [60%]; "), col("p_type"), lit(" [40%]")))
            .otherwise(col("p_brand")))
        .transform(Ownership.splitWithDisplay("Owner", "p_retailprice"))
        .select(col("p_partkey"), col("Owner").as("owner_clean"),
          col("Company").as("company"), round(col("Ownership"), 4).as("share"),
          round(col("Capacity_allocated"), 2).as("alloc"))
        .orderBy("p_partkey", "company"),
      Some("""WITH o AS (
             |  SELECT p_partkey, p_retailprice,
             |    CASE WHEN p_partkey % 3 = 0 THEN p_brand || '; ' || p_type
             |         WHEN p_partkey % 3 = 1 THEN p_brand || ' [60%]; ' || p_type || ' [40%]'
             |         ELSE p_brand END AS owners
             |  FROM part),
             |e AS (SELECT p_partkey, p_retailprice,
             |             len(string_split_regex(owners, ';\s*')) AS n,
             |             unnest(string_split_regex(owners, ';\s*')) AS ow FROM o),
             |sh AS (SELECT *,
             |    NULLIF(trim(regexp_extract(ow, '^([^\[]+)', 1)), '') AS company,
             |    NULLIF(regexp_extract(ow, '\[(\d+)%\]', 1), '') AS provided FROM e),
             |c AS (SELECT *, coalesce(CAST(provided AS DOUBLE) / 100, 1.0 / n) AS share,
             |             round(coalesce(CAST(provided AS DOUBLE) / 100, 1.0 / n) * 100, 2) AS pct
             |  FROM sh),
             |disp AS (SELECT *, CASE WHEN provided IS NULL AND company IS NOT NULL
             |    THEN company || ' [' ||
             |      (CASE WHEN pct = floor(pct) THEN CAST(CAST(pct AS BIGINT) AS VARCHAR)
             |            ELSE CAST(pct AS VARCHAR) END) || '%]'
             |    ELSE ow END AS display FROM c)
             |SELECT p_partkey,
             |  regexp_replace(display, ' ?\[[0-9]+(\.[0-9]+)?%\]', '') AS owner_clean,
             |  company, round(share, 4) AS share,
             |  round(p_retailprice * share, 2) AS alloc
             |FROM disp ORDER BY p_partkey, company""".stripMargin)),

    // SimHash banded Hamming near-dup join (Dedup.simhashNearDups)
    QueryDef("q39_simhash_neardups",
      (s, dir) => Dedup.simhashNearDups(t(s, dir, "documents"), "doc_id", "text")
        .orderBy("id_a", "id_b"),
      Some("WITH " + simhashCandCtes("", "TRUE") + "\n" +
        """SELECT id_a, id_b, bit_count(xor(sa, sb)) AS hamming
          |FROM cand WHERE bit_count(xor(sa, sb)) <= 3
          |ORDER BY id_a, id_b""".stripMargin)),

    // BPE-ish regex tokenizer + rolling (order-sensitive) fingerprint
    QueryDef("q40_text_fingerprints",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          size(TextAnalysis.regexTokens(col("text"))).as("n_bpe_tokens"),
          TextAnalysis.tokenCount(col("text")).as("n_ws_tokens"),
          TextAnalysis.rollingFingerprint(col("text")).as("rolling_fp"))
        .orderBy("doc_id"),
      Some("""WITH tk AS (
             |  SELECT doc_id, text, list_filter(
             |    string_split_regex(text, ' +'), t -> t <> '') AS ws
             |  FROM documents)
             |SELECT doc_id,
             |  len(regexp_extract_all(text, '[A-Za-z0-9_]+|[^A-Za-z0-9_\s]')) AS n_bpe_tokens,
             |  len(ws) AS n_ws_tokens,
             |  list_reduce(
             |    list_prepend(CAST(0 AS BIGINT), list_transform(ws, t ->
             |      CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 2147483647)),
             |    (acc, x) -> (acc * 1000003 + x) % 2147483647) AS rolling_fp
             |FROM tk ORDER BY doc_id""".stripMargin)),

    // Multimodal plumbing: binary payload + stub decode + frame sampling
    // (Multimodal.asMediaTable/decodeMeta/sampleFrames — the decode stub
    // is deterministic byte math, so even IT is oracle-checked).
    QueryDef("q41_multimodal_meta",
      (s, dir) => {
        val media = Multimodal.asMediaTable(t(s, dir, "documents"), "doc_id", "text", "video")
        val meta = Multimodal.decodeMeta(s, media)
        val frames = Multimodal.sampleFrames(meta, everyMs = 5000)
          .groupBy("id").agg(count(lit(1)).as("n_frames"))
        meta.toDF()
          .select(col("id"), col("nBytes").as("n_bytes"), col("width"),
            col("height"), col("durationMs").as("duration_ms"))
          .join(frames, Seq("id"))
          .orderBy("id")
      },
      Some("""WITH m AS (
             |  SELECT doc_id AS id,
             |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |    64 + (ascii(substr(text, 1, 1)) % 64) AS width,
             |    64 + (ascii(substr(text, length(text), 1)) % 64) AS height,
             |    CAST(octet_length(encode(text)) * 10 AS BIGINT) AS duration_ms
             |  FROM documents)
             |SELECT id, n_bytes, width, height, duration_ms,
             |  CAST(duration_ms // 5000 + 1 AS BIGINT) AS n_frames
             |FROM m ORDER BY id""".stripMargin)),

    // X11 banker's rounding (bround ≡ R round) vs HALF_UP, on exact
    // binary ties (quantity/8 steps of .125).
    QueryDef("q42_bankers_round",
      (s, dir) => t(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          bround(col("l_quantity") / 8, 2).as("bankers"),
          round(col("l_quantity") / 8, 2).as("half_up"))
        .orderBy("l_orderkey", "l_linenumber", "l_quantity"),
      Some("""SELECT l_orderkey, l_linenumber, l_quantity,
             |  round_even(l_quantity / 8, 2) AS bankers,
             |  round(l_quantity / 8, 2) AS half_up
             |FROM lineitem
             |ORDER BY l_orderkey, l_linenumber, l_quantity""".stripMargin)),

    // THE capstone: two real tracker configs (coal strict + hydro with
    // G3 binational expansion and equal-share ownership) wrangled end to
    // end, finalized, and pushed through the cross-tracker totals job
    // (`TotalData_GEM.R:6-148`) — company ids, steel overlay, emission
    // factors, non-fossil zeroing.
    QueryDef("q43_multi_tracker_totals",
      (s, dir) => {
        val k = col("s_suppkey")
        val coalRaw = t(s, dir, "supplier")
          .join(t(s, dir, "nation"), col("s_nationkey") === col("n_nationkey"))
          .select(
            concat(lit("CU"), k).as("GEM unit/phase ID"),
            concat(lit("CL"), expr("s_suppkey div 4")).as("GEM location ID"),
            concat(lit("CPlant "), expr("s_suppkey div 4")).as("Plant name"),
            elt(pmod(col("n_nationkey"), lit(4)) + 1,
              lit("Germany"), lit("France"), lit("Kosovo"), lit("Atlantis"))
              .as("Country/Area"),
            concat(lit("Region "), col("n_regionkey")).as("Region"),
            when(pmod(k, lit(3)) === 0, lit("Alpha Corp [60%]; Beta GmbH [40%]"))
              .when(pmod(k, lit(3)) === 1, concat(col("s_name"), lit(" [100%]")))
              .otherwise(col("s_name")).as("Owner"),
            when(pmod(k, lit(13)) === 0, lit("unknown"))
              .otherwise(col("s_acctbal").cast("string")).as("Capacity (MW)"),
            element_at(array(lit("operating"), lit("construction"), lit("announced"),
              lit("pre-construction"), lit("retired")), (pmod(k, lit(5)) + 1).cast("int"))
              .as("Status"),
            when(pmod(k, lit(7)) === 0, lit("not found"))
              .otherwise((lit(1990) + pmod(k, lit(45))).cast("string")).as("Start year"),
            when(pmod(k, lit(6)) === 0, (lit(2015) + pmod(k, lit(30))).cast("string"))
              .otherwise(lit(null).cast("string")).as("Planned retirement"),
            pmod(k, lit(50)).cast("string").as("Plant age (years)"),
            (pmod(k, lit(180)) - 90 + pmod(k, lit(3)) * 0.25).cast("double").as("Latitude"),
            (pmod(k, lit(360)) - 180 + pmod(k, lit(3)) * 0.25).cast("double").as("Longitude"))
        val coalFin = GemPipeline.wrangle(TrackerConfigs.coal)(coalRaw)
          .transform(GemPipeline.finalizeSchema(TrackerConfigs.coal, CountryDim.dim(s)))

        val c = col("c_custkey")
        val hydroRaw = t(s, dir, "customer")
          .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
          .select(
            concat(lit("HU"), c).as("GEM unit ID"),
            concat(lit("HL"), expr("c_custkey div 2")).as("GEM location ID"),
            concat(lit("HPlant "), expr("c_custkey div 2")).as("Project Name"),
            elt(pmod(col("n_nationkey"), lit(4)) + 1,
              lit("Germany"), lit("France"), lit("Kosovo"), lit("Atlantis"))
              .as("Country 1"),
            when(pmod(c, lit(9)) === 0,
              elt(pmod(col("n_nationkey"), lit(3)) + 1,
                lit("India"), lit("China"), lit("Brazil")))
              .otherwise(lit(null).cast("string")).as("Country 2"),
            when(pmod(c, lit(9)) === 0, "Yes").otherwise("No").as("Binational"),
            concat(lit("Region "), col("n_regionkey")).as("Region 1"),
            when(pmod(c, lit(9)) === 0, concat(lit("Region2 "), col("n_regionkey")))
              .otherwise(lit(null).cast("string")).as("Region 2"),
            when(pmod(c, lit(4)) === 0, lit("Gamma Inc; Delta LLC"))
              .when(pmod(c, lit(4)) === 1, concat(col("c_name"), lit(" [50%]; Epsilon AG")))
              .otherwise(col("c_name")).as("Owner"),
            when(pmod(c, lit(11)) === 0, lit(">0"))
              .otherwise(col("c_acctbal").cast("string")).as("Country 1 Capacity (MW)"),
            when(pmod(c, lit(9)) === 0, (col("c_acctbal") / 2).cast("string"))
              .otherwise(lit(null).cast("string")).as("Country 2 Capacity (MW)"),
            element_at(array(lit("operating"), lit("construction"), lit("announced"),
              lit("pre-construction"), lit("retired")), (pmod(c, lit(5)) + 1).cast("int"))
              .as("Status"),
            when(pmod(c, lit(7)) === 0, lit("not found"))
              .otherwise((lit(1995) + pmod(c, lit(30))).cast("string")).as("Start Year"),
            when(pmod(c, lit(8)) === 0, (lit(2010) + pmod(c, lit(25))).cast("string"))
              .otherwise(lit(null).cast("string")).as("Retired Year"),
            (pmod(c, lit(170)) - 85 + pmod(c, lit(3)) * 0.25).cast("double").as("Latitude"),
            (pmod(c, lit(350)) - 175 + pmod(c, lit(3)) * 0.25).cast("double").as("Longitude"))
        val hydroFin = GemPipeline.wrangle(TrackerConfigs.hydro)(hydroRaw)
          .transform(GemPipeline.finalizeSchema(TrackerConfigs.hydro, CountryDim.dim(s)))

        val r = col("r_regionkey")
        val steel = t(s, dir, "region").select(
          concat(lit("S"), r).as("asset_id"),
          concat(lit("Steel "), r).as("asset_name"),
          concat(lit("STL"), r).as("company_id"),
          elt(pmod(r, lit(3)) + 1, lit("Alpha Corp"), lit("Gamma Inc"), lit("ZNoMatch"))
            .as("company_name"),
          lit("US").as("country_iso2"), lit("United States").as("country_name"),
          concat(lit("Region "), r).as("region"), lit("40.0, -75.0").as("coordinates"),
          lit(null).cast("double").as("workforce_size"),
          lit(null).cast("string").as("workforce_source"),
          lit("Power").as("sector"), lit("SteelCap").as("technology"),
          (r * 7.0).as("capacity"), lit("MW").as("capacity_unit"),
          lit(2030).as("production_year"),
          lit(null).cast("double").as("plant_age_years"),
          lit(null).cast("double").as("plant_age_rank"),
          lit(null).cast("double").as("capacity_factor"),
          lit(null).cast("double").as("emission_factor"))
        val n = col("n_nationkey")
        val factors = t(s, dir, "nation").select(
          elt(pmod(n, lit(2)) + 1, lit("CoalCap"), lit("GasCap")).as("technology"),
          elt(pmod(n, lit(3)) + 1, lit("DE"), lit("FR"), lit("XK")).as("country_iso2"),
          (n + 1.0).as("emissions_factor"))

        GemPipeline.totals(Seq(coalFin, hydroFin), steel, factors)
          .orderBy(col("asset_id"), col("company_name").asc_nulls_first,
            col("production_year"), col("country_name"),
            col("plant_age_years").asc_nulls_first)
      },
      Some(Q43Oracle.sql)),

    // MinHash LSH near-dup FINDER: band-bucket candidate join + exact
    // Jaccard verify (Dedup.minhashNearDups). Sketch selectivity
    // matters: the synthetic corpus has ~0.5 ambient pairwise Jaccard
    // (20-word vocabulary), so r=4 rows/band admits ~25% of ALL pairs
    // as candidates (quadratic — 130 s at sf0.1). r=8 cuts the ambient
    // collision rate to J^8 ≈ 0.4% while 8 bands keep recall at the
    // 0.8 near-dup threshold.
    QueryDef("q44_minhash_neardups",
      // Bounded slice: ~20% of ALL doc pairs in this corpus are true
      // J≥0.8 near-dups, so the OUTPUT (and any exact verify) is
      // inherently quadratic in input size — the bound keeps the bench
      // measuring the operator, not the degenerate output volume.
      (s, dir) => Dedup.minhashNearDups(
        t(s, dir, "documents").filter(col("doc_id") < 1000), "doc_id", "text",
        k = 64, bands = 8, threshold = 0.8)
        .orderBy("id_a", "id_b"),
      Some("WITH " + minhashVerifiedCtes + "\n" +
        """SELECT id_a, id_b, jaccard FROM verified WHERE jaccard >= 0.8
          |ORDER BY id_a, id_b""".stripMargin)),

    // LSH-bucketed approximate top-k (Similarity.lshTopK): candidate
    // set restricted to the query's random-hyperplane bucket, exact
    // cosine re-rank inside it.
    QueryDef("q45_lsh_topk",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.lshTopK(emb, emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", k = 3, planes = 4)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH bucketed AS (
             |  SELECT vec_id, embedding, ${lshBucketSql(0, 3)} AS bucket
             |  FROM embeddings),
             |q AS (SELECT vec_id AS query_id, embedding AS qvec, bucket
             |      FROM bucketed WHERE vec_id < 10),
             |c AS (SELECT vec_id AS neighbor_id, embedding AS cvec, bucket FROM bucketed),
             |${cosineTop3Sql(
                 "c JOIN q USING (bucket) WHERE neighbor_id <> query_id")}""".stripMargin)),

    // IVF-flat approximate top-k (Similarity.ivfTopK): corpus assigned
    // to nearest-centroid cells (8 deterministic centroids = the first
    // 8 embeddings), queries probe their 2 nearest cells, exact cosine
    // re-rank inside the probed cells.
    QueryDef("q52_ivf_topk",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.ivfTopK(
          emb, emb.filter(col("vec_id").between(100, 104)),
          emb.filter(col("vec_id") < 8),
          "vec_id", "embedding", k = 3, nProbe = 2)
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH cents AS (
             |  SELECT vec_id AS cell_id, embedding AS centvec
             |  FROM embeddings WHERE vec_id < 8),
             |cscore AS (
             |  SELECT e.vec_id, e.embedding, c.cell_id,
             |    list_sum(list_transform(e.embedding, (x, i) ->
             |      CAST(x AS DOUBLE) * CAST(c.centvec[i] AS DOUBLE))) /
             |    (sqrt(list_sum(list_transform(e.embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
             |     sqrt(list_sum(list_transform(c.centvec, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))) AS cell_cos
             |  FROM embeddings e CROSS JOIN cents c),
             |ranked_cells AS (
             |  SELECT *, row_number() OVER (PARTITION BY vec_id
             |    ORDER BY cell_cos DESC, cell_id) AS crn FROM cscore),
             |corpus_cells AS (
             |  SELECT vec_id AS neighbor_id, embedding AS cvec, cell_id
             |  FROM ranked_cells WHERE crn = 1),
             |query_cells AS (
             |  SELECT vec_id AS query_id, embedding AS qvec, cell_id
             |  FROM ranked_cells WHERE crn <= 2 AND vec_id BETWEEN 100 AND 104),
             |${cosineTop3Sql("corpus_cells JOIN query_cells USING (cell_id)" +
                 "\n  WHERE neighbor_id <> query_id")}""".stripMargin)),

    // Skew-safe two-phase salted aggregation (Skew.saltedSum) — result
    // ≡ the plain rollup; the plan sprays hot keys over 16 reducers.
    QueryDef("q46_salted_rollup",
      (s, dir) => t(s, dir, "lineitem")
        .transform(Skew.saltedSum(Seq("l_returnflag"), "l_quantity", "total_qty"))
        .select(col("l_returnflag"), round(col("total_qty"), 2).as("total_qty"))
        .orderBy("l_returnflag"),
      Some("""SELECT l_returnflag, round(sum(l_quantity), 2) AS total_qty
             |FROM lineitem GROUP BY l_returnflag
             |ORDER BY l_returnflag""".stripMargin)),

    // Multimodal stub feature extraction (mapPartitions batch shape);
    // byte-moment stub is deterministic double math → fully
    // oracle-checked, flattened to one column per dimension.
    QueryDef("q48_multimodal_features",
      (s, dir) => {
        val media = Multimodal.asMediaTable(t(s, dir, "documents"), "doc_id", "text", "image")
        val feats = Multimodal.extractFeatures(s, media, dim = 4)
        feats.select(col("id") +:
          (0 until 4).map(i => element_at(col("features"), i + 1).as(s"f$i")): _*)
          .orderBy("id")
      },
      Some("""SELECT doc_id AS id,
             |  CAST(list_sum(list_transform(generate_series(1, octet_length(encode(text)), 4),
             |    p -> CAST(ascii(substr(text, p, 1)) AS DOUBLE))) / octet_length(encode(text)) AS FLOAT) AS f0,
             |  CAST(list_sum(list_transform(generate_series(2, octet_length(encode(text)), 4),
             |    p -> CAST(ascii(substr(text, p, 1)) AS DOUBLE))) / octet_length(encode(text)) AS FLOAT) AS f1,
             |  CAST(list_sum(list_transform(generate_series(3, octet_length(encode(text)), 4),
             |    p -> CAST(ascii(substr(text, p, 1)) AS DOUBLE))) / octet_length(encode(text)) AS FLOAT) AS f2,
             |  CAST(list_sum(list_transform(generate_series(4, octet_length(encode(text)), 4),
             |    p -> CAST(ascii(substr(text, p, 1)) AS DOUBLE))) / octet_length(encode(text)) AS FLOAT) AS f3
             |FROM documents ORDER BY id""".stripMargin)),

    // A v2 simple-tracker config end-to-end (solar): phase-keyed units,
    // explicit null-owner drop, equal-share ownership, imputed starts.
    QueryDef("q49_solar_tracker",
      (s, dir) => {
        val c = col("c_custkey")
        val raw = t(s, dir, "customer")
          .join(t(s, dir, "nation"), col("c_nationkey") === col("n_nationkey"))
          .select(
            concat(lit("PU"), c).as("GEM phase ID"),
            concat(lit("PL"), expr("c_custkey div 3")).as("GEM location ID"),
            concat(lit("PPlant "), expr("c_custkey div 3")).as("Project Name"),
            elt(pmod(col("n_nationkey"), lit(3)) + 1,
              lit("Germany"), lit("India"), lit("Brazil")).as("Country"),
            concat(lit("Region "), col("n_regionkey")).as("Region"),
            when(pmod(c, lit(6)) === 0, lit("Gamma Inc; Delta LLC"))
              .when(pmod(c, lit(6)) === 1, concat(col("c_name"), lit(" [50%]; Epsilon AG")))
              .when(pmod(c, lit(6)) === 2, lit(null).cast("string"))
              .otherwise(col("c_name")).as("Owner"),
            when(pmod(c, lit(11)) === 0, lit("unknown"))
              .otherwise(col("c_acctbal").cast("string")).as("Capacity (MW)"),
            element_at(array(lit("operating"), lit("construction"), lit("announced"),
              lit("pre-construction"), lit("retired")), (pmod(c, lit(5)) + 1).cast("int"))
              .as("Status"),
            when(pmod(c, lit(7)) === 0, lit("not found"))
              .otherwise((lit(2000) + pmod(c, lit(28))).cast("string")).as("Start year"),
            when(pmod(c, lit(9)) === 0, (lit(2012) + pmod(c, lit(28))).cast("string"))
              .otherwise(lit(null).cast("string")).as("Retired year"),
            (pmod(c, lit(160)) - 80 + pmod(c, lit(3)) * 0.25).cast("double").as("Latitude"),
            (pmod(c, lit(340)) - 170 + pmod(c, lit(3)) * 0.25).cast("double").as("Longitude"))
        GemPipeline.wrangle(TrackerConfigs.solar)(raw)
          .transform(GemPipeline.finalizeSchema(TrackerConfigs.solar, CountryDim.dim(s)))
          .orderBy(col("asset_id"), col("company_name").asc_nulls_first,
            col("production_year"), col("country_name"))
      },
      Some("""WITH raw AS (
             |  SELECT
             |    'PU' || CAST(c_custkey AS VARCHAR) AS unit_id,
             |    'PL' || CAST(c_custkey // 3 AS VARCHAR) AS loc_id,
             |    'PPlant ' || CAST(c_custkey // 3 AS VARCHAR) AS plant,
             |    (['Germany','India','Brazil'])[n_nationkey % 3 + 1] AS country,
             |    'Region ' || CAST(n_regionkey AS VARCHAR) AS region,
             |    CASE c_custkey % 6
             |      WHEN 0 THEN 'Gamma Inc; Delta LLC'
             |      WHEN 1 THEN c_name || ' [50%]; Epsilon AG'
             |      WHEN 2 THEN NULL
             |      ELSE c_name END AS owner,
             |    CASE WHEN c_custkey % 11 = 0 THEN 'unknown'
             |      ELSE CAST(c_acctbal AS VARCHAR) END AS cap,
             |    (['operating','construction','announced','pre-construction','retired'])[c_custkey % 5 + 1] AS status,
             |    CASE WHEN c_custkey % 7 = 0 THEN 'not found'
             |      ELSE CAST(2000 + c_custkey % 28 AS VARCHAR) END AS start_y,
             |    CASE WHEN c_custkey % 9 = 0
             |      THEN CAST(2012 + c_custkey % 28 AS VARCHAR) END AS retire_y,
             |    CAST(c_custkey % 160 - 80 + (c_custkey % 3) * CAST(0.25 AS DOUBLE) AS DOUBLE) AS lat,
             |    CAST(c_custkey % 340 - 170 + (c_custkey % 3) * CAST(0.25 AS DOUBLE) AS DOUBLE) AS lon
             |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
             |f0 AS (SELECT * FROM raw WHERE owner IS NOT NULL),
             |f1 AS (SELECT * FROM f0
             |  WHERE status IN ('construction','operating','announced','pre-construction')),
             |f2 AS (SELECT * REPLACE (CASE WHEN cap = '>0' THEN 'unknown' ELSE cap END AS cap) FROM f1),
             |f3 AS (SELECT * FROM f2
             |  WHERE NOT (cap IN ('unknown','N/A','not found') OR cap IS NULL OR cap = '0')),
             |imp AS (SELECT * REPLACE (
             |    CASE WHEN start_y IN ('unknown','not found') OR start_y IS NULL THEN
             |      CASE WHEN status IN ('announced','construction','pre-construction')
             |        THEN '2030' ELSE '2024' END
             |    ELSE start_y END AS start_y) FROM f3),
             |num AS (SELECT *, TRY_CAST(cap AS DOUBLE) AS capn,
             |    TRY_CAST(start_y AS DOUBLE) AS startn,
             |    TRY_CAST(retire_y AS DOUBLE) AS retiren FROM imp),
             |f5 AS (SELECT * FROM num),
             |summ AS (SELECT loc_id,
             |    CASE WHEN count(DISTINCT (lat, lon)) > 1 THEN avg(lat) ELSE min(lat) END AS clat,
             |    CASE WHEN count(DISTINCT (lat, lon)) > 1 THEN avg(lon) ELSE min(lon) END AS clon
             |  FROM f5 GROUP BY loc_id),
             |canon AS (SELECT f5.* EXCLUDE (lat, lon), s.clat AS lat, s.clon AS lon
             |  FROM f5 LEFT JOIN summ s USING (loc_id)),
             |own AS (SELECT t.*, u.ow FROM canon t,
             |  unnest(coalesce(string_split_regex(t.owner, ';\s*'),
             |                  [CAST(NULL AS VARCHAR)])) AS u(ow)),
             |owns AS (SELECT *,
             |    NULLIF(trim(regexp_extract(ow, '^([^\[]+)', 1)), '') AS company,
             |    coalesce(
             |      TRY_CAST(NULLIF(regexp_extract(ow, '(\d+)%', 1), '') AS DOUBLE) / 100,
             |      1.0 / coalesce(len(string_split_regex(owner, ';\s*')), 1)) AS share
             |  FROM own),
             |alloc AS (SELECT *, capn * share AS cap_alloc FROM owns),
             |ex AS (SELECT a.*, y.year FROM alloc a
             |  CROSS JOIN (SELECT unnest(generate_series(2023, 2050)) AS year) y),
             |val AS (SELECT *, CASE
             |    WHEN startn IS NOT NULL AND year < startn THEN 0.0
             |    WHEN retiren IS NOT NULL AND year >= retiren THEN 0.0
             |    ELSE cap_alloc END AS value FROM ex),
             |roll AS (SELECT loc_id, plant, country, region, lat, lon,
             |    'RenewablesCap' AS technology, company, year,
             |    coalesce(sum(value), 0.0) AS capacity
             |  FROM val GROUP BY loc_id, plant, country, region, lat, lon, company, year)
             |""".stripMargin + gemFinalizeSql + """
             |ORDER BY asset_id, company_name NULLS FIRST, production_year,
             |  country_name""".stripMargin)),

    // LLM-tier capstone: the composed curation pipeline — exact dedup →
    // quality/language gate → CLUSTER-based near-dup removal (keep the
    // min id of each connected component of the verified-pair graph) →
    // per-source funnel accounting (CorpusPipeline.curate). The oracle
    // mirrors the clusters with a recursive min-reachable-id CTE, same
    // pattern as q61.
    // Perf: `fates` pins the scored frame once for its 3 consumers;
    // lazy, it recomputed its gating stages ~3x (12.85 s at sf0.1
    // against 5.8 s warm / ~10 s cold pinned), and q50 costs ~1.4x
    // its own cluster pass (q61) instead of 3x. The remaining floor is the
    // cluster iteration + per-query codegen, shared with q61/q100.
    // Heuristic-gate leg (trainedLangId = false): the oracle CTE chain
    // replays the stopword-ratio gate in SQL — this query's claim is
    // the HEURISTIC path + funnel volume. The defaults path (trained
    // gate) is covered by the q428/q429 flagships over the
    // hand-labeled fixture (round 19 — synthetic word salad is not
    // pinnable under a trained model, q420 note).
    QueryDef("q50_corpus_curation",
      (s, dir) => CorpusPipeline.curate(
        t(s, dir, "documents").filter(col("doc_id") < 1000),
        trainedLangId = false),
      Some("WITH RECURSIVE " + curationFateCtes + "\n" +
        """SELECT source,
          |  count(CASE WHEN fate = 'kept' THEN 1 END) AS docs_kept,
          |  CAST(coalesce(sum(CASE WHEN fate = 'kept' THEN ntok END), 0)
          |    AS BIGINT) AS tokens_kept,
          |  count(CASE WHEN fate = 'exact_dup' THEN 1 END) AS dropped_exact_dup,
          |  count(CASE WHEN fate = 'quality' THEN 1 END) AS dropped_quality,
          |  count(CASE WHEN fate = 'near_dup' THEN 1 END) AS dropped_near_dup
          |FROM fate GROUP BY source ORDER BY source""".stripMargin)),

    // Stateful sessionization, batch-parity mode: mapGroupsWithState's
    // merge over a static frame ≡ a plain per-user aggregate, which is
    // exactly what the oracle checks.
    QueryDef("q51_sessionize_batch",
      (s, dir) => graft.streaming.EventStream.sessionize(s,
        t(s, dir, "events").withColumn("ts", col("ts").cast("timestamp")))
        .select(col("user_id"), col("n_events"),
          round(col("total_value"), 2).as("total_value"),
          col("first_ts").cast("timestamp_ntz").as("first_ts"),
          col("last_ts").cast("timestamp_ntz").as("last_ts"))
        .orderBy("user_id"),
      Some("""SELECT user_id, count(*) AS n_events,
             |  round(sum(value), 2) AS total_value,
             |  min(CAST(ts AS TIMESTAMP)) AS first_ts,
             |  max(CAST(ts AS TIMESTAMP)) AS last_ts
             |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin)),

    // The spark.sql surface: ANSI SQL over Graft.registerViews — the
    // same Catalyst plan the DataFrame API produces, and literally the
    // same text the DuckDB oracle runs.
    QueryDef("q47_sql_surface",
      (s, dir) => {
        Graft.registerViews(s, dir)
        s.sql("""SELECT l_returnflag, count(*) AS n,
                |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
                |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
                |WHERE o_orderstatus <> 'F'
                |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)
      },
      Some("""SELECT l_returnflag, count(*) AS n,
             |  round(sum(l_extendedprice * (1.0 - l_discount)), 2) AS revenue
             |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
             |WHERE o_orderstatus <> 'F'
             |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin)),

    // Streaming windowed agg, batch-parity mode (EventStream.windowedCounts)
    QueryDef("q32_windowed_counts",
      (s, dir) => graft.streaming.EventStream.windowedCounts(t(s, dir, "events"))
        .orderBy("window_start", "event_type"),
      Some("""SELECT time_bucket(INTERVAL 1 HOUR, CAST(ts AS TIMESTAMP)) AS window_start,
             |  event_type, count(*) AS n, round(sum(value), 2) AS total_value
             |FROM events GROUP BY 1, 2
             |ORDER BY window_start, event_type""".stripMargin)),

    // Streaming exact dedup, batch-parity leg (the MemoryStream run is
    // in StreamingModeSpec): one row per (user_id, event_type) — the
    // deterministic earliest-(ts, event_id) winner.
    QueryDef("q53_stream_dedup",
      (s, dir) => graft.streaming.EventStream.dedupEvents(
        t(s, dir, "events"), Seq("user_id", "event_type"))
        .select(col("user_id"), col("event_type"), col("event_id"),
          col("ts"), col("value"))
        .orderBy("user_id", "event_type"),
      Some("""SELECT user_id, event_type, event_id, CAST(ts AS TIMESTAMP) AS ts, value
             |FROM (SELECT *, row_number() OVER (PARTITION BY user_id, event_type
             |        ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn FROM events)
             |WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin)),

    // PII redaction (TextAnalysis.redactPii): PII is injected into the
    // text IDENTICALLY on both sides (the synthetic docs carry none),
    // so every row exercises all three patterns end to end.
    QueryDef("q54_pii_redact",
      (s, dir) => t(s, dir, "documents")
        .select(col("doc_id"),
          graft.ops.TextAnalysis.redactPii(concat(
            substring(col("text"), 1, 40),
            lit(" contact user"), col("doc_id").cast("string"),
            lit("@mail.example.org from 10.0."),
            pmod(col("doc_id"), lit(256)).cast("string"),
            lit(".7 acct 4111111111111111 done"))).as("clean"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |  regexp_replace(regexp_replace(regexp_replace(
             |    substr(text, 1, 40) || ' contact user' || CAST(doc_id AS VARCHAR)
             |      || '@mail.example.org from 10.0.'
             |      || CAST(doc_id % 256 AS VARCHAR) || '.7 acct 4111111111111111 done',
             |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
             |    '\b(\d{1,3}\.){3}\d{1,3}\b', '<IP>', 'g'),
             |    '\b\d{9,}\b', '<NUM>', 'g') AS clean
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Benchmark decontamination (Dedup.decontaminate): every 97th doc
    // plays the held-out benchmark; corpus docs sharing ANY 5-gram with
    // it are dropped, the survivors are the training set.
    QueryDef("q55_decontaminate",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val bench = docs.filter(pmod(col("doc_id"), lit(97)) === 0)
        val corpus = docs.filter(pmod(col("doc_id"), lit(97)) =!= 0)
        Dedup.decontaminate(corpus, bench, "doc_id", "text", n = 5)
          .select(col("doc_id"), col("source"))
          .orderBy("doc_id")
      },
      Some("""WITH tk AS (
             |  SELECT doc_id, source, list_filter(
             |    string_split_regex(text, ' +'), t -> t <> '') AS tk
             |  FROM documents),
             |sh AS (
             |  SELECT doc_id, source,
             |    list_distinct(list_transform(
             |      generate_series(1, greatest(len(tk) - 4, 0)),
             |      i -> array_to_string(list_slice(tk, i, i + 4), ' '))) AS sh
             |  FROM tk),
             |bsh AS (
             |  SELECT DISTINCT unnest(sh) AS shingle FROM sh WHERE doc_id % 97 = 0),
             |contaminated AS (
             |  SELECT DISTINCT d.doc_id
             |  FROM (SELECT doc_id, unnest(sh) AS shingle FROM sh
             |        WHERE doc_id % 97 <> 0) d
             |  JOIN bsh USING (shingle))
             |SELECT doc_id, source FROM sh
             |WHERE doc_id % 97 <> 0
             |  AND doc_id NOT IN (SELECT doc_id FROM contaminated)
             |ORDER BY doc_id""".stripMargin)),

    // Language-ID evaluation against the gold `lang` column: the
    // confusion-matrix counts of TextAnalysis.langIdHeuristic — the
    // measurement loop every corpus-quality heuristic needs.
    QueryDef("q56_lang_eval",
      (s, dir) => t(s, dir, "documents")
        .groupBy(col("lang"),
          graft.ops.TextAnalysis.langIdHeuristic(col("text")).as("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy("lang", "lang_pred"),
      Some("""SELECT lang,
             |  CASE WHEN swr >= 0.05 THEN 'en' ELSE 'other' END AS lang_pred,
             |  count(*) AS n
             |FROM (SELECT lang, CAST(len(list_filter(tk, t -> t IN
             |        ('the','a','an','of','and','to','in','is'))) AS DOUBLE)
             |        / len(tk) AS swr
             |      FROM (SELECT lang, list_filter(
             |              string_split_regex(text, ' +'), t -> t <> '') AS tk
             |            FROM documents))
             |GROUP BY lang, lang_pred ORDER BY lang, lang_pred""".stripMargin)),

    // Deterministic hash split (Sampling.splitLabel): stable 80/10/10
    // train/val/test assignment from the doc_id hash, audited per
    // (source, split) with doc and char counts.
    QueryDef("q57_hash_split",
      (s, dir) => t(s, dir, "documents")
        .groupBy(col("source"),
          graft.ops.Sampling.splitLabel(col("doc_id"),
            Seq("train" -> 80, "val" -> 90, "test" -> 100)).as("split"))
        .agg(count(lit(1)).as("docs"), sum(col("n_chars")).as("chars"))
        .orderBy("source", "split"),
      Some(("""SELECT source,
             |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
             |    ELSE 'test' END AS split,
             |  count(*) AS docs, CAST(sum(n_chars) AS BIGINT) AS chars
             |FROM (SELECT source, n_chars,
             |        """ + graft.ops.Sampling.duckBucket("doc_id") + """ AS b
             |      FROM documents)
             |GROUP BY source, split ORDER BY source, split""").stripMargin)),

    // Stream-stream interval join, batch-parity leg (the two-stream
    // MemoryStream run is in StreamingModeSpec): clicks attributed to
    // the views they followed within 10 minutes, per user.
    QueryDef("q58_stream_join",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val views = ev.filter(col("event_type") === "view")
          .select(col("user_id"), col("ts").as("view_ts"),
            col("event_id").as("view_id"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"),
            col("event_id").as("click_id"))
        graft.streaming.EventStream.correlate(
          views, clicks, "user_id", "view_ts", "click_ts", "10 minutes")
          .select("user_id", "view_id", "click_id", "view_ts", "click_ts")
          .orderBy("user_id", "view_id", "click_id")
      },
      Some("""SELECT v.user_id, v.view_id, c.click_id, v.view_ts, c.click_ts
             |FROM (SELECT user_id, CAST(ts AS TIMESTAMP) AS view_ts,
             |        event_id AS view_id FROM events WHERE event_type = 'view') v
             |JOIN (SELECT user_id, CAST(ts AS TIMESTAMP) AS click_ts,
             |        event_id AS click_id FROM events WHERE event_type = 'click') c
             |  ON v.user_id = c.user_id AND c.click_ts >= v.view_ts
             |    AND c.click_ts <= v.view_ts + INTERVAL 10 MINUTE
             |ORDER BY v.user_id, view_id, click_id""".stripMargin)),

    // Corpus length-distribution analytics: per-source exact
    // percentiles + mean of n_chars. Spark's `percentile` and DuckDB's
    // `quantile_cont` both linear-interpolate over the sorted values,
    // so the EXACT aggregate is oracle-portable (approx_percentile's
    // sketch would not be).
    QueryDef("q59_corpus_stats",
      (s, dir) => t(s, dir, "documents")
        .groupBy("source")
        .agg(count(lit(1)).as("docs"),
          round(expr("percentile(n_chars, 0.5)"), 4).as("p50_chars"),
          round(expr("percentile(n_chars, 0.9)"), 4).as("p90_chars"),
          round(avg("n_chars"), 4).as("mean_chars"))
        .orderBy("source"),
      Some("""SELECT source, count(*) AS docs,
             |  round(quantile_cont(n_chars, 0.5), 4) AS p50_chars,
             |  round(quantile_cont(n_chars, 0.9), 4) AS p90_chars,
             |  round(avg(n_chars), 4) AS mean_chars
             |FROM documents GROUP BY source ORDER BY source""".stripMargin)),

    // As-of join (AsofJoin.join): each click attributed to the LATEST
    // view at-or-before it per user — one union + one window, no range
    // join blow-up. Oracle = DuckDB's native ASOF LEFT JOIN, which pins
    // the exact semantics (left-outer, <= inclusive). The right side is
    // deduped to one row per (user, ts) first so tie resolution —
    // unspecified in ASOF — cannot differ between engines; unmatched
    // clicks coalesce to -1 to keep the column int64 on both sides.
    QueryDef("q60_asof_join",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val views = ev.filter(col("event_type") === "view")
          .groupBy("user_id", "ts").agg(max("event_id").as("view_id"))
        val clicks = ev.filter(col("event_type") === "click")
          .select(col("user_id"), col("ts").as("click_ts"),
            col("event_id").as("click_id"))
        AsofJoin.join(clicks, views, Seq("user_id"),
          "click_ts", "ts", Seq("view_id"))
          .select(col("user_id"), col("click_id"), col("click_ts"),
            coalesce(col("view_id"), lit(-1L)).as("view_id"))
          .orderBy("user_id", "click_id")
      },
      Some("""WITH v AS (
             |  SELECT user_id, ts, max(event_id) AS view_id
             |  FROM events WHERE event_type = 'view' GROUP BY user_id, ts),
             |c AS (
             |  SELECT user_id, ts AS click_ts, event_id AS click_id
             |  FROM events WHERE event_type = 'click')
             |SELECT c.user_id, c.click_id, c.click_ts,
             |  coalesce(v.view_id, -1) AS view_id
             |FROM c ASOF LEFT JOIN v
             |  ON c.user_id = v.user_id AND v.ts <= c.click_ts
             |ORDER BY c.user_id, click_id""".stripMargin)),

    // Near-dup CLUSTERS (Components.dedupClusters): hash-min connected
    // components over the q44 minhash pair graph — the transitive
    // closure a pair list alone cannot give. Oracle = recursive CTE
    // propagating min-reachable-id over the SAME pair CTEs as q44.
    QueryDef("q61_dedup_clusters",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
        // probes the shared persisted pairs table (same slice +
        // parameters as ensureNearDupIndex) instead of re-running
        // minhash per invocation (round 14, the q372 pattern)
        val pairs = ndPairs(s, dir)
        Components.dedupClusters(docs, "doc_id", pairs, "id_a", "id_b")
          .orderBy("doc_id")
      },
      Some("WITH RECURSIVE " + minhashVerifiedCtes + ",\n" +
        clusterChainCtes + "\n" +
        """SELECT comp.id AS doc_id, comp.component, sizes.cluster_size
          |FROM comp JOIN sizes USING (component)
          |ORDER BY doc_id""".stripMargin)),

    // Gopher-style n-gram repetition signals (TextAnalysis
    // .repetitionSignals): top-bigram fraction + distinct-bigram ratio
    // per document via explode → two map-side-combinable aggregates.
    QueryDef("q62_repetition",
      (s, dir) => TextAnalysis.repetitionSignals(
        t(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id"),
      Some("""WITH tk AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(text, ' +'), t -> t <> '') AS tk
             |  FROM documents),
             |bg AS (
             |  SELECT doc_id, list_transform(generate_series(1, len(tk) - 1),
             |    i -> tk[i] || ' ' || tk[i + 1]) AS bgs
             |  FROM tk),
             |cnt AS (
             |  SELECT doc_id, bigram, count(*) AS c
             |  FROM (SELECT doc_id, unnest(bgs) AS bigram FROM bg)
             |  GROUP BY doc_id, bigram),
             |agg AS (
             |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
             |    max(c) AS top_c, count(*) AS n_distinct
             |  FROM cnt GROUP BY doc_id)
             |SELECT t.doc_id, coalesce(a.n_bigrams, 0) AS n_bigrams,
             |  round(CAST(a.top_c AS DOUBLE) / a.n_bigrams, 4) AS top_bigram_frac,
             |  round(CAST(a.n_distinct AS DOUBLE) / a.n_bigrams, 4)
             |    AS distinct_bigram_frac
             |FROM tk t LEFT JOIN agg a USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // Sequence packing (Packing.packBudgeted): deterministic
    // concat-and-chunk bin assignment per source — one window, integral
    // div (exact past 2^53). Audited per (source, bin).
    QueryDef("q63_pack_sequences",
      (s, dir) => Packing.packBudgeted(
        t(s, dir, "documents"), "doc_id", "n_chars",
        budget = 4000L, strataCols = Seq("source"))
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("docs"), sum("n_chars").as("chars"))
        .orderBy("source", "bin"),
      Some("""WITH packed AS (
             |  SELECT source, n_chars,
             |    CAST(COALESCE(sum(n_chars) OVER (
             |      PARTITION BY source ORDER BY doc_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             |      // 4000 AS BIGINT) AS bin
             |  FROM documents)
             |SELECT source, bin, count(*) AS docs,
             |  CAST(sum(n_chars) AS BIGINT) AS chars
             |FROM packed GROUP BY source, bin
             |ORDER BY source, bin""".stripMargin)),

    // Stratified deterministic sampling (Sampling.stratifiedSample):
    // per-source keep rates toward a target mixture, audited per
    // source. Same md5 bucket as q57, rate chosen by stratum.
    QueryDef("q64_stratified_sample",
      (s, dir) => Sampling.stratifiedSample(
        t(s, dir, "documents"), "doc_id", "source",
        rates = Seq("src0" -> 100, "src1" -> 50, "src2" -> 10),
        defaultPct = 25)
        .groupBy("source")
        .agg(count(lit(1)).as("docs"), sum("n_chars").as("chars"))
        .orderBy("source"),
      Some(("""SELECT source, count(*) AS docs,
             |  CAST(sum(n_chars) AS BIGINT) AS chars
             |FROM (SELECT source, n_chars,
             |        """ + Sampling.duckBucket("doc_id") + """ AS b
             |      FROM documents)
             |WHERE b < CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 50
             |  WHEN 'src2' THEN 10 ELSE 25 END
             |GROUP BY source ORDER BY source""").stripMargin)),

    // IVF codebook training (Similarity.trainCentroids): deterministic
    // sampled-init Lloyd k-means, k=8 cells, 2 unrolled rounds. Output
    // = the flattened trained codebook, so the oracle pins every
    // centroid component, not just the cells a search happens to probe.
    QueryDef("q65_ivf_train",
      (s, dir) => Similarity.trainCentroids(
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 8, iters = 2)
        .select(col("vec_id").cast("long").as("cell_id"),
          posexplode(col("embedding")).as(Seq("pos0", "c0")))
        .select(col("cell_id"), (col("pos0") + 1).cast("long").as("pos"),
          col("c0").cast("double").as("c"))
        .orderBy("cell_id", "pos"),
      Some("WITH " + kmeansCtes(k = 8, iters = 2) + "\n" +
        """SELECT c.cell_id, p.pos, CAST(c.centvec[p.pos] AS DOUBLE) AS c
          |FROM cent2 c CROSS JOIN poss p
          |ORDER BY cell_id, pos""".stripMargin)),

    // Trained-codebook IVF search: the q52 search path fed by
    // trainCentroids instead of a caller-provided codebook — the
    // complete index-build → search story, oracle recomputing both.
    QueryDef("q66_ivf_search_trained",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val cents = Similarity.trainCentroids(
          emb, "vec_id", "embedding", k = 8, iters = 2)
        Similarity.ivfTopK(
          emb, emb.filter(col("vec_id").between(100, 104)), cents,
          "vec_id", "embedding", k = 3, nProbe = 2)
          .orderBy("query_id", "rank")
      },
      Some("WITH " + kmeansCtes(k = 8, iters = 2) + ",\n" +
        ivfSearchCtes("cent2", nProbe = 2, qLo = 100, qHi = 104) + "\n" +
        """SELECT query_id, neighbor_id, "rank", round(cos, 4) AS cos
          |FROM ranked WHERE "rank" <= 3
          |ORDER BY query_id, "rank"""".stripMargin)),

    // ANN recall evaluation: recall@10 of the two approximate tiers
    // (hyperplane LSH, trained-codebook IVF) against the exact
    // bruteForceTopK ground truth on the same 5 queries — the first
    // question any ANN user asks, answered as an oracle-checked query.
    QueryDef("q67_ann_recall",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val qs = emb.filter(col("vec_id").between(100, 104))
        // Round 14: audit the SHIPPED index — codebook and SQ8 codes
        // come from the persisted tables (ensureAnnIndex), not an
        // inline retrain; only the eval-bounded brute-force ground
        // truth (5 queries) touches raw vectors beyond one scan.
        val cents = annCents(s, dir)
        val brute = Similarity.bruteForceTopK(
          emb, qs, "vec_id", "embedding", k = 10)
          .select("query_id", "neighbor_id")
        def hits(m: String, approx: DataFrame) =
          approx.select("query_id", "neighbor_id")
            .join(brute, Seq("query_id", "neighbor_id"))
            .agg(count(lit(1)).as("hits"))
            .select(lit(m).as("method"), col("hits"))
        hits("ivf", Similarity.ivfTopK(
            emb, qs, cents, "vec_id", "embedding", k = 10, nProbe = 2))
          .unionByName(hits("ivf_sq8", Similarity.ivfSq8TopKFromIndex(
            emb, qs, cents, annCodes(s, dir), "vec_id", "embedding",
            k = 10, nProbe = 2, shortlist = 20)))
          .unionByName(hits("jl", Similarity.jlTopK(
            emb, qs, "vec_id", "embedding", k = 10)))
          .unionByName(hits("lsh", Similarity.lshTopK(
            emb, qs, "vec_id", "embedding", k = 10, planes = 4)))
          .unionByName(hits("lsh_multi", Similarity.lshTopKMulti(
            emb, qs, "vec_id", "embedding", k = 10)))
          .crossJoin(broadcast(brute.agg(count(lit(1)).as("total"))))
          .withColumn("recall", round(col("hits") / col("total"), 4))
          .orderBy("method")
      },
      Some("WITH " + kmeansCtes(k = 8, iters = 2) + ",\n" +
        ivfSearchCtes("cent2", nProbe = 2, qLo = 100, qHi = 104, p = "i") + ",\n" +
        ivfSq8Ctes("i", shortlist = 20) + ",\n" +
        """bq AS (SELECT vec_id AS query_id, embedding AS qvec
          |       FROM embeddings WHERE vec_id BETWEEN 100 AND 104),
          |bscored AS (
          |  SELECT query_id, neighbor_id,
          |""".stripMargin +
        "    " + duckCos("qvec", "cvec") + " AS cos\n" +
        """  FROM (SELECT vec_id AS neighbor_id, embedding AS cvec
          |        FROM embeddings) c, bq
          |  WHERE neighbor_id <> query_id),
          |brute AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY query_id
          |                         ORDER BY cos DESC, neighbor_id) AS rn
          |    FROM bscored) WHERE rn <= 10),
          |""".stripMargin +
        s"""bucketed AS (
          |  SELECT vec_id, embedding, ${lshBucketSql(0, 3)} AS bucket
          |  FROM embeddings),
          |${lshMultiBucketCte("mbucketed", planes = 4, tables = 8)},
          |lscored AS (
          |  SELECT query_id, neighbor_id,
          |""".stripMargin +
        "    " + duckCos("qvec", "cvec") + " AS cos\n" +
        """  FROM (SELECT vec_id AS neighbor_id, embedding AS cvec, bucket
          |        FROM bucketed) c
          |  JOIN (SELECT vec_id AS query_id, embedding AS qvec, bucket
          |        FROM bucketed WHERE vec_id BETWEEN 100 AND 104) q
          |    USING (bucket)
          |  WHERE neighbor_id <> query_id),
          |lsh AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY query_id
          |                         ORDER BY cos DESC, neighbor_id) AS rn
          |    FROM lscored) WHERE rn <= 10),
          |mcand AS (
          |  SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
          |  FROM mbucketed q JOIN mbucketed c
          |    ON q.tbl = c.tbl AND q.bucket = c.bucket
          |  WHERE q.vec_id BETWEEN 100 AND 104 AND c.vec_id <> q.vec_id),
          |mscored AS (
          |  SELECT query_id, neighbor_id,
          |""".stripMargin +
        "    " + duckCos("qvec", "cvec") + " AS cos\n" +
        """  FROM mcand
          |  JOIN (SELECT vec_id AS neighbor_id, embedding AS cvec
          |        FROM embeddings) USING (neighbor_id)
          |  JOIN (SELECT vec_id AS query_id, embedding AS qvec
          |        FROM embeddings) USING (query_id)),
          |mlsh AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY query_id
          |                         ORDER BY cos DESC, neighbor_id) AS rn
          |    FROM mscored) WHERE rn <= 10),
          |ivf AS (SELECT query_id, neighbor_id FROM iranked WHERE "rank" <= 10),
          |jlp AS (
          |  SELECT vec_id, embedding,
          |    list_transform(generate_series(0, 31), p ->
          |      list_sum(list_transform(embedding, (v, i) ->
          |        CAST(v AS DOUBLE) * (CASE WHEN
          |          CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || ':' ||
          |            CAST(i - 1 AS VARCHAR)), 1, 15)) AS BIGINT) & 1 = 1
          |          THEN 1.0 ELSE -1.0 END))) / sqrt(32.0)) AS y
          |  FROM embeddings),
          |jpc AS (
          |  SELECT c.vec_id AS neighbor_id, q.vec_id AS query_id,
          |    c.embedding AS cvec, q.embedding AS qvec,
          |    list_sum(list_transform(q.y, (x, i) -> x * c.y[i])) /
          |    (sqrt(list_sum(list_transform(q.y, x -> x * x))) *
          |     sqrt(list_sum(list_transform(c.y, x -> x * x)))) AS pcos
          |  FROM jlp c CROSS JOIN jlp q
          |  WHERE q.vec_id BETWEEN 100 AND 104
          |    AND c.vec_id <> q.vec_id),
          |jsl AS (SELECT * FROM (
          |    SELECT *, row_number() OVER (PARTITION BY query_id
          |      ORDER BY pcos DESC, neighbor_id) AS prank FROM jpc)
          |  WHERE prank <= 200),
          |jex AS (SELECT query_id, neighbor_id,
          |""".stripMargin +
        "    " + duckCos("qvec", "cvec") + " AS cos\n" +
        """  FROM jsl),
          |jl AS (
          |  SELECT query_id, neighbor_id FROM (
          |    SELECT query_id, neighbor_id,
          |      row_number() OVER (PARTITION BY query_id
          |                         ORDER BY cos DESC, neighbor_id) AS rn
          |    FROM jex) WHERE rn <= 10),
          |isq AS (SELECT query_id, neighbor_id FROM isqranked
          |        WHERE "rank" <= 10),
          |hits AS (
          |  SELECT 'ivf' AS method, count(*) AS hits
          |  FROM ivf JOIN brute USING (query_id, neighbor_id)
          |  UNION ALL
          |  SELECT 'ivf_sq8', count(*)
          |  FROM isq JOIN brute USING (query_id, neighbor_id)
          |  UNION ALL
          |  SELECT 'jl', count(*)
          |  FROM jl JOIN brute USING (query_id, neighbor_id)
          |  UNION ALL
          |  SELECT 'lsh', count(*)
          |  FROM lsh JOIN brute USING (query_id, neighbor_id)
          |  UNION ALL
          |  SELECT 'lsh_multi', count(*)
          |  FROM mlsh JOIN brute USING (query_id, neighbor_id)),
          |tot AS (SELECT count(*) AS total FROM brute)
          |SELECT method, hits, total,
          |  round(CAST(hits AS DOUBLE) / total, 4) AS recall
          |FROM hits CROSS JOIN tot ORDER BY method""".stripMargin)),

    // REAL multimodal header decode (Multimodal.decodeMeta BMP/WAV
    // paths): headers are SYNTHESIZED in-plan from deterministic
    // per-id formulas (hex-string → unhex), the parser reads the
    // fixed-offset fields back, and the oracle recomputes the formulas
    // directly — so a parse bug cannot cancel out. Even ids get a
    // 54-byte BMP (width/height in the BITMAPINFOHEADER), odd ids a
    // 44-byte canonical WAV (duration = dataSize·1000 / byteRate).
    QueryDef("q68_media_decode",
      (s, dir) => {
        // little-endian 4-byte hex of a non-negative long < 2^32
        def le4hex(n: Column): Column = concat((0 to 3).map(i =>
          lpad(hex(pmod(shiftright(n, 8 * i), lit(256))), 2, "0")): _*)
        val ids = t(s, dir, "documents").select(col("doc_id").cast("long").as("id"))
        val wCol = lit(16) + pmod(col("id"), lit(1000))
        val hCol = lit(16) + pmod(col("id") * 7, lit(1000))
        val bmp = ids.filter(pmod(col("id"), lit(2)) === 0).select(
          col("id"),
          unhex(concat(
            lit("424D" + "00" * 12 + "28000000"), // "BM", 40-byte DIB
            le4hex(wCol), le4hex(hCol), lit("00" * 28))).as("bytes"),
          lit("image").as("media_type"))
        val byteRate = (lit(8000) + pmod(col("id"), lit(8)) * 1000) * 2
        val dataSize = lit(16000) + pmod(col("id") * 13, lit(100000))
        val wav = ids.filter(pmod(col("id"), lit(2)) === 1).select(
          col("id"),
          unhex(concat(
            lit("52494646"), le4hex(dataSize + 36), // "RIFF", riff size
            lit("57415645" + "666D7420" + "10000000" + "0100" + "0100"),
            le4hex(lit(8000) + pmod(col("id"), lit(8)) * 1000), // sample rate
            le4hex(byteRate),
            lit("0200" + "1000" + "64617461"), // align, bits, "data"
            le4hex(dataSize))).as("bytes"),
          lit("audio").as("media_type"))
        Multimodal.decodeMeta(s, bmp.unionByName(wav)).toDF()
          .select(col("id"), col("mediaType").as("media_type"),
            col("nBytes").as("n_bytes"), col("width"), col("height"),
            col("durationMs").as("duration_ms"))
          .orderBy("id")
      },
      Some("""SELECT doc_id AS id,
             |  CASE WHEN doc_id % 2 = 0 THEN 'image' ELSE 'audio' END
             |    AS media_type,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN 54 ELSE 44 END AS BIGINT)
             |    AS n_bytes,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN 16 + doc_id % 1000
             |       ELSE 0 END AS INT) AS width,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN 16 + (doc_id * 7) % 1000
             |       ELSE 0 END AS INT) AS height,
             |  CAST(CASE WHEN doc_id % 2 = 0 THEN 0
             |       ELSE ((16000 + (doc_id * 13) % 100000) * 1000)
             |            // ((8000 + (doc_id % 8) * 1000) * 2) END AS BIGINT)
             |    AS duration_ms
             |FROM documents ORDER BY id""".stripMargin)),

    // BM25 keyword retrieval (Retrieval.bm25TopK): postings restricted
    // to the query terms before the shuffle, broadcast df/corpus stats,
    // top-k via TakeOrderedAndProject — the lexical half of hybrid
    // search next to the ANN tier.
    QueryDef("q69_bm25_search",
      (s, dir) => Retrieval.bm25TopK(
        t(s, dir, "documents"), "doc_id", "text",
        queryTerms = Seq("spark", "join", "stream"), k = 10),
      Some("WITH " + bm25RankedCtes(10) + "\n" +
        """SELECT doc_id, "rank", round(score, 4) AS score
          |FROM lexr ORDER BY "rank"""".stripMargin)),

    // Semantic near-dup clustering: embedding-cosine pairs (the q31
    // blocked join) fed through the same transitive-closure machinery
    // as the MinHash tier (Components.dedupClusters) — dedup by
    // MEANING composed from two already-proven operators.
    QueryDef("q70_semantic_dedup",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val pairs = Similarity.cosineNearDupPairs(
          emb, "vec_id", "embedding", "label", threshold = 0.2)
        Components.dedupClusters(emb, "vec_id", pairs, "id_a", "id_b")
          .orderBy("vec_id")
      },
      Some("WITH RECURSIVE\n" +
        "v AS (SELECT vec_id, label, embedding AS v FROM embeddings),\n" +
        "p AS (\n" +
        "  SELECT l.vec_id AS id_a, r.vec_id AS id_b\n" +
        "  FROM v l JOIN v r ON l.label = r.label AND l.vec_id < r.vec_id\n" +
        s"  WHERE round(${duckCos("l.v", "r.v")}, 4) >= 0.2),\n" +
        """edges AS (SELECT id_a AS src, id_b AS dst FROM p
          |          UNION ALL SELECT id_b, id_a FROM p),
          |reach(id, lbl) AS (
          |  SELECT vec_id, vec_id FROM embeddings
          |  UNION
          |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
          |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
          |sizes AS (SELECT component, count(*) AS cluster_size
          |          FROM comp GROUP BY component)
          |SELECT comp.id AS vec_id, comp.component, sizes.cluster_size
          |FROM comp JOIN sizes USING (component)
          |ORDER BY vec_id""".stripMargin)),

    // JSONL sink + source round-trip with explicit read schema
    // (sources/Jsonl): the corpus-interchange format; the agg proves
    // text survives JSON escaping character-for-character.
    QueryDef("q71_jsonl_roundtrip",
      (s, dir) => {
        val tmp = sys.props("java.io.tmpdir") + "/graft_jsonl_roundtrip"
        Jsonl.write(t(s, dir, "documents")
          .select("doc_id", "text", "lang", "source", "n_chars"), tmp)
        Jsonl.read(s, tmp, StructType.fromDDL(
          "doc_id BIGINT, text STRING, lang STRING, source STRING, n_chars BIGINT"))
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n"),
            sum(length(col("text"))).as("chars"),
            sum("n_chars").as("n_chars_sum"))
          .orderBy("lang", "source")
      },
      Some("""SELECT lang, source, count(*) AS n,
             |  CAST(sum(len(text)) AS BIGINT) AS chars,
             |  CAST(sum(n_chars) AS BIGINT) AS n_chars_sum
             |FROM documents GROUP BY lang, source
             |ORDER BY lang, source""".stripMargin)),

    // Fixed-size overlapping character chunking (Chunking.chunkFixed):
    // narrow generate-and-slice, zero shuffle; size 200, overlap 50.
    QueryDef("q72_chunk_documents",
      (s, dir) => Chunking.chunkFixed(
        t(s, dir, "documents"), "doc_id", "text", size = 200, overlap = 50)
        .orderBy("doc_id", "chunk_id"),
      Some("""WITH d AS (SELECT doc_id, text, len(text) AS n FROM documents),
             |nc AS (SELECT doc_id, text,
             |    CASE WHEN n <= 200 THEN 1
             |         ELSE 1 + CAST(ceil((n - 200) / 150.0) AS BIGINT)
             |    END AS nch
             |  FROM d),
             |ch AS (SELECT doc_id, text,
             |         unnest(generate_series(0, nch - 1)) AS chunk_id
             |       FROM nc)
             |SELECT doc_id, chunk_id,
             |  substr(text, CAST(chunk_id * 150 + 1 AS BIGINT), 200)
             |    AS chunk_text,
             |  len(substr(text, CAST(chunk_id * 150 + 1 AS BIGINT), 200))
             |    AS chunk_len
             |FROM ch ORDER BY doc_id, chunk_id""".stripMargin)),

    // Int8 absmax embedding quantization audit (Quantize.quantizeAudit):
    // integral code checksum + worst per-element reconstruction error,
    // all narrow array math.
    QueryDef("q73_quantize_embeddings",
      (s, dir) => Quantize.quantizeAudit(
        t(s, dir, "embeddings"), "vec_id", "embedding")
        .orderBy("vec_id"),
      Some("""WITH v AS (
             |  SELECT vec_id, embedding,
             |    coalesce(list_max(list_transform(embedding,
             |      x -> abs(CAST(x AS DOUBLE)))), 0) AS scale
             |  FROM embeddings),
             |q AS (
             |  SELECT vec_id, scale, embedding, len(embedding) AS n_dims,
             |    list_transform(embedding, x -> CASE WHEN scale = 0 THEN 0
             |      ELSE CAST(round(CAST(x AS DOUBLE) / scale * 127) AS INT)
             |      END) AS qv
             |  FROM v)
             |SELECT vec_id, n_dims, scale,
             |  CAST(coalesce(list_sum(qv), 0) AS BIGINT) AS q_sum,
             |  round(coalesce(list_max(list_transform(embedding, (x, i) ->
             |    abs(CAST(x AS DOUBLE) - qv[i] * scale / 127))), 0), 6)
             |    AS max_abs_err
             |FROM q ORDER BY vec_id""".stripMargin)),

    // CCNet-style segment (line) dedup: first occurrence of each
    // distinct 10-token window survives corpus-wide, docs reassembled
    // (LineDedup.dedupSegments). One explode + one min-agg groupBy +
    // one join — no window over an unpartitioned frame.
    QueryDef("q74_line_dedup",
      (s, dir) => {
        val docs = t(s, dir, "documents").select(col("doc_id"),
          LineDedup.tokenSegments(col("text"), 10).as("segs"))
        LineDedup.dedupSegments(docs, "doc_id", "segs").orderBy("doc_id")
      },
      Some("""WITH tk AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(text, ' +'), t -> t <> '') AS tk
             |  FROM documents),
             |base AS (
             |  SELECT doc_id, tk,
             |    CAST(ceil(len(tk) / 10.0) AS BIGINT) AS n_segs
             |  FROM tk),
             |seg AS (
             |  SELECT doc_id, i AS pos,
             |    array_to_string(tk[i*10+1 : i*10+10], ' ') AS seg
             |  FROM (SELECT doc_id, tk,
             |          unnest(generate_series(0, n_segs - 1)) AS i
             |        FROM base)),
             |keep AS (
             |  SELECT doc_id, pos, seg, row_number() OVER (
             |    PARTITION BY seg ORDER BY doc_id, pos) AS rn
             |  FROM seg),
             |reb AS (
             |  SELECT doc_id, count(*) AS n_kept,
             |    string_agg(seg, ' ' ORDER BY pos) AS dedup_text
             |  FROM keep WHERE rn = 1 GROUP BY doc_id)
             |SELECT b.doc_id, b.n_segs,
             |  coalesce(r.n_kept, 0) AS n_kept,
             |  coalesce(r.dedup_text, '') AS dedup_text
             |FROM base b LEFT JOIN reb r USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // Corpus-repeated n-gram spans (Lee et al. 2022 exact-substring
    // dedup signal, TextAnalysis.repeatedNgramSignals): distinct
    // 8-gram inventory per doc, share that appears in ≥2 docs.
    QueryDef("q75_repeated_ngrams",
      (s, dir) => TextAnalysis.repeatedNgramSignals(
        t(s, dir, "documents"), "doc_id", "text", n = 8)
        .orderBy("doc_id"),
      Some("""WITH tk AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(text, ' +'), t -> t <> '') AS tk
             |  FROM documents),
             |ng AS (
             |  SELECT DISTINCT doc_id,
             |    array_to_string(tk[i+1 : i+8], ' ') AS ngram
             |  FROM (SELECT doc_id, tk,
             |          unnest(generate_series(0, len(tk) - 8)) AS i
             |        FROM tk)),
             |freq AS (SELECT ngram, count(*) AS n_docs FROM ng GROUP BY ngram),
             |per AS (
             |  SELECT doc_id, count(*) AS n_ngrams,
             |    CAST(sum(CASE WHEN f.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_repeated
             |  FROM ng JOIN freq f USING (ngram) GROUP BY doc_id)
             |SELECT d.doc_id,
             |  coalesce(p.n_ngrams, 0) AS n_ngrams,
             |  coalesce(p.n_repeated, 0) AS n_repeated,
             |  round(CAST(p.n_repeated AS DOUBLE) / p.n_ngrams, 4)
             |    AS repeated_frac
             |FROM documents d LEFT JOIN per p USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // Unigram-LM perplexity scoring (LanguageModel.trainUnigram +
    // scoreNll, the CCNet quality-gate shape): model trained on the
    // corpus itself, every doc scored by mean NLL under add-1
    // smoothing; the model broadcasts, the corpus never shuffles.
    QueryDef("q76_lm_perplexity",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val lm = LanguageModel.trainUnigram(docs, "text")
        LanguageModel.scoreNll(docs, "doc_id", "text", lm, alpha = 1.0)
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(list_filter(
             |    string_split_regex(text, ' +'), t -> t <> '')) AS token
             |  FROM documents),
             |lm AS (SELECT token, count(*) AS cnt FROM tok GROUP BY token),
             |stats AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t_total,
             |                 CAST(count(*) AS DOUBLE) AS v_size FROM lm),
             |sc AS (
             |  SELECT t.doc_id, count(*) AS n_tokens,
             |    avg(-ln((coalesce(l.cnt, 0) + 1.0) /
             |            (s.t_total + 1.0 * s.v_size))) AS nll
             |  FROM tok t LEFT JOIN lm l USING (token) CROSS JOIN stats s
             |  GROUP BY t.doc_id)
             |SELECT d.doc_id, coalesce(sc.n_tokens, 0) AS n_tokens,
             |  round(sc.nll, 4) AS nll
             |FROM documents d LEFT JOIN sc USING (doc_id)
             |ORDER BY doc_id""".stripMargin)),

    // Token-budget curation (Sampling.budgetSample): per source, the
    // longest (n_chars DESC, doc_id) prefix whose running token total
    // fits 600 — "keep the best N tokens per source".
    QueryDef("q77_budget_sample",
      (s, dir) => {
        val docs = t(s, dir, "documents").withColumn(
          "n_tokens", TextAnalysis.tokenCount(col("text")).cast("long"))
        Sampling.budgetSample(docs, "doc_id", "source", "n_tokens",
            priority = col("n_chars"), budget = 600L)
          .select("doc_id", "source", "n_tokens", "cum_tokens")
          .orderBy("doc_id")
      },
      Some("""WITH d AS (
             |  SELECT doc_id, source, n_chars,
             |    CAST(len(list_filter(string_split_regex(text, ' +'),
             |      t -> t <> '')) AS BIGINT) AS n_tokens
             |  FROM documents),
             |c AS (
             |  SELECT doc_id, source, n_tokens,
             |    CAST(sum(n_tokens) OVER (PARTITION BY source
             |      ORDER BY n_chars DESC, doc_id
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
             |  FROM d)
             |SELECT doc_id, source, n_tokens, cum_tokens
             |FROM c WHERE cum_tokens <= 600
             |ORDER BY doc_id""".stripMargin)),

    // KMV distinct-count sketch (graft_kmv, a native
    // TypedImperativeAggregate): k = 64 smallest distinct text hashes
    // per language → (k−1)·2^60/h_k estimate next to the exact count.
    // Bounded sketch bytes cross the shuffle instead of every
    // distinct value; md5-portable, so DuckDB rebuilds the SAME
    // sketch and the estimate is hash-compared, not tolerance-judged.
    QueryDef("q78_kmv_distinct",
      (s, dir) => {
        val k = 64
        val h = t(s, dir, "documents")
          .select(col("lang"), Hashing.portableHash(col("text")).as("h"))
        h.groupBy("lang")
          .agg(expr(s"graft_kmv(h, $k)").as("sketch"),
            countDistinct(col("h")).as("n_exact"))
          .select(col("lang"), col("n_exact"),
            size(col("sketch")).cast("long").as("k_filled"),
            round(when(size(col("sketch")) < k,
                size(col("sketch")).cast("double"))
              .otherwise(lit((k - 1).toDouble) * lit(1152921504606846976L) /
                element_at(col("sketch"), k).cast("double")), 1)
              .as("kmv_est"))
          .orderBy("lang")
      },
      Some(s"""WITH h AS (
             |  SELECT lang,
             |    ${Hashing.duckPortableHash("text")} AS h
             |  FROM documents),
             |sk AS (
             |  SELECT lang, list_sort(list_distinct(list(h)))[1:64] AS sketch,
             |    count(DISTINCT h) AS n_exact
             |  FROM h GROUP BY lang)
             |SELECT lang, n_exact,
             |  CAST(len(sketch) AS BIGINT) AS k_filled,
             |  round(CASE WHEN len(sketch) < 64 THEN CAST(len(sketch) AS DOUBLE)
             |    ELSE 63.0 * 1152921504606846976 / CAST(sketch[64] AS DOUBLE)
             |    END, 1) AS kmv_est
             |FROM sk ORDER BY lang""".stripMargin)),

    // Trailing-hour per-user stats at each event (Rolling
    // .trailingStats): value-based range frame over integer
    // microseconds (Spark truncates parquet nanos to micros on read;
    // the oracle windows over epoch_ns//1000 so both engines cut the
    // frame at identical instants).
    QueryDef("q79_rolling_stats",
      (s, dir) => Rolling.trailingStats(
        t(s, dir, "events"), "user_id", "ts", "value", windowSec = 3600L)
        .select("event_id", "user_id", "n_win", "avg_win", "z")
        .orderBy("event_id"),
      Some("""WITH w AS (
             |  SELECT event_id, user_id, value,
             |    count(value) OVER win AS n_win,
             |    avg(value) OVER win AS avg_win,
             |    stddev_samp(value) OVER win AS sd
             |  FROM events
             |  WINDOW win AS (PARTITION BY user_id
             |    ORDER BY epoch_ns(ts) // 1000
             |    RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW))
             |SELECT event_id, user_id,
             |  CAST(n_win AS BIGINT) AS n_win,
             |  round(avg_win, 4) AS avg_win,
             |  round(CASE WHEN n_win >= 2 AND sd > 0
             |    THEN (value - avg_win) / sd END, 4) AS z
             |FROM w ORDER BY event_id""".stripMargin)),

    // Vocabulary heavy-hitters (TextAnalysis.topTokens): top-10 tokens
    // per language; map-side-combinable counts, the rank window runs
    // on the vocabulary-sized post-aggregate only.
    QueryDef("q80_top_tokens",
      (s, dir) => TextAnalysis.topTokens(
        t(s, dir, "documents"), "lang", "text", k = 10)
        .orderBy("lang", "rank"),
      Some("""WITH tok AS (
             |  SELECT lang, unnest(list_filter(
             |    string_split_regex(text, ' +'), t -> t <> '')) AS token
             |  FROM documents),
             |c AS (SELECT lang, token, count(*) AS cnt
             |      FROM tok GROUP BY lang, token),
             |r AS (SELECT lang, token, cnt,
             |        CAST(row_number() OVER (PARTITION BY lang
             |          ORDER BY cnt DESC, token) AS INT) AS "rank"
             |      FROM c)
             |SELECT lang, "rank", token, cnt FROM r
             |WHERE "rank" <= 10 ORDER BY lang, "rank"""".stripMargin)),

    // Per-source document-frequency boilerplate report (LineDedup
    // .boilerplateSegments, segment size 1 ≡ df-based stopword
    // discovery): tokens present in ≥60% of a source's docs.
    QueryDef("q81_boilerplate",
      (s, dir) => {
        // segment size 1 ≡ the token array itself — skip the
        // per-element slice/join of tokenSegments(_, 1)
        val docs = t(s, dir, "documents").select(col("doc_id"), col("source"),
          TextAnalysis.tokens(col("text")).as("segs"))
        LineDedup.boilerplateSegments(docs, "doc_id", "segs", "source",
            minFrac = 0.6)
          .orderBy("source", "seg")
      },
      Some("""WITH totals AS (
             |  SELECT source, CAST(count(DISTINCT doc_id) AS DOUBLE) AS n_docs
             |  FROM documents GROUP BY source),
             |sd AS (
             |  SELECT DISTINCT source, doc_id, unnest(list_filter(
             |    string_split_regex(text, ' +'), t -> t <> '')) AS seg
             |  FROM documents),
             |cov AS (
             |  SELECT source, seg, count(*) AS n_docs_with
             |  FROM sd GROUP BY source, seg)
             |SELECT c.source, c.seg, c.n_docs_with,
             |  round(CAST(c.n_docs_with AS DOUBLE) / t.n_docs, 4) AS frac
             |FROM cov c JOIN totals t USING (source)
             |WHERE c.n_docs_with / t.n_docs >= 0.6
             |ORDER BY source, seg""".stripMargin)),

    // Group-wise z-normalization (Normalize.zscore): doc length
    // standardized within its language — two-phase stats + broadcast
    // join back, never a per-group window over the corpus.
    QueryDef("q82_zscore_by_lang",
      (s, dir) => Normalize.zscore(
        t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
        "n_chars", Seq("lang"))
        .orderBy("doc_id"),
      Some("""WITH s AS (
             |  SELECT lang, avg(n_chars) AS mu, stddev_samp(n_chars) AS sd
             |  FROM documents GROUP BY lang)
             |SELECT d.doc_id, d.lang, d.n_chars,
             |  round(CASE WHEN s.sd > 0 THEN (d.n_chars - s.mu) / s.sd END, 4)
             |    AS z
             |FROM documents d JOIN s USING (lang)
             |ORDER BY doc_id""".stripMargin)),

    // PageRank centrality over the MinHash near-dup graph (PageRank
    // .run on Dedup.minhashNearDups edges): well-connected canonical
    // docs rank high, isolates sit at the teleport floor. 5 unrolled
    // power-iteration rounds in both engines.
    QueryDef("q83_pagerank_neardups",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
        // probes the shared persisted pairs table (same slice +
        // parameters as ensureNearDupIndex) instead of re-running
        // minhash per invocation (round 14, the q372 pattern)
        val pairs = ndPairs(s, dir)
        PageRank.run(docs, "doc_id", pairs, "id_a", "id_b",
            damping = 0.85, iters = 5)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      Some("WITH " + minhashVerifiedCtes + ",\n" +
        """prpairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.8),
          |prnodes AS (SELECT doc_id AS id FROM toks),
          |predges AS (SELECT id_a AS src, id_b AS dst FROM prpairs
          |            UNION SELECT id_b, id_a FROM prpairs),
          |""".stripMargin +
        pageRankCtes(d = 0.85, iters = 5) + "\n" +
        """SELECT nd.id AS doc_id,
          |  round(coalesce(p.pr, iso5.pr), 6) AS pr
          |FROM prnodes nd LEFT JOIN pre5 p USING (id) CROSS JOIN iso5
          |ORDER BY doc_id""".stripMargin)),

    // Interval-overlap join (IntervalJoin.pointInInterval): purchases
    // landing inside the 10-minute window after each error event. The
    // naive theta-join is a nested-loop; the op's bucketed equi-join
    // form shuffles once on the time bucket instead.
    QueryDef("q84_interval_join",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val intervals = ev.filter(col("event_type") === "error")
          .select(col("event_id").as("err_id"), col("ts").as("ivl_start"),
            (col("ts") + expr("INTERVAL 600 SECOND")).as("ivl_end"))
        val points = ev.filter(col("event_type") === "purchase")
          .select(col("event_id").as("purchase_id"), col("ts").as("p_ts"))
        IntervalJoin.pointInInterval(intervals, points,
            "ivl_start", "ivl_end", "p_ts", bucketSec = 600L)
          .select(col("err_id"), col("purchase_id"),
            (unix_micros(col("p_ts").cast("timestamp")) -
              unix_micros(col("ivl_start").cast("timestamp"))).as("gap_us"))
          .orderBy("err_id", "purchase_id")
      },
      Some("""WITH i AS (
             |  SELECT event_id AS err_id, ts AS ivl_start,
             |    ts + INTERVAL 600 SECOND AS ivl_end
             |  FROM events WHERE event_type = 'error'),
             |p AS (SELECT event_id AS purchase_id, ts AS p_ts
             |      FROM events WHERE event_type = 'purchase')
             |SELECT i.err_id, p.purchase_id,
             |  epoch_us(p.p_ts) - epoch_us(i.ivl_start) AS gap_us
             |FROM i JOIN p ON p.p_ts >= i.ivl_start AND p.p_ts <= i.ivl_end
             |ORDER BY err_id, purchase_id""".stripMargin)),

    // Rank-based quality tiers (Normalize.ntileBy): length deciles
    // within each language — the "top 10% for its stratum" bucket a
    // curation rule consumes. Deterministic via the doc_id tie-break.
    QueryDef("q85_quality_tiers",
      (s, dir) => Normalize.ntileBy(
          t(s, dir, "documents").select("doc_id", "lang", "n_chars"),
          n = 10, "n_chars", Seq("lang"), tieBreak = col("doc_id"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id, lang, n_chars,
             |  CAST(ntile(10) OVER (PARTITION BY lang
             |    ORDER BY n_chars, doc_id) AS INT) AS tier
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Deterministic global shuffle + shard assignment (Sampling
    // .shuffleShards): every doc gets a stable pseudo-random epoch
    // position and a 64-doc shard id — distributed sortBy+zipWithIndex,
    // no single-task global window.
    QueryDef("q86_training_shards",
      (s, dir) => Sampling.shuffleShards(
          t(s, dir, "documents").select("doc_id", "source"),
          "doc_id", shardSize = 64L)
        .orderBy("rank"),
      Some(s"""WITH h AS (
             |  SELECT doc_id, source,
             |    ${Hashing.duckPortableHash("CAST(doc_id AS VARCHAR)")} AS h
             |  FROM documents),
             |r AS (SELECT doc_id, source,
             |        row_number() OVER (ORDER BY h, CAST(doc_id AS VARCHAR))
             |          - 1 AS "rank"
             |      FROM h)
             |SELECT doc_id, source, "rank", "rank" // 64 AS shard
             |FROM r ORDER BY "rank"""".stripMargin)),

    // Hashing-trick linear classifier inference (Classifier.scoreDocs):
    // fastText-shaped quality gate — token hash → bucket → ppm weight,
    // integer sum, one codegen'd projection, zero shuffle. Weights are
    // hash-derived stand-ins with the real model's exact data flow.
    QueryDef("q87_hash_classifier",
      (s, dir) => Classifier.scoreDocs(
          t(s, dir, "documents").select("doc_id", "text"), "text",
          dim = 4096)
        .select("doc_id", "n_tokens", "score_ppm", "keep")
        .orderBy("doc_id"),
      Some(s"""WITH tok AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(text, ' +'), t -> t <> '') AS toks
             |  FROM documents),
             |s AS (SELECT doc_id, len(toks) AS n,
             |        ${Classifier.duckPpmSum("toks", 4096)} AS ppm
             |      FROM tok)
             |SELECT doc_id, CAST(n AS INT) AS n_tokens,
             |  CASE WHEN n > 0 THEN
             |    CAST(floor(CAST(ppm AS DOUBLE) / n) AS BIGINT) END
             |    AS score_ppm,
             |  CASE WHEN n > 0 THEN ppm > 0 END AS keep
             |FROM s ORDER BY doc_id""".stripMargin)),

    // Semantic decontamination (Similarity.semanticDecontaminate):
    // embedding-space eval-set leakage removal — benchmark broadcast,
    // corpus scored in place, survivors with their max benchmark
    // cosine. vec_id < 50 plays the held-out benchmark.
    QueryDef("q88_semantic_decontam",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.semanticDecontaminate(
            emb.filter(col("vec_id") >= 50), emb.filter(col("vec_id") < 50),
            "vec_id", "embedding", threshold = 0.45)
          .orderBy("vec_id")
      },
      Some(s"""WITH b AS (SELECT embedding FROM embeddings WHERE vec_id < 50),
             |c AS (SELECT vec_id, embedding FROM embeddings
             |      WHERE vec_id >= 50),
             |s AS (
             |  SELECT c.vec_id,
             |    round(max(${duckCos("c.embedding", "b.embedding")}), 4)
             |      AS max_bench_cos
             |  FROM c CROSS JOIN b GROUP BY c.vec_id)
             |SELECT vec_id, max_bench_cos FROM s
             |WHERE max_bench_cos < 0.45 ORDER BY vec_id""".stripMargin)),

    // Column profiler (Profile.summary): per-column row/non-null/
    // distinct counts + numeric min/max in ONE aggregation pass —
    // the ingest-time data-quality report. Oracle generated from the
    // same column list by Profile.duckSummarySql.
    QueryDef("q89_profile",
      (s, dir) => Profile.summary(t(s, dir, "lineitem"),
          Shared.profileCols.map(_._1))
        .orderBy("col_name"),
      Some(Profile.duckSummarySql("lineitem", profileCols)))
  )
}
