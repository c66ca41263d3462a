package graft.queries

import graft.core.Graft
import graft.functions.{CmsSketch, Hashing}
import graft.ops.{Pin, ActiveLearning, Agreement, Allocate, Anonymity, AsofJoin, Attribution,
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

/** Catalog section `extraDefs` of the former monolithic GemQueries
  * (mechanical round-14 split; content unchanged).
  */
private[queries] object QueriesExtra {

  /** Third catalog section (round 11+) — its own Seq literal so the
    * already-huge `moreDefs` method stays clear of JVM size limits.
    */
  val defs: Seq[QueryDef] = Seq(

    // Frequent-itemset mining + association rules (ops/Itemsets.rules,
    // Apriori pair grain): baskets = orders, items = the part brands
    // they contain. The L1 pass prunes to frequent items BEFORE the
    // per-basket pair expansion (Apriori monotonicity), pairs come
    // from a basket-key self-join, and support/confidence/lift are
    // integer-count ratios — the oracle replays the identical
    // lattice in SQL.
    QueryDef("q161_assoc_rules",
      (s, dir) => {
        val li = t(s, dir, "lineitem").select("l_orderkey", "l_partkey")
        val part = t(s, dir, "part").select("p_partkey", "p_brand")
        val basket = li.join(part, col("l_partkey") === col("p_partkey"))
        Itemsets.rules(basket, "l_orderkey", "p_brand", minSupport = 50)
          .orderBy("antecedent", "consequent")
      },
      Some(s"""WITH b AS (
             |  SELECT DISTINCT l_orderkey AS basket, p_brand AS item
             |  FROM lineitem JOIN part ON l_partkey = p_partkey),
             |${assocRulesSql(minSupport = 50)}""".stripMargin)),

    // Robust per-language outlier gate (ops/Outliers.madSummary):
    // median / MAD with the 1.4826 sigma-equivalence factor, k=3 —
    // the 50%-breakdown alternative to q82's mean/stddev z-score.
    // Both passes are the exact interpolated percentile kernel q143
    // already pinned against DuckDB's percentile_cont.
    QueryDef("q162_mad_outliers",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Outliers.madSummary(docs, "lang", "n_chars", k = 3.0)
          .orderBy("lang")
      },
      Some("""WITH d AS (
             |  SELECT lang, CAST(n_chars AS DOUBLE) AS v
             |  FROM documents WHERE n_chars IS NOT NULL),
             |m AS (SELECT lang,
             |        percentile_cont(0.5) WITHIN GROUP (ORDER BY v) AS med
             |      FROM d GROUP BY 1),
             |md AS (SELECT d.lang,
             |         percentile_cont(0.5) WITHIN GROUP
             |           (ORDER BY abs(v - med)) AS mad
             |       FROM d JOIN m USING (lang) GROUP BY 1)
             |SELECT d.lang, count(*) AS n,
             |  round(med, 4) AS med, round(mad, 4) AS mad,
             |  CAST(sum(CASE WHEN abs(v - med) > 3.0 * 1.4826 * mad
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
             |FROM d JOIN m USING (lang) JOIN md USING (lang)
             |GROUP BY d.lang, med, mad
             |ORDER BY 1""".stripMargin)),

    // Pareto-frontier selection (ops/Pareto.frontier2d): per brand,
    // the parts no other part beats on BOTH size (maximize) and
    // retail price (minimize). The op is the O(n log n) staircase —
    // two windows after one sort — while the oracle replays the
    // textbook O(n²) NOT EXISTS dominance test, so the staircase's
    // tie handling is proven equivalent to the definition.
    QueryDef("q163_pareto_frontier",
      (s, dir) => {
        val part = t(s, dir, "part")
          .select("p_brand", "p_partkey", "p_size", "p_retailprice")
        Pareto.frontier2d(part, "p_brand", "p_size", "p_retailprice")
          .orderBy("p_brand", "p_partkey")
      },
      Some("""SELECT p_brand, p_partkey, p_size, p_retailprice
             |FROM part p
             |WHERE NOT EXISTS (
             |  SELECT 1 FROM part q
             |  WHERE q.p_brand = p.p_brand
             |    AND q.p_size >= p.p_size
             |    AND q.p_retailprice <= p.p_retailprice
             |    AND (q.p_size > p.p_size
             |      OR q.p_retailprice < p.p_retailprice))
             |ORDER BY 1, 2""".stripMargin)),

    // Largest-remainder integer apportionment (ops/Allocate
    // .largestRemainder): split a 1000-doc sampling budget across
    // sources proportionally to their total characters. All integer
    // arithmetic — DIV/mod on 64-bit — so Σ seats ≡ budget exactly
    // and the oracle reproduces every seat bit-for-bit.
    QueryDef("q164_largest_remainder",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Allocate.largestRemainder(docs, "source", "n_chars", budget = 1000L)
          .orderBy("source")
      },
      Some("""WITH agg AS (
             |  SELECT source,
             |    CAST(sum(coalesce(n_chars, 0)) AS BIGINT) AS weight
             |  FROM documents GROUP BY 1),
             |tot AS (SELECT sum(weight) AS w FROM agg),
             |f AS (SELECT source, weight,
             |        (1000 * weight) // w AS floor_seats,
             |        (1000 * weight) % w AS rem
             |      FROM agg, tot),
             |l AS (SELECT sum(floor_seats) AS fs FROM f)
             |SELECT source, weight,
             |  CAST(floor_seats AS BIGINT) AS floor_seats,
             |  CAST(rem AS BIGINT) AS rem,
             |  CAST(floor_seats + CASE WHEN
             |      row_number() OVER (ORDER BY rem DESC, source)
             |        <= 1000 - l.fs
             |      THEN 1 ELSE 0 END AS BIGINT) AS seats
             |FROM f, l ORDER BY source""".stripMargin)),

    // Triangle count + local clustering coefficient (ops/GraphMetrics
    // .triangleStats) over the nation-level trade graph: an edge
    // wherever a customer nation bought ≥100 lineitems from a
    // supplier nation. The op orients wedges by (degree, id) — the
    // Schank–Wagner O(m^1.5) bound — while the oracle enumerates by
    // plain id order; any consistent total order counts each triangle
    // once, so the two agree exactly.
    QueryDef("q165_triangle_stats",
      (s, dir) => {
        val edges = tradeEdges(s, dir)
        GraphMetrics.triangleStats(edges, "c_nationkey", "s_nationkey")
          .orderBy("node")
      },
      Some(s"""$tradeGraphCtes
             |tri AS (SELECT e1.a AS v1, e1.b AS v2, e2.b AS v3
             |        FROM e e1
             |        JOIN e e2 ON e1.b = e2.a
             |        JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b),
             |pt AS (SELECT node, count(*) AS triangles FROM (
             |         SELECT v1 AS node FROM tri
             |         UNION ALL SELECT v2 FROM tri
             |         UNION ALL SELECT v3 FROM tri)
             |       GROUP BY 1)
             |SELECT deg.node, degree,
             |  CAST(coalesce(triangles, 0) AS BIGINT) AS triangles,
             |  round(CASE WHEN degree >= 2
             |    THEN 2.0 * coalesce(triangles, 0) /
             |      (degree * (degree - 1.0))
             |    ELSE 0.0 END, 4) AS clustering
             |FROM deg LEFT JOIN pt USING (node)
             |ORDER BY 1""".stripMargin)),

    // Record linkage against a perturbed twin (ops/Linkage): every
    // 3rd part loses its last name token, every 5th gets its brand
    // rewritten — then the original and the twin are re-aligned by
    // (first-token, size, type) blocking — type is untouched by the
    // perturbation, so adding it to the block key shrinks candidate
    // blocks ~150× at ZERO recall cost (this is the "block
    // selectivity is THE scale knob" lever, applied: the 2-key
    // variant measured ~7× cost for 10× data; 3-key re-measures
    // ~linear) — and a weighted agreement score (0.5·name-Jaccard +
    // 0.2·brand + 0.3·type). Ground truth is key equality, so the
    // report shows exactly how many true pairs each decision bucket
    // captured. Mean scores cross the compare as exact micro-unit
    // sums, not float folds.
    QueryDef("q166_record_linkage",
      (s, dir) => {
        val p = t(s, dir, "part")
          .select("p_partkey", "p_name", "p_brand", "p_type", "p_size")
        val toks = split(col("p_name"), " ")
        val twin = p.select(col("p_partkey"),
          when(col("p_partkey") % 3 === 0,
            array_join(slice(toks, lit(1), size(toks) - 1), " "))
            .otherwise(col("p_name")).as("p_name"),
          when(col("p_partkey") % 5 === 0, lit("Brand#99"))
            .otherwise(col("p_brand")).as("p_brand"),
          col("p_type"), col("p_size"))
        def blocked(df: DataFrame) = df.withColumn("first_tok",
          element_at(split(col("p_name"), " "), 1))
        val pairs = Linkage.candidates(blocked(p), blocked(twin),
          "p_partkey", "p_name", Seq("first_tok", "p_size", "p_type"),
          Seq("p_brand" -> 0.2, "p_type" -> 0.3), nameWeight = 0.5)
        Linkage.linkReport(pairs, matchAt = 0.75, possibleAt = 0.5)
          .orderBy("decision")
      },
      Some("""WITH tw AS (
             |  SELECT p_partkey AS key_b,
             |    CASE WHEN p_partkey % 3 = 0
             |      THEN array_to_string(ss[1:len(ss) - 1], ' ')
             |      ELSE p_name END AS name_b,
             |    CASE WHEN p_partkey % 5 = 0 THEN 'Brand#99'
             |      ELSE p_brand END AS brand_b,
             |    p_type AS type_b, p_size
             |  FROM (SELECT *, string_split(p_name, ' ') AS ss FROM part)),
             |a2 AS (SELECT p_partkey AS key_a,
             |         list_distinct(string_split(p_name, ' ')) AS toks_a,
             |         p_brand AS brand_a, p_type AS type_a, p_size,
             |         string_split(p_name, ' ')[1] AS ft
             |       FROM part),
             |b2 AS (SELECT key_b,
             |         list_distinct(string_split(name_b, ' ')) AS toks_b,
             |         brand_b, type_b, p_size,
             |         string_split(name_b, ' ')[1] AS ft
             |       FROM tw),
             |sc AS (SELECT key_a, key_b,
             |         round(CAST(len(list_intersect(toks_a, toks_b))
             |             AS DOUBLE) /
             |           len(list_distinct(list_concat(toks_a, toks_b))), 6)
             |           AS jacc,
             |         CASE WHEN brand_a = brand_b THEN 0.2 ELSE 0.0 END +
             |         CASE WHEN type_a = type_b THEN 0.3 ELSE 0.0 END AS ex
             |       FROM a2 JOIN b2
             |         ON a2.ft = b2.ft AND a2.p_size = b2.p_size
             |         AND a2.type_a = b2.type_b),
             |dec AS (SELECT key_a, key_b,
             |          round(0.5 * jacc + ex, 6) AS score,
             |          CASE WHEN round(0.5 * jacc + ex, 6) >= 0.75
             |              THEN 'match'
             |            WHEN round(0.5 * jacc + ex, 6) >= 0.5
             |              THEN 'possible'
             |            ELSE 'miss' END AS decision
             |        FROM sc)
             |SELECT decision, count(*) AS n_pairs,
             |  CAST(sum(CASE WHEN key_a = key_b THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_true,
             |  round(CAST(sum(CAST(round(score * 1000000.0) AS BIGINT))
             |      AS DOUBLE) /
             |    (count(*) * 1000000.0), 4) AS mean_score
             |FROM dec GROUP BY 1 ORDER BY 1""".stripMargin)),

    // A/B readout with CUPED variance reduction (ops/Experiment
    // .cupedReport, Deng et al. WSDM'13): arms = user_id parity,
    // metric y = second-half purchase spend, covariate x = FIRST-half
    // spend (pre-experiment by construction), θ = pooled OLS slope.
    // Every moment crosses the shuffle as an exact integer-cents sum
    // — the only order-sensitive step made order-free — so t, θ, and
    // the adjusted means are bit-reproducible from the oracle's
    // identical expression tree.
    QueryDef("q167_cuped_abtest",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val cut = lit("2024-01-16 00:00:00").cast("timestamp_ntz")
        val cents = round(col("value") * 100).cast("long")
        val isPurch = col("event_type") === "purchase"
        val perUser = ev.groupBy("user_id").agg(
          sum(when(isPurch && col("ts") < cut, cents).otherwise(0L)).as("x"),
          sum(when(isPurch && col("ts") >= cut, cents).otherwise(0L)).as("y"))
          .withColumn("arm", pmod(col("user_id"), lit(2)))
        Experiment.cupedReport(perUser).orderBy("arm")
      },
      Some("""WITH pu AS (
             |  SELECT user_id, user_id % 2 AS arm,
             |    sum(CASE WHEN event_type = 'purchase'
             |        AND ts < TIMESTAMP '2024-01-16 00:00:00'
             |      THEN CAST(round(value * 100) AS BIGINT)
             |      ELSE 0 END) AS x,
             |    sum(CASE WHEN event_type = 'purchase'
             |        AND ts >= TIMESTAMP '2024-01-16 00:00:00'
             |      THEN CAST(round(value * 100) AS BIGINT)
             |      ELSE 0 END) AS y
             |  FROM events GROUP BY 1, 2),
             |arms AS (SELECT arm, count(*) AS n,
             |    sum(y) AS sy, sum(y * y) AS syy,
             |    sum(x) AS sx, sum(x * x) AS sxx, sum(x * y) AS sxy
             |  FROM pu GROUP BY 1),
             |pool AS (SELECT sum(n) AS tn, sum(sx) AS tsx,
             |    sum(sy) AS tsy, sum(sxx) AS tsxx, sum(sxy) AS tsxy
             |  FROM arms),
             |calc AS (SELECT arm, n,
             |    CAST(sy AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0)
             |      AS mean_y_d,
             |    (CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) *
             |        CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) /
             |      ((CAST(n AS DOUBLE) - 1.0) * 10000.0) AS var_y_d,
             |    CAST(sx AS DOUBLE) / (CAST(n AS DOUBLE) * 100.0)
             |      AS mean_x_d,
             |    (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *
             |        CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) /
             |      ((CAST(n AS DOUBLE) - 1.0) * 10000.0) AS var_x_d,
             |    (CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) *
             |        CAST(sy AS DOUBLE) / CAST(n AS DOUBLE)) /
             |      ((CAST(n AS DOUBLE) - 1.0) * 10000.0) AS cov_d,
             |    (CAST(tsxy AS DOUBLE) - CAST(tsx AS DOUBLE) *
             |        CAST(tsy AS DOUBLE) / CAST(tn AS DOUBLE)) /
             |      (CAST(tsxx AS DOUBLE) - CAST(tsx AS DOUBLE) *
             |        CAST(tsx AS DOUBLE) / CAST(tn AS DOUBLE)) AS theta_d,
             |    CAST(tsx AS DOUBLE) / (CAST(tn AS DOUBLE) * 100.0)
             |      AS pool_mean_x
             |  FROM arms, pool),
             |adj AS (SELECT *,
             |    mean_y_d - theta_d * (mean_x_d - pool_mean_x)
             |      AS mean_adj_d,
             |    var_y_d - 2.0 * theta_d * cov_d +
             |      theta_d * theta_d * var_x_d AS var_adj_d
             |  FROM calc),
             |tt AS (SELECT
             |    sum(CASE WHEN arm = 1 THEN mean_y_d
             |      ELSE -mean_y_d END) /
             |      sqrt(sum(var_y_d / CAST(n AS DOUBLE))) AS t_raw_d,
             |    sum(CASE WHEN arm = 1 THEN mean_adj_d
             |      ELSE -mean_adj_d END) /
             |      sqrt(sum(var_adj_d / CAST(n AS DOUBLE))) AS t_cuped_d
             |  FROM adj)
             |SELECT arm, n,
             |  round(mean_y_d, 4) AS mean_y, round(var_y_d, 4) AS var_y,
             |  round(mean_adj_d, 4) AS mean_adj,
             |  round(var_adj_d, 4) AS var_adj,
             |  round(theta_d, 6) AS theta, round(t_raw_d, 4) AS t_raw,
             |  round(t_cuped_d, 4) AS t_cuped
             |FROM adj, tt ORDER BY arm""".stripMargin)),

    // Z-order layout audit (ops/ZOrder.layoutReport): Morton-
    // interleave 8-bit-quantized (extendedprice, quantity), then per
    // fixed z-slice — the stand-in for one output file under
    // repartitionByRange(z) — report row count, both dimensions'
    // min/max extents, and the covered-rectangle area. Tight
    // rectangles on BOTH axes are what make parquet min/max stats
    // prune for predicates on either column; a plain price sort
    // would leave every slice's quantity extent at full width.
    QueryDef("q168_zorder_layout",
      (s, dir) => ZOrder.layoutReport(
          t(s, dir, "lineitem"), "l_extendedprice", "l_quantity",
          xLo = 900.0, xHi = 105000.0, yLo = 1.0, yHi = 51.0,
          sliceBits = 4)
        .orderBy("slice"),
      Some("""WITH q AS (
             |  SELECT
             |    least(greatest(CAST(floor(
             |      (CAST(l_extendedprice AS DOUBLE) - 900.0) / 104100.0
             |        * 256.0) AS BIGINT), 0), 255) AS qx,
             |    least(greatest(CAST(floor(
             |      (CAST(l_quantity AS DOUBLE) - 1.0) / 50.0
             |        * 256.0) AS BIGINT), 0), 255) AS qy
             |  FROM lineitem
             |  WHERE l_extendedprice IS NOT NULL
             |    AND l_quantity IS NOT NULL),
             |z AS (SELECT qx, qy,
             |    list_sum(list_transform(generate_series(0, 7), b ->
             |      (((qx >> b) & 1) << (2 * b)) +
             |      (((qy >> b) & 1) << (2 * b + 1)))) AS zv
             |  FROM q)
             |SELECT CAST(zv // 4096 AS BIGINT) AS slice, count(*) AS n,
             |  min(qx) AS min_x, max(qx) AS max_x,
             |  min(qy) AS min_y, max(qy) AS max_y,
             |  CAST((max(qx) - min(qx) + 1) * (max(qy) - min(qy) + 1)
             |    AS BIGINT) AS area
             |FROM z GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Source-to-source vocabulary Jaccard matrix (ops/SourceSim
    // .pairwiseVocabJaccard): every source pair's token-set overlap,
    // estimated from per-source KMV sketches (k longs of state per
    // source — the 100 TB path) with the exact inverted-index tier
    // in the same row making the estimate's error visible, exactly
    // the q154 two-tier pattern. md5 hashing keeps every sketch
    // value engine-portable, so even the estimate is hash-compared.
    QueryDef("q169_source_similarity",
      (s, dir) => SourceSim.pairwiseVocabJaccard(
          t(s, dir, "documents"), "source", "text", k = 128)
        .orderBy("source_a", "source_b"),
      Some(s"""WITH toks AS (
             |  SELECT DISTINCT source AS src,
             |    unnest(list_filter(string_split_regex(text, ' +'),
             |      t -> t <> '')) AS token
             |  FROM documents),
             |ha AS (SELECT src,
             |    ${Hashing.duckPortableHash("token")} AS h
             |  FROM toks),
             |sk AS (SELECT src,
             |    list_sort(list_distinct(list(h)))[1:128] AS sig,
             |    count(*) AS n
             |  FROM ha GROUP BY src),
             |inter AS (SELECT x.src AS source_a, y.src AS source_b,
             |    count(*) AS n_int
             |  FROM toks x JOIN toks y
             |    ON x.token = y.token AND x.src < y.src
             |  GROUP BY 1, 2),
             |pairs AS (SELECT a.src AS source_a, b.src AS source_b,
             |    a.sig AS sa, b.sig AS sb, a.n AS n_a, b.n AS n_b
             |  FROM sk a JOIN sk b ON a.src < b.src),
             |wu AS (SELECT *,
             |    list_sort(list_distinct(sa || sb))[1:128] AS u
             |  FROM pairs),
             |calc AS (SELECT *, len(u) AS m,
             |    len(list_intersect(list_intersect(u, sa), sb))
             |      AS matches,
             |    coalesce(n_int, 0) AS ni
             |  FROM wu LEFT JOIN inter USING (source_a, source_b))
             |SELECT source_a, source_b,
             |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             |  CAST(ni AS BIGINT) AS n_int,
             |  round(CAST(ni AS DOUBLE) /
             |    CAST(n_a + n_b - ni AS DOUBLE), 4) + 0.0 AS jacc,
             |  round(CAST(matches AS DOUBLE) / CAST(m AS DOUBLE), 4)
             |    + 0.0 AS jacc_est
             |FROM calc ORDER BY 1, 2""".stripMargin)),

    // Linear gap interpolation (Rolling.interpolate — R zoo::
    // na.approx(rule=1) parity): 'error' events' values are nulled
    // (simulated sensor dropouts) and refilled by time-weighted
    // interpolation between each user's bracketing observations;
    // unbracketed edges stay null. Filled doubles cross the compare
    // as exact micro-unit sums.
    QueryDef("q170_interpolate",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .withColumn("value",
            when(col("event_type") === "error",
              lit(null).cast("double")).otherwise(col("value")))
          .withColumn("t_us", unix_micros(col("ts").cast("timestamp")))
        Rolling.interpolate(ev, Seq("user_id"), "t_us", "event_id", "value")
          .groupBy("event_type")
          .agg(count(lit(1)).as("n_rows"),
            (count(lit(1)) - count(col("value"))).as("n_null"),
            sum(round(col("value") * lit(1e6)).cast("long"))
              .as("sum_micros"))
          .orderBy("event_type")
      },
      Some("""WITH base AS (
             |  SELECT user_id, event_id, event_type, epoch_us(ts) AS t,
             |    CASE WHEN event_type = 'error' THEN NULL
             |      ELSE value END AS v
             |  FROM events),
             |w AS (SELECT *,
             |    last_value(v IGNORE NULLS) OVER wb AS vp,
             |    last_value(CASE WHEN v IS NOT NULL
             |      THEN CAST(t AS DOUBLE) END IGNORE NULLS) OVER wb AS tp,
             |    first_value(v IGNORE NULLS) OVER wf AS vn,
             |    first_value(CASE WHEN v IS NOT NULL
             |      THEN CAST(t AS DOUBLE) END IGNORE NULLS) OVER wf AS tn
             |  FROM base
             |  WINDOW wb AS (PARTITION BY user_id ORDER BY t, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             |    wf AS (PARTITION BY user_id ORDER BY t, event_id
             |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)),
             |f AS (SELECT event_type,
             |    CASE WHEN v IS NOT NULL THEN v
             |      WHEN vp IS NOT NULL AND vn IS NOT NULL
             |      THEN vp + (vn - vp) *
             |        ((CAST(t AS DOUBLE) - tp) / (tn - tp))
             |      END AS v2
             |  FROM w)
             |SELECT event_type, count(*) AS n_rows,
             |  CAST(count(*) - count(v2) AS BIGINT) AS n_null,
             |  CAST(sum(CAST(round(v2 * 1000000.0) AS BIGINT)) AS BIGINT)
             |    AS sum_micros
             |FROM f GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Top-k 3-step event paths (ops/Paths.topTrigramPaths): the
    // sequential-pattern counterpart of q138's one-step transition
    // matrix — lead windows over the per-user (ts, id)-sorted
    // stream, so each row carries its next two types and no
    // collect_list ever materializes a session.
    QueryDef("q171_event_paths",
      (s, dir) => Paths.topTrigramPaths(
          t(s, dir, "events"), "user_id", "ts", "event_id",
          "event_type", k = 20)
        .orderBy("rank"),
      Some("""WITH s AS (
             |  SELECT user_id, event_type,
             |    lead(event_type, 1) OVER w AS s2,
             |    lead(event_type, 2) OVER w AS s3
             |  FROM events
             |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
             |c AS (SELECT event_type AS step1, s2 AS step2, s3 AS step3,
             |    count(*) AS n
             |  FROM s WHERE s2 IS NOT NULL AND s3 IS NOT NULL
             |  GROUP BY 1, 2, 3),
             |r AS (SELECT *, CAST(row_number() OVER (
             |    ORDER BY n DESC, step1, step2, step3) AS INT) AS "rank"
             |  FROM c)
             |SELECT step1, step2, step3, n, "rank" FROM r
             |WHERE "rank" <= 20 ORDER BY "rank"""".stripMargin)),

    // Benford first-digit audit (ops/Benford.firstDigitAudit): the
    // leading digit comes from integer truncation + string render —
    // no float formatting, no runtime log10 (expectations are pinned
    // 6-decimal literals) — and χ² is a rational expression over
    // integer counts. TPC-H's synthetic totalprice FAILS Benford
    // loudly; the statistic saying so is the demonstration.
    QueryDef("q172_benford",
      (s, dir) => Benford.firstDigitAudit(
          t(s, dir, "orders"), "o_orderpriority", "o_totalprice")
        .orderBy("o_orderpriority", "digit"),
      Some("""WITH ex AS (SELECT * FROM (VALUES
             |    (1, 0.30103), (2, 0.176091), (3, 0.124939),
             |    (4, 0.09691), (5, 0.079181), (6, 0.066947),
             |    (7, 0.057992), (8, 0.051153), (9, 0.045757))
             |    AS t(digit, p_exp)),
             |vv AS (SELECT o_orderpriority,
             |    CAST(substr(CAST(CAST(trunc(CAST(o_totalprice AS DOUBLE))
             |      AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit
             |  FROM orders WHERE CAST(o_totalprice AS DOUBLE) >= 1.0),
             |c AS (SELECT o_orderpriority, digit, count(*) AS n_obs
             |  FROM vv GROUP BY 1, 2),
             |grid AS (SELECT g.o_orderpriority, ex.digit, ex.p_exp
             |  FROM (SELECT DISTINCT o_orderpriority FROM c) g, ex),
             |j AS (SELECT grid.o_orderpriority, grid.digit,
             |    coalesce(n_obs, 0) AS n_obs, p_exp
             |  FROM grid LEFT JOIN c
             |    ON grid.o_orderpriority = c.o_orderpriority
             |    AND grid.digit = c.digit),
             |t2 AS (SELECT *, sum(n_obs) OVER
             |    (PARTITION BY o_orderpriority) AS nn FROM j),
             |t3 AS (SELECT o_orderpriority, digit, n_obs, p_exp,
             |    CAST(n_obs AS DOUBLE) / CAST(nn AS DOUBLE) AS p_obs, nn
             |  FROM t2),
             |t4 AS (SELECT *, sum(CAST(nn AS DOUBLE) *
             |      (p_obs - p_exp) * (p_obs - p_exp) / p_exp) OVER
             |    (PARTITION BY o_orderpriority) AS chi2
             |  FROM t3)
             |SELECT o_orderpriority, digit, CAST(n_obs AS BIGINT) AS n_obs,
             |  round(p_obs, 4) AS p_obs, p_exp, round(chi2, 4) AS chi2
             |FROM t4 ORDER BY 1, 2""".stripMargin)),

    // Per-source concentration report (ops/Concentration.giniReport):
    // Gini + top-decile share of character mass — the "is this corpus
    // worth deduping/re-mixing" diagnostic. Rank-formula Gini over
    // ONE per-group sort; every sum is exact 64-bit integers and
    // Σi·xᵢ is tie-order invariant, so only the final division is
    // floating point.
    QueryDef("q173_gini_concentration",
      (s, dir) => Concentration.giniReport(
          t(s, dir, "documents"), "source", "n_chars")
        .orderBy("source"),
      Some("""WITH in0 AS (
             |  SELECT source, CAST(n_chars AS BIGINT) AS x
             |  FROM documents WHERE n_chars IS NOT NULL AND n_chars >= 0),
             |r AS (SELECT source, x,
             |    row_number() OVER (PARTITION BY source ORDER BY x) AS i,
             |    count(*) OVER (PARTITION BY source) AS nn
             |  FROM in0),
             |a AS (SELECT source, count(*) AS n, sum(x) AS total,
             |    sum(i * x) AS sxi,
             |    sum(CASE WHEN i > nn - nn // 10 THEN x ELSE 0 END)
             |      AS top10
             |  FROM r GROUP BY 1)
             |SELECT source, CAST(n AS BIGINT) AS n,
             |  CAST(total AS BIGINT) AS total,
             |  round(CAST(2 * sxi - (n + 1) * total AS DOUBLE) /
             |    CAST(n * total AS DOUBLE), 6) AS gini,
             |  round(CAST(top10 AS DOUBLE) / CAST(total AS DOUBLE), 6)
             |    AS top10_share
             |FROM a ORDER BY 1""".stripMargin)),

    // Event debouncing (ops/Debounce.firstOfBurst): per (user, type),
    // events closer than 24h collapse into one burst and only the
    // head survives — duplicate-click / retry-storm suppression, the
    // batch twin of a keyed-state streaming debounce. Gap compares
    // are integer microseconds; tie order pinned by event_id.
    QueryDef("q174_debounce",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val kept = Debounce.firstOfBurst(ev,
          Seq("user_id", "event_type"), "ts", "event_id",
          toleranceUs = 86400000000L)
        val k = kept.groupBy("event_type").agg(
          count(lit(1)).as("n_kept"),
          sum(round(col("value") * lit(1e6)).cast("long"))
            .as("kept_value_micros"))
        ev.groupBy("event_type").agg(count(lit(1)).as("n_events"))
          .join(k, Seq("event_type"))
          .orderBy("event_type")
      },
      Some("""WITH b AS (
             |  SELECT event_type, user_id, event_id, epoch_us(ts) AS t,
             |    value
             |  FROM events),
             |l AS (SELECT *, lag(t) OVER (PARTITION BY user_id,
             |    event_type ORDER BY t, event_id) AS pt FROM b),
             |k AS (SELECT * FROM l
             |  WHERE pt IS NULL OR t - pt > 86400000000),
             |ka AS (SELECT event_type, count(*) AS n_kept,
             |    sum(CAST(round(value * 1000000.0) AS BIGINT))
             |      AS kept_value_micros
             |  FROM k GROUP BY 1),
             |ra AS (SELECT event_type, count(*) AS n_events
             |  FROM events GROUP BY 1)
             |SELECT ra.event_type, n_events, n_kept,
             |  CAST(kept_value_micros AS BIGINT) AS kept_value_micros
             |FROM ra JOIN ka USING (event_type)
             |ORDER BY 1""".stripMargin)),

    // Classifier decile lift & calibration table (gains chart): the
    // q147-trained quality classifier's scores, ranked and cut into
    // population deciles (decile 0 = highest score) — per decile the
    // mean prediction, actual positive rate, and lift over base rate.
    // The hashed-feature model's p spread is tiny (per-doc feature
    // normalization → near-constant |z|), so ABSOLUTE probability
    // bins collapse to one row; rank deciles expose the real
    // discrimination (monotone lift) AND the calibration gap at
    // once. Rank cuts are exact integer arithmetic; means cross as
    // micro-unit sums, rates/lift as floor-ppm integers. The global
    // rank runs at the scored-eval-sample grain, not the corpus.
    QueryDef("q175_calibration",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .withColumn("y",
            (instr(col("text"), "join") > 0).cast("int"))
        val model = LogReg.train(docs, "doc_id", "text", "y",
          dim = 256, lr = 5.0, iters = 5)
        val scored = docs.select(col("doc_id"), col("y"))
          .join(LogReg.score(docs, "doc_id", "text", model, dim = 256)
            .select(col("doc_id"), col("p")), Seq("doc_id"))
          // Ranked AND totalled below: pin so scoring runs once.
          .transform(Pin.shared)
        // Rank on the ROUNDED score: ulp-level engine differences in
        // the float dot product must not reorder near-ties at a
        // decile boundary; round-6 + doc_id makes the order exact.
        // The rank is DISTRIBUTED (Rank.globalRowNumber) — the r11
        // verdict's q175 scale-killer was this exact frame through an
        // unpartitioned row_number window; totals are a 1-row
        // aggregate broadcast back, not count-over-everything windows.
        Rank.globalRowNumber(
            scored.withColumn("_pk", round(col("p"), 6)),
            Seq("_pk" -> false, "doc_id" -> true), "_rk")
          .crossJoin(broadcast(scored.agg(
            count(lit(1)).as("_n_tot"),
            sum(col("y").cast("long")).as("_pos_tot"))))
          .withColumn("decile",
            expr("((_rk - 1) * 10) DIV _n_tot").cast("int"))
          .groupBy("decile")
          .agg(count(lit(1)).as("n"),
            sum(round(col("p") * lit(1e6)).cast("long"))
              .as("_p_micros"),
            sum(col("y").cast("long")).as("n_pos"),
            max("_n_tot").as("_nt"), max("_pos_tot").as("_pt"))
          .select(col("decile"), col("n"),
            round(col("_p_micros").cast("double") /
              (col("n").cast("double") * lit(1e6)), 4).as("mean_p"),
            col("n_pos"),
            floor(col("n_pos") * lit(1000000L) / col("n")).cast("long")
              .as("actual_ppm"),
            floor(col("n_pos") * col("_nt") * lit(1000000L) /
              (col("n") * col("_pt"))).cast("long").as("lift_ppm"))
          .orderBy("decile")
      },
      Some("WITH " + logregCtes(dim = 256, lr = "5.0", iters = 5,
        label = "CASE WHEN instr(text, 'join') > 0 " +
          "THEN 1.0 ELSE 0.0 END") + ",\n" +
        """sc AS (
          |  SELECT t.doc_id, sum(t.x * w.w) AS z
          |  FROM lxb t JOIN w5 w USING (bucket) GROUP BY t.doc_id),
          |pb AS (
          |  SELECT d.doc_id,
          |    CASE WHEN instr(d.text, 'join') > 0 THEN 1 ELSE 0 END AS y,
          |    1.0 / (1.0 + exp(-s.z)) AS p
          |  FROM documents d JOIN sc s USING (doc_id)),
          |rk AS (
          |  SELECT *, row_number() OVER (ORDER BY round(p, 6) DESC,
          |      doc_id) AS rnk,
          |    count(*) OVER () AS n_tot,
          |    sum(y) OVER () AS pos_tot
          |  FROM pb),
          |cb AS (
          |  SELECT CAST(((rnk - 1) * 10) // n_tot AS INT) AS decile,
          |    count(*) AS n,
          |    sum(CAST(round(p * 1000000.0) AS BIGINT)) AS p_micros,
          |    sum(y) AS n_pos, max(n_tot) AS nt, max(pos_tot) AS pt
          |  FROM rk GROUP BY 1)
          |SELECT decile, n,
          |  round(CAST(p_micros AS DOUBLE) /
          |    (CAST(n AS DOUBLE) * 1000000.0), 4) AS mean_p,
          |  CAST(n_pos AS BIGINT) AS n_pos,
          |  CAST(floor(n_pos * 1000000 / n) AS BIGINT) AS actual_ppm,
          |  CAST(floor(n_pos * nt * 1000000 / (n * pt)) AS BIGINT)
          |    AS lift_ppm
          |FROM cb ORDER BY decile""".stripMargin)),

    // Per-language trimmed mean (RobustStats.trimmedMean): drop the
    // 5% rank-smallest and -largest rows, average the rest — the
    // heavy-tail-proof center the plain mean isn't. Trim cuts are
    // integer ranks (tied values straddling the cut contribute the
    // same sum either way), so both engines keep identical mass.
    QueryDef("q176_trimmed_mean",
      (s, dir) => RobustStats.trimmedMean(
          t(s, dir, "documents"), "lang", "n_chars", trimPpm = 50000L)
        .orderBy("lang"),
      Some("""WITH in0 AS (
             |  SELECT lang, CAST(n_chars AS BIGINT) AS x
             |  FROM documents WHERE n_chars IS NOT NULL),
             |r AS (SELECT lang, x,
             |    row_number() OVER (PARTITION BY lang ORDER BY x) AS i,
             |    count(*) OVER (PARTITION BY lang) AS nn
             |  FROM in0),
             |r2 AS (SELECT *, (nn * 50000) // 1000000 AS k FROM r),
             |a AS (SELECT lang, count(*) AS n,
             |    max(k) AS n_trimmed_each, sum(x) AS sx,
             |    sum(CASE WHEN i > k AND i <= nn - k THEN x ELSE 0 END)
             |      AS sk,
             |    sum(CASE WHEN i > k AND i <= nn - k THEN 1 ELSE 0 END)
             |      AS nk
             |  FROM r2 GROUP BY 1)
             |SELECT lang, CAST(n AS BIGINT) AS n,
             |  CAST(n_trimmed_each AS BIGINT) AS n_trimmed_each,
             |  round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 4) AS mean,
             |  round(CAST(sk AS DOUBLE) / CAST(nk AS DOUBLE), 4)
             |    AS trimmed_mean
             |FROM a ORDER BY 1""".stripMargin)),

    // Mann–Whitney U per event type (RobustStats.mannWhitney): the
    // nonparametric two-sample test on cents spend between user-
    // parity arms — q167's CUPED assumes moments; this assumes only
    // ranks. Midranks are carried DOUBLED so tie averaging stays in
    // integer arithmetic; the tie-corrected normal z is the only
    // float step.
    QueryDef("q177_mann_whitney",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .withColumn("arm", pmod(col("user_id"), lit(2)).cast("int"))
          .withColumn("cents", round(col("value") * 100).cast("long"))
        RobustStats.mannWhitney(ev, "event_type", "arm", "cents")
          .orderBy("event_type")
      },
      Some("""WITH in0 AS (
             |  SELECT event_type, CAST(user_id % 2 AS INT) AS arm,
             |    CAST(round(value * 100) AS BIGINT) AS x
             |  FROM events WHERE value IS NOT NULL),
             |r AS (SELECT *, row_number() OVER (
             |    PARTITION BY event_type ORDER BY x) AS rn
             |  FROM in0),
             |m AS (SELECT *,
             |    min(rn) OVER (PARTITION BY event_type, x) +
             |    max(rn) OVER (PARTITION BY event_type, x) AS r2
             |  FROM r),
             |t AS (SELECT event_type, sum(t * t * t - t) AS tie
             |  FROM (SELECT event_type, x, count(*) AS t
             |        FROM in0 GROUP BY 1, 2)
             |  GROUP BY 1),
             |a AS (SELECT event_type, count(*) AS n,
             |    sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS n1,
             |    sum(CASE WHEN arm = 1 THEN r2 ELSE 0 END) AS r2sum
             |  FROM m GROUP BY 1)
             |SELECT a.event_type, CAST(n - n1 AS BIGINT) AS n0,
             |  CAST(n1 AS BIGINT) AS n1,
             |  CAST(r2sum - n1 * (n1 + 1) AS DOUBLE) / 2.0 AS u1,
             |  round((CAST(r2sum - n1 * (n1 + 1) AS DOUBLE) / 2.0 -
             |      CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) / 2.0) /
             |    sqrt(CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE) / 12.0 *
             |      (CAST(n + 1 AS DOUBLE) - CAST(tie AS DOUBLE) /
             |        (CAST(n AS DOUBLE) * CAST(n - 1 AS DOUBLE)))), 4)
             |    AS z
             |FROM a JOIN t USING (event_type) ORDER BY 1""".stripMargin)),

    // χ² independence: is language distribution independent of
    // source (RobustStats.chiSquareIndependence)? Dense margin grid
    // so absent cells enter the statistic; expected counts and χ²
    // are rational expressions over the contingency counts. The
    // margin cross is #langs × #sources — aggregated frames only.
    QueryDef("q178_chi2_independence",
      (s, dir) => RobustStats.chiSquareIndependence(
          t(s, dir, "documents"), "lang", "source")
        .orderBy("a", "b"),
      Some("""WITH obs AS (
             |  SELECT lang AS a, source AS b, count(*) AS n_obs
             |  FROM documents
             |  WHERE lang IS NOT NULL AND source IS NOT NULL
             |  GROUP BY 1, 2),
             |am AS (SELECT a, sum(n_obs) AS n_a FROM obs GROUP BY 1),
             |bm AS (SELECT b, sum(n_obs) AS n_b FROM obs GROUP BY 1),
             |g AS (SELECT am.a, bm.b, n_a, n_b,
             |    coalesce(n_obs, 0) AS n_obs
             |  FROM am CROSS JOIN bm
             |  LEFT JOIN obs ON am.a = obs.a AND bm.b = obs.b),
             |w1 AS (SELECT *, sum(n_obs) OVER () AS nn FROM g),
             |w2 AS (SELECT *, CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) /
             |    CAST(nn AS DOUBLE) AS expected
             |  FROM w1),
             |w3 AS (SELECT *, sum((CAST(n_obs AS DOUBLE) - expected) *
             |    (CAST(n_obs AS DOUBLE) - expected) / expected)
             |    OVER () AS chi2
             |  FROM w2)
             |SELECT a, b, CAST(n_obs AS BIGINT) AS n_obs,
             |  round(expected, 4) AS expected, round(chi2, 4) AS chi2
             |FROM w3 ORDER BY 1, 2""".stripMargin)),

    // Trailing 7-day distinct users per event type (ops/
    // RollingDistinct.trailingDistinct): COUNT(DISTINCT) doesn't
    // decompose over windows, so the scale path builds DAILY KMV
    // sketches once and MERGES ≤7 of them per window — the window
    // compare runs on the (groups × days) sketch frame, never raw
    // data, and yesterday's sketches are reused tomorrow. Exact tier
    // rides along q154-style so the estimate's error is visible.
    QueryDef("q179_rolling_distinct",
      (s, dir) => {
        val ev = t(s, dir, "events").withColumn("day",
          expr("unix_micros(cast(ts as timestamp)) div 86400000000"))
        RollingDistinct.trailingDistinct(ev, "event_type", "day",
          "user_id", windowDays = 7, k = 64)
          .orderBy("g", "d")
      },
      Some(s"""WITH base AS (
             |  SELECT event_type AS g, epoch_us(ts) // 86400000000 AS d,
             |    user_id
             |  FROM events),
             |hh AS (SELECT g, d,
             |    ${Hashing.duckPortableHash("CAST(user_id AS VARCHAR)")}
             |      AS h
             |  FROM base),
             |daily AS (SELECT g, d,
             |    list_sort(list_distinct(list(h)))[1:64] AS sig
             |  FROM hh GROUP BY 1, 2),
             |days AS (SELECT DISTINCT g, d FROM daily),
             |mg AS (SELECT t.g, t.d, s.sig FROM days t JOIN daily s
             |  ON t.g = s.g AND s.d BETWEEN t.d - 6 AND t.d),
             |mx AS (SELECT g, d, hv FROM (
             |    SELECT g, d, unnest(sig) AS hv FROM mg)
             |  GROUP BY g, d, hv),
             |mu AS (SELECT g, d, list_sort(list(hv))[1:64] AS u
             |  FROM mx GROUP BY 1, 2),
             |est AS (SELECT g, d,
             |    round(CASE WHEN len(u) < 64 THEN CAST(len(u) AS DOUBLE)
             |      ELSE 63.0 * 1152921504606846976 / CAST(u[64] AS DOUBLE)
             |      END, 1) + 0.0 AS n_est
             |  FROM mu),
             |ed AS (SELECT DISTINCT g, d, user_id FROM base),
             |ex AS (SELECT t.g, t.d, count(DISTINCT s.user_id) AS n_exact
             |  FROM days t JOIN ed s
             |    ON t.g = s.g AND s.d BETWEEN t.d - 6 AND t.d
             |  GROUP BY 1, 2)
             |SELECT ex.g, CAST(ex.d AS BIGINT) AS d,
             |  CAST(n_exact AS BIGINT) AS n_exact, n_est
             |FROM ex JOIN est USING (g, d) ORDER BY 1, 2""".stripMargin)),

    // Item–item co-occurrence cosine (ops/CoOccurrence.itemCosine):
    // "customers who buy brand A also buy brand B" — the symmetric
    // similarity matrix a recommender / tag-consolidation pass
    // consumes, built on q161's scale skeleton (distinct grain,
    // entity-key self-join, integer counts, one rational cosine).
    QueryDef("q180_item_cosine",
      (s, dir) => {
        val basket = t(s, dir, "lineitem")
          .join(t(s, dir, "orders"),
            col("l_orderkey") === col("o_orderkey"))
          .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
        CoOccurrence.itemCosine(basket, "o_custkey", "p_brand",
          minBoth = 20)
          .orderBy("item_a", "item_b")
      },
      Some("""WITH b AS (
             |  SELECT DISTINCT o_custkey AS e, p_brand AS item
             |  FROM lineitem
             |  JOIN orders ON l_orderkey = o_orderkey
             |  JOIN part ON l_partkey = p_partkey
             |  WHERE o_custkey IS NOT NULL AND p_brand IS NOT NULL),
             |c AS (SELECT item, count(*) AS n_item FROM b GROUP BY 1),
             |p AS (SELECT x.item AS item_a, y.item AS item_b,
             |    count(*) AS n_both
             |  FROM b x JOIN b y ON x.e = y.e AND x.item < y.item
             |  GROUP BY 1, 2 HAVING count(*) >= 20)
             |SELECT item_a, item_b, ca.n_item AS n_a, cb.n_item AS n_b,
             |  n_both,
             |  round(CAST(n_both AS DOUBLE) /
             |    sqrt(CAST(ca.n_item AS DOUBLE) * CAST(cb.n_item AS DOUBLE)),
             |    6) AS cosine
             |FROM p
             |JOIN c ca ON p.item_a = ca.item
             |JOIN c cb ON p.item_b = cb.item
             |ORDER BY 1, 2""".stripMargin)),

    // Day-of-week seasonality profile + anomaly gate (ops/Seasonal
    // .dowProfile): per (event type, weekday) the average daily
    // volume and share, plus how many individual days exceeded 1.5×
    // THEIR OWN weekday's mean — the cross-multiplied integer
    // compare, so the anomaly flag never touches floating point.
    QueryDef("q181_dow_seasonality",
      (s, dir) => {
        val ev = t(s, dir, "events").withColumn("day",
          expr("unix_micros(cast(ts as timestamp)) div 86400000000"))
        Seasonal.dowProfile(ev, "event_type", "day", kNum = 3L, kDen = 2L)
          .orderBy("g", "dow")
      },
      Some("""WITH daily AS (
             |  SELECT event_type AS g, epoch_us(ts) // 86400000000 AS d,
             |    count(*) AS day_n
             |  FROM events GROUP BY 1, 2),
             |dd AS (SELECT *, CAST((d + 3) % 7 + 1 AS INT) AS dow
             |  FROM daily),
             |slot AS (SELECT g, dow, count(*) AS n_days,
             |    sum(day_n) AS total
             |  FROM dd GROUP BY 1, 2),
             |fl AS (SELECT dd.g, dd.dow,
             |    sum(CASE WHEN day_n * n_days * 2 > 3 * total
             |      THEN 1 ELSE 0 END) AS n_anomaly_days
             |  FROM dd JOIN slot ON dd.g = slot.g AND dd.dow = slot.dow
             |  GROUP BY 1, 2),
             |tg AS (SELECT g, sum(total) AS g_total FROM slot GROUP BY 1)
             |SELECT slot.g, slot.dow, CAST(n_days AS BIGINT) AS n_days,
             |  CAST(total AS BIGINT) AS total,
             |  round(CAST(total AS DOUBLE) / CAST(n_days AS DOUBLE), 4)
             |    AS mean_daily,
             |  round(CAST(total AS DOUBLE) / CAST(g_total AS DOUBLE), 6)
             |    AS share,
             |  CAST(n_anomaly_days AS BIGINT) AS n_anomaly_days
             |FROM slot
             |JOIN fl ON slot.g = fl.g AND slot.dow = fl.dow
             |JOIN tg ON slot.g = tg.g
             |ORDER BY 1, 2""".stripMargin)),

    // Partitioning-skew audit (ops/ShardBalance.audit): per-shard row
    // counts + max/mean ppm for TWO candidate partitioners of
    // lineitem on l_suppkey — portable-hash mod vs equal-key-count
    // ranges — measured BEFORE committing a layout. All assignments
    // and the imbalance summary are exact integer arithmetic on the
    // per-key frame.
    QueryDef("q182_shard_balance",
      (s, dir) => ShardBalance.audit(
          t(s, dir, "lineitem"), "l_suppkey", shards = 16)
        .orderBy("strategy", "shard"),
      Some(s"""WITH pk AS (
             |  SELECT CAST(l_suppkey AS VARCHAR) AS k, count(*) AS kn
             |  FROM lineitem WHERE l_suppkey IS NOT NULL GROUP BY 1),
             |hs AS (SELECT 'hash' AS strategy,
             |    ${Hashing.duckPortableHash("k")} % 16 AS shard, kn
             |  FROM pk),
             |rs AS (SELECT 'keyrange' AS strategy,
             |    ((row_number() OVER (ORDER BY k) - 1) * 16) //
             |      (SELECT count(*) FROM pk) AS shard, kn
             |  FROM pk),
             |ps AS (SELECT strategy, shard, sum(kn) AS n_rows,
             |    count(*) AS n_keys
             |  FROM (SELECT * FROM hs UNION ALL SELECT * FROM rs)
             |  GROUP BY 1, 2),
             |w AS (SELECT *, sum(n_rows) OVER (PARTITION BY strategy)
             |    AS tot,
             |    max(n_rows) OVER (PARTITION BY strategy) AS mx
             |  FROM ps)
             |SELECT strategy, CAST(shard AS BIGINT) AS shard,
             |  CAST(n_rows AS BIGINT) AS n_rows,
             |  CAST(n_keys AS BIGINT) AS n_keys,
             |  CAST((mx * 16 * 1000000) // tot AS BIGINT)
             |    AS max_over_mean_ppm
             |FROM w ORDER BY 1, 2""".stripMargin)),

    // Three-way master-data reconciliation (ops/Reconcile.threeWay):
    // customer vs two perturbed system copies (B drops every 7th key
    // and rewrites every 11th segment; C drops every 13th and moves
    // every 5th nation) — per presence pattern, key counts and how
    // many multi-present keys disagree on content. Null-safe
    // equality: both-null agrees, null-vs-value conflicts.
    QueryDef("q183_three_way_reconcile",
      (s, dir) => {
        val cust = t(s, dir, "customer")
          .select("c_custkey", "c_nationkey", "c_mktsegment")
        val bCopy = cust.filter(col("c_custkey") % 7 =!= 0)
          .withColumn("c_mktsegment",
            when(col("c_custkey") % 11 === 0, lit("SYS_B"))
              .otherwise(col("c_mktsegment")))
        val cCopy = cust.filter(col("c_custkey") % 13 =!= 0)
          .withColumn("c_nationkey",
            when(col("c_custkey") % 5 === 0, col("c_nationkey") + 1)
              .otherwise(col("c_nationkey")))
        Reconcile.threeWay(cust, bCopy, cCopy, "c_custkey",
          Seq("c_nationkey", "c_mktsegment"))
          .orderBy("in_a", "in_b", "in_c")
      },
      Some("""WITH a AS (
             |  SELECT c_custkey AS k, c_nationkey AS nk, c_mktsegment AS seg
             |  FROM customer),
             |b AS (SELECT c_custkey AS k,
             |    c_nationkey AS nk,
             |    CASE WHEN c_custkey % 11 = 0 THEN 'SYS_B'
             |      ELSE c_mktsegment END AS seg
             |  FROM customer WHERE c_custkey % 7 <> 0),
             |c AS (SELECT c_custkey AS k,
             |    CASE WHEN c_custkey % 5 = 0 THEN c_nationkey + 1
             |      ELSE c_nationkey END AS nk,
             |    c_mktsegment AS seg
             |  FROM customer WHERE c_custkey % 13 <> 0),
             |j AS (SELECT
             |    a.k AS ka, b.k AS kb, c.k AS kc,
             |    a.nk AS nka, b.nk AS nkb, c.nk AS nkc,
             |    a.seg AS sega, b.seg AS segb, c.seg AS segc
             |  FROM a
             |  FULL JOIN b ON a.k = b.k
             |  FULL JOIN c ON coalesce(a.k, b.k) = c.k),
             |f AS (SELECT ka IS NOT NULL AS in_a, kb IS NOT NULL AS in_b,
             |    kc IS NOT NULL AS in_c,
             |    ((ka IS NOT NULL AND kb IS NOT NULL AND
             |       (nka IS DISTINCT FROM nkb OR sega IS DISTINCT FROM segb))
             |     OR (ka IS NOT NULL AND kc IS NOT NULL AND
             |       (nka IS DISTINCT FROM nkc OR sega IS DISTINCT FROM segc))
             |     OR (kb IS NOT NULL AND kc IS NOT NULL AND
             |       (nkb IS DISTINCT FROM nkc OR segb IS DISTINCT FROM segc)))
             |      AS conflict
             |  FROM j)
             |SELECT in_a, in_b, in_c, count(*) AS n_keys,
             |  CAST(sum(CASE WHEN conflict THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_conflicts
             |FROM f GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // Weighted median (ops/WeightedStats.weightedQuantile): the
    // quantity level at which half the REVENUE sits, per return
    // flag — weights as integer cents, the quantile crossing as a
    // cross-multiplied integer compare over the per-(group, value)
    // frame, so tie handling is structural and float-free.
    QueryDef("q184_weighted_median",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .withColumn("price_cents",
            round(col("l_extendedprice") * 100).cast("long"))
        WeightedStats.weightedQuantile(li, "l_returnflag", "l_quantity",
          "price_cents", pNum = 1L, pDen = 2L)
          .orderBy("g")
      },
      Some("""WITH in0 AS (
             |  SELECT l_returnflag AS g, CAST(l_quantity AS BIGINT) AS v,
             |    CAST(round(l_extendedprice * 100) AS BIGINT) AS w
             |  FROM lineitem
             |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL),
             |pv AS (SELECT g, v, sum(w) AS vw FROM in0 GROUP BY 1, 2),
             |cm AS (SELECT *, sum(vw) OVER (PARTITION BY g ORDER BY v
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cum,
             |    sum(vw) OVER (PARTITION BY g) AS tot
             |  FROM pv)
             |SELECT g, CAST(max(tot) AS BIGINT) AS total_weight,
             |  CAST(min(v) AS BIGINT) AS wquantile
             |FROM cm WHERE cum * 2 >= tot
             |GROUP BY g ORDER BY g""".stripMargin)),

    // Temporal anti-join (ops/TemporalAntiJoin.unansweredCounts):
    // clicks with NO purchase in the following hour, per user — the
    // time-bounded cousin of q142's key anti-join and the negative
    // of q60's as-of join. Gap compares in integer microseconds;
    // trigger grain kept by event_id under timestamp ties.
    QueryDef("q185_click_abandonment",
      (s, dir) => {
        val ev = t(s, dir, "events")
        TemporalAntiJoin.unansweredCounts(
          ev.filter(col("event_type") === "click"),
          ev.filter(col("event_type") === "purchase"),
          "user_id", "event_id", "ts", "ts",
          windowUs = 3600000000L)
          .orderBy("e")
      },
      Some("""WITH c AS (
             |  SELECT user_id AS e, event_id AS id, epoch_us(ts) AS ta
             |  FROM events WHERE event_type = 'click'),
             |p AS (SELECT user_id AS e, epoch_us(ts) AS tb
             |  FROM events WHERE event_type = 'purchase'),
             |j AS (SELECT c.e, c.id,
             |    max(CASE WHEN tb > ta AND tb <= ta + 3600000000
             |      THEN 1 ELSE 0 END) AS answered
             |  FROM c LEFT JOIN p ON c.e = p.e GROUP BY 1, 2)
             |SELECT e, count(*) AS n_triggers,
             |  CAST(sum(1 - answered) AS BIGINT) AS n_unanswered
             |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // CUSUM change-point detection (ops/ChangePoint.cusumPeak): the
    // day each event type's cumulative volume deviates most from its
    // constant-rate line — regime-change detection with the cross-
    // multiplied integer statistic |S_i·m − i·S_m|; only the
    // normalized magnitude divides. Ties break on the earliest day.
    QueryDef("q186_cusum_changepoint",
      (s, dir) => {
        val ev = t(s, dir, "events").withColumn("day",
          expr("unix_micros(cast(ts as timestamp)) div 86400000000"))
        ChangePoint.cusumPeak(ev, "event_type", "day").orderBy("g")
      },
      Some("""WITH daily AS (
             |  SELECT event_type AS g, epoch_us(ts) // 86400000000
             |      AS slot,
             |    count(*) AS n
             |  FROM events GROUP BY 1, 2),
             |sc AS (SELECT *,
             |    row_number() OVER (PARTITION BY g ORDER BY slot) AS i,
             |    sum(n) OVER (PARTITION BY g ORDER BY slot
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cum,
             |    count(*) OVER (PARTITION BY g) AS m,
             |    sum(n) OVER (PARTITION BY g) AS tot
             |  FROM daily),
             |dv AS (SELECT g, slot, m, tot,
             |    abs(cum * m - i * tot) AS dev
             |  FROM sc),
             |pk AS (SELECT *, row_number() OVER (
             |    PARTITION BY g ORDER BY dev DESC, slot) AS rk
             |  FROM dv)
             |SELECT g, CAST(m AS BIGINT) AS m,
             |  CAST(tot AS BIGINT) AS total,
             |  CAST(slot AS BIGINT) AS peak_slot,
             |  CAST(dev AS BIGINT) AS peak_stat,
             |  round(CAST(dev AS DOUBLE) / CAST(m * tot AS DOUBLE), 6)
             |    AS peak_norm
             |FROM pk WHERE rk = 1 ORDER BY g""".stripMargin)),

    // Hierarchical ratio-to-parent (region → nation revenue shares):
    // each nation's exact-cents revenue with its share of the parent
    // region and of the whole — the drill-down contribution view
    // ROLLUP's subtotal rows (q136) don't directly give. Integer
    // cents sums; shares are single divisions.
    QueryDef("q187_hierarchy_shares",
      (s, dir) => {
        val rev = t(s, dir, "orders")
          .join(t(s, dir, "customer"),
            col("o_custkey") === col("c_custkey"))
          .join(t(s, dir, "nation"),
            col("c_nationkey") === col("n_nationkey"))
          .join(t(s, dir, "region"),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name", "n_name")
          .agg(sum(round(col("o_totalprice") * 100).cast("long"))
            .as("cents"))
        val wR = Window.partitionBy("r_name")
        val wAll = Window.partitionBy()
        rev
          .withColumn("_r", sum("cents").over(wR))
          .withColumn("_t", sum("cents").over(wAll))
          .select(col("r_name"), col("n_name"), col("cents"),
            round(col("cents").cast("double") / col("_r").cast("double"), 6)
              .as("share_of_region"),
            round(col("cents").cast("double") / col("_t").cast("double"), 6)
              .as("share_of_total"))
          .orderBy("r_name", "n_name")
      },
      Some("""WITH rev AS (
             |  SELECT r_name, n_name,
             |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
             |  FROM orders
             |  JOIN customer ON o_custkey = c_custkey
             |  JOIN nation ON c_nationkey = n_nationkey
             |  JOIN region ON n_regionkey = r_regionkey
             |  GROUP BY 1, 2),
             |w AS (SELECT *, sum(cents) OVER (PARTITION BY r_name) AS r,
             |    sum(cents) OVER () AS t
             |  FROM rev)
             |SELECT r_name, n_name, CAST(cents AS BIGINT) AS cents,
             |  round(CAST(cents AS DOUBLE) / CAST(r AS DOUBLE), 6)
             |    AS share_of_region,
             |  round(CAST(cents AS DOUBLE) / CAST(t AS DOUBLE), 6)
             |    AS share_of_total
             |FROM w ORDER BY 1, 2""".stripMargin)),

    // Join-explosion forecast (ops/JoinDiagnostics.predictJoinSize):
    // the EXACT output size of the lineitem×lineitem partkey self-
    // join — Σ n(k)² — computed from the key frames without running
    // the join, plus the top contributing keys (the salting shopping
    // list). The exact tier of the q154 KMV estimate.
    QueryDef("q188_join_forecast",
      (s, dir) => JoinDiagnostics.predictJoinSize(
          t(s, dir, "lineitem"), "l_partkey",
          t(s, dir, "lineitem"), "l_partkey", topK = 10)
        .orderBy("rank"),
      Some("""WITH la AS (
             |  SELECT CAST(l_partkey AS VARCHAR) AS key,
             |    count(*) AS n_left
             |  FROM lineitem WHERE l_partkey IS NOT NULL GROUP BY 1),
             |j AS (SELECT la.key, la.n_left, ra.n_left AS n_right
             |  FROM la JOIN la ra ON la.key = ra.key),
             |calc AS (SELECT key, n_left, n_right,
             |    n_left * n_right AS out_rows
             |  FROM j),
             |w AS (SELECT *, sum(out_rows) OVER () AS total_out_rows,
             |    row_number() OVER (ORDER BY out_rows DESC, key)
             |      AS "rank"
             |  FROM calc)
             |SELECT CAST("rank" AS INT) AS "rank", key,
             |  CAST(n_left AS BIGINT) AS n_left,
             |  CAST(n_right AS BIGINT) AS n_right,
             |  CAST(out_rows AS BIGINT) AS out_rows,
             |  CAST(total_out_rows AS BIGINT) AS total_out_rows,
             |  CAST((out_rows * 1000000) // total_out_rows AS BIGINT)
             |    AS top_share_ppm
             |FROM w WHERE "rank" <= 10 ORDER BY "rank"""".stripMargin)),

    // Interval coalescing / islands (ops/Intervals.coalesce): per
    // supplier, shipment intervals [ship_day, ship_day + quantity]
    // merged wherever they overlap or touch — running-max island
    // detection, all integer compares, tie handling structural.
    QueryDef("q189_interval_coalesce",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .withColumn("ship_day",
            expr("unix_micros(cast(l_shipdate as timestamp))" +
              " div 86400000000"))
          .withColumn("end_day",
            col("ship_day") + col("l_quantity").cast("long"))
        Intervals.coalesceIntervals(li, "l_suppkey", "ship_day", "end_day")
          .groupBy("k")
          .agg(count(lit(1)).as("n_islands"),
            sum(col("island_end") - col("island_start") + 1)
              .as("covered_days"),
            max("n_merged").as("max_merged"))
          .orderBy("k")
      },
      Some("""WITH iv AS (
             |  SELECT l_suppkey AS k,
             |    epoch_us(l_shipdate) // 86400000000 AS s,
             |    epoch_us(l_shipdate) // 86400000000 +
             |      CAST(l_quantity AS BIGINT) AS e
             |  FROM lineitem),
             |o AS (SELECT *, max(e) OVER (PARTITION BY k ORDER BY s, e
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             |    AS pme
             |  FROM iv),
             |f AS (SELECT *, CASE WHEN pme IS NULL OR s > pme + 1
             |    THEN 1 ELSE 0 END AS nw
             |  FROM o),
             |g AS (SELECT *, sum(nw) OVER (PARTITION BY k
             |    ORDER BY s, e
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS island
             |  FROM f),
             |isl AS (SELECT k, island, min(s) AS st, max(e) AS en,
             |    count(*) AS nm
             |  FROM g GROUP BY 1, 2)
             |SELECT k, count(*) AS n_islands,
             |  CAST(sum(en - st + 1) AS BIGINT) AS covered_days,
             |  CAST(max(nm) AS BIGINT) AS max_merged
             |FROM isl GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Activity-gap profile (ops/Intervals.gapProfile): per user, the
    // holes in their daily activity series — gap count and longest
    // gap from lag arithmetic on the distinct (user, day) frame.
    QueryDef("q190_activity_gaps",
      (s, dir) => {
        val ev = t(s, dir, "events").withColumn("day",
          expr("unix_micros(cast(ts as timestamp)) div 86400000000"))
        Intervals.gapProfile(ev, "user_id", "day").orderBy("k")
      },
      Some("""WITH s0 AS (
             |  SELECT DISTINCT user_id AS k,
             |    epoch_us(ts) // 86400000000 AS slot
             |  FROM events),
             |l AS (SELECT *, slot - lag(slot) OVER (
             |    PARTITION BY k ORDER BY slot) - 1 AS gap
             |  FROM s0)
             |SELECT k, count(*) AS n_slots,
             |  CAST(min(slot) AS BIGINT) AS first_slot,
             |  CAST(max(slot) AS BIGINT) AS last_slot,
             |  CAST(sum(CASE WHEN gap > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_gaps,
             |  CAST(coalesce(max(CASE WHEN gap > 0 THEN gap END), 0)
             |    AS BIGINT) AS longest_gap
             |FROM l GROUP BY 1 ORDER BY 1""".stripMargin)),

    // RFM segmentation (ops/Rfm.segments): customers quintiled on
    // recency (last order day) / frequency / monetary (exact cents),
    // counted per (R, F, M) cell. Quintile cuts are integer rank
    // arithmetic with key tie-breaks — every cell assignment
    // reproducible.
    QueryDef("q191_rfm_segments",
      (s, dir) => {
        val o = t(s, dir, "orders")
          .withColumn("day",
            expr("unix_micros(cast(o_orderdate as timestamp))" +
              " div 86400000000"))
          .withColumn("cents",
            round(col("o_totalprice") * 100).cast("long"))
        Rfm.segments(o, "o_custkey", "day", "cents")
          .orderBy("r_q", "f_q", "m_q")
      },
      Some("""WITH per AS (
             |  SELECT o_custkey AS e,
             |    max(epoch_us(o_orderdate) // 86400000000) AS last_slot,
             |    count(*) AS freq,
             |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
             |  FROM orders GROUP BY 1),
             |w AS (SELECT *, count(*) OVER () AS n,
             |    row_number() OVER (ORDER BY last_slot, e) AS rr,
             |    row_number() OVER (ORDER BY freq, e) AS rf,
             |    row_number() OVER (ORDER BY cents, e) AS rm
             |  FROM per),
             |qq AS (SELECT
             |    CAST(((rr - 1) * 5) // n + 1 AS INT) AS r_q,
             |    CAST(((rf - 1) * 5) // n + 1 AS INT) AS f_q,
             |    CAST(((rm - 1) * 5) // n + 1 AS INT) AS m_q,
             |    cents
             |  FROM w)
             |SELECT r_q, f_q, m_q, count(*) AS n_entities,
             |  CAST(sum(cents) AS BIGINT) AS total_cents
             |FROM qq GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin)),

    // PSI drift (ops/Drift.psiFromHists): the same two corpora as
    // q160's KS gate, scored with the Population Stability Index —
    // KS sees the worst single quantile shift, PSI accumulates mass
    // moved across ALL buckets (the industry ML-monitoring metric
    // with its ε-floor convention). Counts come off the portable
    // histogram sketch; p/q/log terms are fixed-shape doubles.
    QueryDef("q192_psi_drift",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val a = docs.filter(col("doc_id") % 2 === 0)
        val b = docs.filter(col("doc_id") % 2 =!= 0)
          .withColumn("n_chars", col("n_chars") + lit(100L))
        Drift.psiFromHists(a, b, "lang", "n_chars",
          lo = 0.0, hi = 1024.0, nbins = 256, eps = 1e-4)
          .orderBy("lang")
      },
      Some(s"""WITH aa AS (
             |  SELECT lang, CAST(least(greatest(
             |      floor(CAST(n_chars AS DOUBLE) / 4.0), 0), 255)
             |      AS BIGINT) AS b
             |$nCharsBinCtes
             |cum AS (SELECT lang, b, ca, cb,
             |          sum(ca) OVER w AS n_a, sum(cb) OVER w AS n_b
             |        FROM j WINDOW w AS (PARTITION BY lang)),
             |pq AS (SELECT lang, n_a, n_b,
             |    greatest(CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE),
             |      0.0001) AS p,
             |    greatest(CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE),
             |      0.0001) AS q
             |  FROM cum WHERE n_a > 0 AND n_b > 0)
             |SELECT lang, CAST(n_a AS BIGINT) AS n_a,
             |  CAST(n_b AS BIGINT) AS n_b,
             |  round(sum((p - q) * ln(p / q)), 4) + 0.0 AS psi
             |FROM pq GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin)),

    // Pairwise Pearson correlation matrix (ops/CorrMatrix
    // .pearsonPairs): all six pairs of lineitem's numeric features
    // from ONE pass of exact integer moments (quantity units,
    // truncated dollars, percent discount/tax), combined in fixed-
    // shape double expressions — the q167 determinism recipe applied
    // to profiling.
    QueryDef("q193_corr_matrix",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .select(col("l_quantity").cast("long").as("qty"),
            col("l_extendedprice").cast("long").as("dollars"),
            round(col("l_discount") * 100).cast("long").as("disc_pct"),
            round(col("l_tax") * 100).cast("long").as("tax_pct"))
        CorrMatrix.pearsonPairs(li,
          Seq("qty", "dollars", "disc_pct", "tax_pct"))
          .orderBy("col_a", "col_b")
      },
      Some("""WITH v AS (
             |  SELECT CAST(l_quantity AS BIGINT) AS qty,
             |    CAST(trunc(CAST(l_extendedprice AS DOUBLE)) AS BIGINT)
             |      AS dollars,
             |    CAST(round(l_discount * 100) AS BIGINT) AS disc_pct,
             |    CAST(round(l_tax * 100) AS BIGINT) AS tax_pct
             |  FROM lineitem
             |  WHERE l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL
             |    AND l_discount IS NOT NULL AND l_tax IS NOT NULL),
             |m AS (SELECT count(*) AS n,
             |    sum(qty) AS s_qty, sum(dollars) AS s_dollars,
             |    sum(disc_pct) AS s_disc, sum(tax_pct) AS s_tax,
             |    sum(qty * qty) AS ss_qty,
             |    sum(dollars * dollars) AS ss_dollars,
             |    sum(disc_pct * disc_pct) AS ss_disc,
             |    sum(tax_pct * tax_pct) AS ss_tax,
             |    sum(qty * dollars) AS sp_qty_dollars,
             |    sum(qty * disc_pct) AS sp_qty_disc,
             |    sum(qty * tax_pct) AS sp_qty_tax,
             |    sum(dollars * disc_pct) AS sp_dollars_disc,
             |    sum(dollars * tax_pct) AS sp_dollars_tax,
             |    sum(disc_pct * tax_pct) AS sp_disc_tax
             |  FROM v),
             |p AS (
             |  SELECT 'qty' AS col_a, 'dollars' AS col_b, n,
             |    sp_qty_dollars AS sp, s_qty AS sa, s_dollars AS sb,
             |    ss_qty AS ssa, ss_dollars AS ssb FROM m
             |  UNION ALL SELECT 'qty', 'disc_pct', n, sp_qty_disc,
             |    s_qty, s_disc, ss_qty, ss_disc FROM m
             |  UNION ALL SELECT 'qty', 'tax_pct', n, sp_qty_tax,
             |    s_qty, s_tax, ss_qty, ss_tax FROM m
             |  UNION ALL SELECT 'dollars', 'disc_pct', n,
             |    sp_dollars_disc, s_dollars, s_disc, ss_dollars,
             |    ss_disc FROM m
             |  UNION ALL SELECT 'dollars', 'tax_pct', n, sp_dollars_tax,
             |    s_dollars, s_tax, ss_dollars, ss_tax FROM m
             |  UNION ALL SELECT 'disc_pct', 'tax_pct', n, sp_disc_tax,
             |    s_disc, s_tax, ss_disc, ss_tax FROM m)
             |SELECT col_a, col_b, CAST(n AS BIGINT) AS n,
             |  CASE WHEN
             |      CAST(n AS DOUBLE) * CAST(ssa AS DOUBLE) -
             |        CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE) > 0
             |    AND CAST(n AS DOUBLE) * CAST(ssb AS DOUBLE) -
             |        CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE) > 0
             |    THEN round(
             |      (CAST(n AS DOUBLE) * CAST(sp AS DOUBLE) -
             |        CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE)) /
             |      sqrt((CAST(n AS DOUBLE) * CAST(ssa AS DOUBLE) -
             |          CAST(sa AS DOUBLE) * CAST(sa AS DOUBLE)) *
             |        (CAST(n AS DOUBLE) * CAST(ssb AS DOUBLE) -
             |          CAST(sb AS DOUBLE) * CAST(sb AS DOUBLE))), 6)
             |    END AS r
             |FROM p ORDER BY 1, 2""".stripMargin)),

    // 7-day bounce-back retention (ops/Retention.nDayRetention): of
    // the users active on day d, how many were active again on d+7 —
    // the day-grain engagement curve beside q134's cohort triangle.
    // Distinct-frame self-join on (entity, day+N); integer counts,
    // floor-ppm rate.
    QueryDef("q194_nday_retention",
      (s, dir) => {
        val ev = t(s, dir, "events").withColumn("day",
          expr("unix_micros(cast(ts as timestamp)) div 86400000000"))
        Retention.nDayRetention(ev, "user_id", "day", n = 7)
          .orderBy("d")
      },
      Some("""WITH act AS (
             |  SELECT DISTINCT user_id AS e,
             |    epoch_us(ts) // 86400000000 AS d
             |  FROM events),
             |fut AS (SELECT DISTINCT e, d - 7 AS d FROM act),
             |j AS (SELECT act.e, act.d,
             |    CASE WHEN fut.e IS NULL THEN 0 ELSE 1 END AS hit
             |  FROM act LEFT JOIN fut ON act.e = fut.e AND act.d = fut.d)
             |SELECT CAST(d AS BIGINT) AS d, count(*) AS n_active,
             |  CAST(sum(hit) AS BIGINT) AS n_retained,
             |  CAST((sum(hit) * 1000000) // count(*) AS BIGINT)
             |    AS retained_ppm
             |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Period-over-period change decomposition (ops/
    // ChangeDecomposition.volumeRate): revenue change per order
    // priority between the first and second half of the order
    // history, split into volume effect (order count at old rate)
    // and rate effect (new orders spending differently) — Δ ≡
    // volume + rate per segment. Integer cents moments, fixed-shape
    // double effects.
    QueryDef("q195_change_decomposition",
      (s, dir) => {
        val o = t(s, dir, "orders")
          .withColumn("period",
            when(col("o_orderdate") <
              lit("1995-06-01 00:00:00").cast("timestamp_ntz"), 0)
              .otherwise(1))
          .withColumn("cents",
            round(col("o_totalprice") * 100).cast("long"))
        ChangeDecomposition.volumeRate(o, "o_orderpriority", "period",
          "cents")
          .orderBy("seg")
      },
      Some("""WITH o AS (
             |  SELECT o_orderpriority AS seg,
             |    CASE WHEN o_orderdate < TIMESTAMP '1995-06-01 00:00:00'
             |      THEN 0 ELSE 1 END AS p,
             |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents
             |  FROM orders),
             |a AS (SELECT seg,
             |    sum(CASE WHEN p = 0 THEN 1 ELSE 0 END) AS n1,
             |    sum(CASE WHEN p = 1 THEN 1 ELSE 0 END) AS n2,
             |    sum(CASE WHEN p = 0 THEN cents ELSE 0 END) AS c1,
             |    sum(CASE WHEN p = 1 THEN cents ELSE 0 END) AS c2
             |  FROM o GROUP BY 1)
             |SELECT seg, CAST(n1 AS BIGINT) AS n1,
             |  CAST(n2 AS BIGINT) AS n2, CAST(c1 AS BIGINT) AS c1,
             |  CAST(c2 AS BIGINT) AS c2,
             |  CAST(c2 - c1 AS BIGINT) AS delta_cents,
             |  round(CASE WHEN n1 > 0
             |    THEN (CAST(n2 AS DOUBLE) - CAST(n1 AS DOUBLE)) *
             |      (CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / 100.0
             |    ELSE CAST(c2 AS DOUBLE) / 100.0 END, 2)
             |    AS volume_effect,
             |  round(CASE WHEN n1 > 0 AND n2 > 0
             |    THEN CAST(n2 AS DOUBLE) *
             |      (CAST(c2 AS DOUBLE) / CAST(n2 AS DOUBLE) -
             |       CAST(c1 AS DOUBLE) / CAST(n1 AS DOUBLE)) / 100.0
             |    ELSE 0.0 END, 2) AS rate_effect
             |FROM a ORDER BY 1""".stripMargin)),

    // Point-in-time SCD2 lookup (q157's history joined by version
    // interval): each order resolves the customer attributes that
    // were CURRENT at its version — the temporal dim join every
    // warehouse needs once history exists. Interval containment
    // against the broadcast-sized dim; open intervals via null
    // valid_to.
    QueryDef("q196_scd2_lookup",
      (s, dir) => {
        val (v1, v2, v3) = customerVersions(s, dir)
        val hist = Scd2.history(
          v1.unionByName(v2).unionByName(v3.withColumn("ver", lit(3))),
          "c_custkey", "ver", Seq("c_nationkey", "c_mktsegment"))
        val facts = t(s, dir, "orders")
          .select(col("o_orderkey"), col("o_custkey"),
            (lit(1) + pmod(col("o_orderkey"), lit(3))).as("ver"))
        facts.join(hist,
            col("o_custkey") === col("c_custkey") &&
              col("ver") >= col("valid_from") &&
              (col("valid_to").isNull || col("ver") <= col("valid_to")))
          .groupBy(col("ver"), col("c_mktsegment").as("seg"))
          .agg(count(lit(1)).as("n_orders"))
          .orderBy("ver", "seg")
      },
      Some(s"""$customerVersionRunCtes
             |runs AS (SELECT c_custkey, run, min(ver) AS valid_from,
             |         min(c_mktsegment) AS seg
             |         FROM r GROUP BY 1, 2),
             |iv AS (SELECT c_custkey, valid_from, seg,
             |         lead(valid_from) OVER (
             |           PARTITION BY c_custkey ORDER BY valid_from) - 1
             |           AS valid_to
             |       FROM runs),
             |facts AS (SELECT o_orderkey, o_custkey,
             |    1 + o_orderkey % 3 AS ver
             |  FROM orders),
             |j AS (SELECT fa.ver, iv.seg
             |  FROM facts fa JOIN iv
             |    ON fa.o_custkey = iv.c_custkey
             |    AND fa.ver >= iv.valid_from
             |    AND (iv.valid_to IS NULL OR fa.ver <= iv.valid_to))
             |SELECT CAST(ver AS BIGINT) AS ver, seg,
             |  count(*) AS n_orders
             |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Exact per-group mode (ops/Categorical.mode): the most frequent
    // document length per language, ties broken by the smallest
    // value — a deterministic tie POLICY, never first-seen (which is
    // partitioning-dependent). Count aggregate + argmax window on
    // the (group, value) frame.
    QueryDef("q197_group_mode",
      (s, dir) => Categorical.mode(
          t(s, dir, "documents"), "lang", "n_chars")
        .orderBy("g"),
      Some("""WITH c AS (
             |  SELECT lang AS g, CAST(n_chars AS VARCHAR) AS v,
             |    count(*) AS n
             |  FROM documents WHERE n_chars IS NOT NULL GROUP BY 1, 2),
             |r AS (SELECT *,
             |    row_number() OVER (PARTITION BY g ORDER BY n DESC, v)
             |      AS rk,
             |    count(*) OVER (PARTITION BY g) AS nd
             |  FROM c)
             |SELECT g, v AS mode, CAST(n AS BIGINT) AS mode_n,
             |  CAST(nd AS BIGINT) AS n_distinct
             |FROM r WHERE rk = 1 ORDER BY g""".stripMargin)),

    // Cramér's V association matrix (ops/Categorical.cramersV): the
    // categorical counterpart of q193's Pearson matrix — χ² answers
    // "dependent?", V = √(χ²/(n·min(r−1,c−1))) answers "how much"
    // on one [0,1] scale, here for (lang, source) and
    // (orderpriority, orderstatus).
    QueryDef("q198_cramers_v",
      (s, dir) => Categorical.cramersV(
          t(s, dir, "documents"), Seq(("lang", "source")))
        .unionByName(Categorical.cramersV(
          t(s, dir, "orders"),
          Seq(("o_orderpriority", "o_orderstatus"))))
        .orderBy("col_a"),
      Some("""WITH obs1 AS (
             |  SELECT CAST(lang AS VARCHAR) AS x,
             |    CAST(source AS VARCHAR) AS y, count(*) AS n_obs
             |  FROM documents
             |  WHERE lang IS NOT NULL AND source IS NOT NULL
             |  GROUP BY 1, 2),
             |am1 AS (SELECT x, sum(n_obs) AS n_x FROM obs1 GROUP BY 1),
             |bm1 AS (SELECT y, sum(n_obs) AS n_y FROM obs1 GROUP BY 1),
             |g1 AS (SELECT am1.x, bm1.y, n_x, n_y,
             |    coalesce(n_obs, 0) AS n_obs
             |  FROM am1 CROSS JOIN bm1
             |  LEFT JOIN obs1 ON am1.x = obs1.x AND bm1.y = obs1.y),
             |w1 AS (SELECT *, sum(n_obs) OVER () AS nn FROM g1),
             |t1 AS (SELECT nn,
             |    CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE) /
             |      CAST(nn AS DOUBLE) AS e, n_obs
             |  FROM w1),
             |c1 AS (SELECT max(nn) AS n,
             |    sum((CAST(n_obs AS DOUBLE) - e) *
             |      (CAST(n_obs AS DOUBLE) - e) / e) AS chi2
             |  FROM t1),
             |v1r AS (SELECT 'lang' AS col_a, 'source' AS col_b,
             |  CAST(n AS BIGINT) AS n, round(chi2, 4) + 0.0 AS chi2,
             |  round(sqrt(chi2 / (CAST(n AS DOUBLE) * CAST(least(
             |    (SELECT count(*) FROM am1) - 1,
             |    (SELECT count(*) FROM bm1) - 1) AS DOUBLE))), 4) AS v
             |  FROM c1),
             |obs2 AS (
             |  SELECT CAST(o_orderpriority AS VARCHAR) AS x,
             |    CAST(o_orderstatus AS VARCHAR) AS y, count(*) AS n_obs
             |  FROM orders
             |  WHERE o_orderpriority IS NOT NULL
             |    AND o_orderstatus IS NOT NULL
             |  GROUP BY 1, 2),
             |am2 AS (SELECT x, sum(n_obs) AS n_x FROM obs2 GROUP BY 1),
             |bm2 AS (SELECT y, sum(n_obs) AS n_y FROM obs2 GROUP BY 1),
             |g2 AS (SELECT am2.x, bm2.y, n_x, n_y,
             |    coalesce(n_obs, 0) AS n_obs
             |  FROM am2 CROSS JOIN bm2
             |  LEFT JOIN obs2 ON am2.x = obs2.x AND bm2.y = obs2.y),
             |w2 AS (SELECT *, sum(n_obs) OVER () AS nn FROM g2),
             |t2 AS (SELECT nn,
             |    CAST(n_x AS DOUBLE) * CAST(n_y AS DOUBLE) /
             |      CAST(nn AS DOUBLE) AS e, n_obs
             |  FROM w2),
             |c2 AS (SELECT max(nn) AS n,
             |    sum((CAST(n_obs AS DOUBLE) - e) *
             |      (CAST(n_obs AS DOUBLE) - e) / e) AS chi2
             |  FROM t2),
             |v2r AS (SELECT 'o_orderpriority' AS col_a,
             |  'o_orderstatus' AS col_b,
             |  CAST(n AS BIGINT) AS n, round(chi2, 4) + 0.0 AS chi2,
             |  round(sqrt(chi2 / (CAST(n AS DOUBLE) * CAST(least(
             |    (SELECT count(*) FROM am2) - 1,
             |    (SELECT count(*) FROM bm2) - 1) AS DOUBLE))), 4) AS v
             |  FROM c2)
             |SELECT * FROM v1r UNION ALL SELECT * FROM v2r
             |ORDER BY col_a""".stripMargin)),

    // Crosstab with margins: the (lang × source) count matrix plus
    // row/column/grand totals in one pass via GROUPING SETS — the
    // report shape q125's plain pivot and q141's CUBE flags both
    // stop short of (margins labeled in-band as 'ALL', not emitted
    // as separate queries).
    QueryDef("q199_crosstab_margins",
      (s, dir) => {
        // CUBE(lang, source) = exactly the four grouping sets — ONE
        // pass through Expand, not four scans; grouping() (not a
        // null check) labels the margins so a null data value could
        // never masquerade as a total.
        t(s, dir, "documents")
          .cube("lang", "source")
          .agg(count(lit(1)).as("n"),
            grouping(col("lang")).as("_gl"),
            grouping(col("source")).as("_gs"))
          .select(
            when(col("_gl") === 1, lit("ALL"))
              .otherwise(col("lang")).as("lang"),
            when(col("_gs") === 1, lit("ALL"))
              .otherwise(col("source")).as("source"),
            col("n"))
          .orderBy("lang", "source")
      },
      Some("""SELECT coalesce(lang, 'ALL') AS lang,
             |  coalesce(source, 'ALL') AS source, count(*) AS n
             |FROM documents
             |GROUP BY GROUPING SETS ((lang, source), (lang), (source),
             |  ())
             |ORDER BY 1, 2""".stripMargin)),

    // Rank-with-ties leaderboard: top-3 revenue parts per brand with
    // RANK semantics — boundary ties are KEPT (row_number would
    // arbitrarily cut them; the q17/q80 row_number queries pin the
    // other policy). Revenue in exact cents so tie groups are exact.
    QueryDef("q200_topk_with_ties",
      (s, dir) => {
        val li = t(s, dir, "lineitem")
          .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand", "p_partkey")
          .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
            .as("cents"))
        val rk = Window.partitionBy("p_brand").orderBy(col("cents").desc)
        li.withColumn("rnk", rank().over(rk).cast("int"))
          .where(col("rnk") <= 3)
          .orderBy("p_brand", "rnk", "p_partkey")
          .select("p_brand", "rnk", "p_partkey", "cents")
      },
      Some("""WITH rev AS (
             |  SELECT p_brand, p_partkey,
             |    sum(CAST(round(l_extendedprice * 100) AS BIGINT))
             |      AS cents
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |  GROUP BY 1, 2),
             |r AS (SELECT *, CAST(rank() OVER (PARTITION BY p_brand
             |    ORDER BY cents DESC) AS INT) AS rnk
             |  FROM rev)
             |SELECT p_brand, rnk, p_partkey, CAST(cents AS BIGINT)
             |  AS cents
             |FROM r WHERE rnk <= 3
             |ORDER BY 1, 2, 3""".stripMargin)),

    // Nearest-direction as-of (both AsofJoin directions composed):
    // for each click, the closest error event either side, tie to
    // the earlier one — sensor-alignment semantics where backward-
    // only (q60) or forward-only (q99) would skew gaps one way.
    // Gap arithmetic in integer microseconds.
    QueryDef("q201_asof_nearest",
      (s, dir) => {
        val ev = t(s, dir, "events")
        val clicks = ev.filter(col("event_type") === "click")
          .select("user_id", "event_id", "ts")
        val errs = ev.filter(col("event_type") === "error")
          .select(col("user_id"), col("ts").as("ts_r"),
            col("event_id").as("err_id"))
        val b = AsofJoin.join(clicks, errs, Seq("user_id"),
          "ts", "ts_r", Seq("err_id"), AsofJoin.Backward,
          matchedTsCol = Some("bts"))
          .drop("err_id")
        val f = AsofJoin.join(b,
          errs.withColumnRenamed("err_id", "err_id_f"), Seq("user_id"),
          "ts", "ts_r", Seq("err_id_f"), AsofJoin.Forward,
          matchedTsCol = Some("fts"))
          .drop("err_id_f")
        val tU = unix_micros(col("ts").cast("timestamp"))
        val bU = unix_micros(col("bts").cast("timestamp"))
        val fU = unix_micros(col("fts").cast("timestamp"))
        f.withColumn("gap",
            when(col("bts").isNull && col("fts").isNull,
              lit(null).cast("long"))
              .when(col("fts").isNull, tU - bU)
              .when(col("bts").isNull, fU - tU)
              .when(tU - bU <= fU - tU, tU - bU)
              .otherwise(fU - tU))
          .groupBy("user_id")
          .agg(count(lit(1)).as("n_clicks"),
            count(col("gap")).as("n_matched"),
            sum("gap").as("sum_gap_us"))
          .orderBy("user_id")
      },
      Some("""WITH c AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS t
             |  FROM events WHERE event_type = 'click'),
             |e AS (SELECT user_id, epoch_us(ts) AS te
             |  FROM events WHERE event_type = 'error'),
             |j AS (SELECT c.user_id, c.event_id, c.t,
             |    max(CASE WHEN te <= t THEN te END) AS bt,
             |    min(CASE WHEN te >= t THEN te END) AS ft
             |  FROM c LEFT JOIN e ON c.user_id = e.user_id
             |  GROUP BY 1, 2, 3),
             |g AS (SELECT user_id,
             |    CASE WHEN bt IS NULL AND ft IS NULL THEN NULL
             |      WHEN ft IS NULL THEN t - bt
             |      WHEN bt IS NULL THEN ft - t
             |      WHEN t - bt <= ft - t THEN t - bt
             |      ELSE ft - t END AS gap
             |  FROM j)
             |SELECT user_id, count(*) AS n_clicks,
             |  count(gap) AS n_matched,
             |  CAST(sum(gap) AS BIGINT) AS sum_gap_us
             |FROM g GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Month-over-month growth table: per order priority and month,
    // exact-cents revenue with the prior month's value and a floor-
    // ppm growth rate — the lag-based BI staple (q79's rolling
    // stats smooth; this compares discrete periods). All integer
    // until the emitted rate.
    QueryDef("q202_mom_growth",
      (s, dir) => {
        val o = t(s, dir, "orders")
          .withColumn("mon",
            expr("year(o_orderdate) * 12 + month(o_orderdate)")
              .cast("long"))
          .withColumn("cents",
            round(col("o_totalprice") * 100).cast("long"))
          .groupBy(col("o_orderpriority").as("seg"), col("mon"))
          .agg(sum("cents").as("cents"))
        val w = Window.partitionBy("seg").orderBy(col("mon"))
        o.withColumn("prev_cents", lag(col("cents"), 1).over(w))
          .withColumn("growth_ppm",
            when(col("prev_cents") > 0,
              expr("((cents - prev_cents) * 1000000) DIV prev_cents")))
          .orderBy("seg", "mon")
      },
      Some("""WITH m AS (
             |  SELECT o_orderpriority AS seg,
             |    year(o_orderdate) * 12 + month(o_orderdate) AS mon,
             |    sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
             |  FROM orders GROUP BY 1, 2),
             |l AS (SELECT *, lag(cents) OVER (PARTITION BY seg
             |    ORDER BY mon) AS prev_cents
             |  FROM m)
             |SELECT seg, CAST(mon AS BIGINT) AS mon,
             |  CAST(cents AS BIGINT) AS cents,
             |  CAST(prev_cents AS BIGINT) AS prev_cents,
             |  CAST(CASE WHEN prev_cents > 0 THEN
             |    ((cents - prev_cents) * 1000000) // prev_cents END
             |    AS BIGINT) AS growth_ppm
             |FROM l ORDER BY 1, 2""".stripMargin)),

    // ABC (Pareto 80/95) classification: parts ranked by revenue,
    // classed by cumulative share with cross-multiplied integer
    // boundary tests (A ≤ 80%, B ≤ 95%, C rest) — the 80/20 curve as
    // an operator, classes exact because no division ever happens
    // before the emitted share.
    QueryDef("q203_abc_classification",
      (s, dir) => {
        val rev = t(s, dir, "lineitem")
          .groupBy(col("l_partkey"))
          .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
            .as("cents"))
          // Ranked AND totalled below: pin so the rollup runs once.
          .transform(Pin.shared)
        // The Pareto running sum is the r11 verdict's q203 scale-
        // killer when written as an unpartitioned window (the part
        // dim is data-proportional): instead, a DISTRIBUTED rank
        // (Rank.globalRowNumber) + the two-pass bucketed prefix scan
        // (Rank.prefixSum — heavy windows partitioned by rank
        // bucket); the grand total is a 1-row aggregate broadcast
        // back, reused for the per-class share.
        val ranked = Rank.globalRowNumber(rev,
          Seq("cents" -> false, "l_partkey" -> true), "_rk")
        Rank.prefixSum(ranked, "_rk", "cents", "cum")
          .crossJoin(broadcast(rev.agg(sum("cents").as("tot"))))
          .withColumn("class",
            when(col("cum") * 5 <= col("tot") * 4, "A")
              .when(col("cum") * 20 <= col("tot") * 19, "B")
              .otherwise("C"))
          .groupBy("class")
          .agg(count(lit(1)).as("n_parts"), sum("cents").as("cents"),
            max("tot").as("_tot"))
          .withColumn("share",
            round(col("cents").cast("double") /
              col("_tot").cast("double"), 6))
          .drop("_tot")
          .orderBy("class")
      },
      Some("""WITH rev AS (
             |  SELECT l_partkey,
             |    sum(CAST(round(l_extendedprice * 100) AS BIGINT))
             |      AS cents
             |  FROM lineitem GROUP BY 1),
             |c AS (SELECT *,
             |    sum(cents) OVER (ORDER BY cents DESC, l_partkey
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS cum,
             |    sum(cents) OVER () AS tot
             |  FROM rev),
             |k AS (SELECT CASE WHEN cum * 5 <= tot * 4 THEN 'A'
             |    WHEN cum * 20 <= tot * 19 THEN 'B'
             |    ELSE 'C' END AS class, cents
             |  FROM c),
             |a AS (SELECT class, count(*) AS n_parts,
             |    sum(cents) AS cents
             |  FROM k GROUP BY 1)
             |SELECT class, n_parts, CAST(cents AS BIGINT) AS cents,
             |  round(CAST(cents AS DOUBLE) /
             |    CAST((SELECT sum(cents) FROM a) AS DOUBLE), 6) AS share
             |FROM a ORDER BY 1""".stripMargin)),

    // Session-scoped strict funnel (ops/Sessionize.gapSessions +
    // the q102 funnel logic at SESSION grain): view → later click →
    // later purchase must all land inside one 30-minute-gap session,
    // not merely the same user's history. Three aggregate+join
    // rounds, each min() conditioned on the prior stage's timestamp.
    QueryDef("q204_session_funnel",
      (s, dir) => {
        val base = Sessionize.gapSessions(t(s, dir, "events"),
            Seq("user_id"), "ts", "event_id", gapUs = 1800000000L)
          .withColumn("t", unix_micros(col("ts").cast("timestamp")))
          .select("user_id", "session_id", "event_type", "t")
        val v = base.groupBy("user_id", "session_id")
          .agg(min(when(col("event_type") === "view", col("t")))
            .as("vt"))
        val c = base.join(v, Seq("user_id", "session_id"))
          .groupBy("user_id", "session_id")
          .agg(max("vt").as("vt"),
            min(when(col("event_type") === "click" &&
              col("t") > col("vt"), col("t"))).as("ct"))
        val p = base.join(c, Seq("user_id", "session_id"))
          .groupBy("user_id", "session_id")
          .agg(max("vt").as("vt"), max("ct").as("ct"),
            min(when(col("event_type") === "purchase" &&
              col("t") > col("ct"), col("t"))).as("pt"))
        p.groupBy("user_id")
          .agg(count(lit(1)).as("n_sessions"),
            sum(when(col("vt").isNotNull, 1L).otherwise(0L)).as("n_view"),
            sum(when(col("ct").isNotNull, 1L).otherwise(0L))
              .as("n_view_click"),
            sum(when(col("pt").isNotNull, 1L).otherwise(0L)).as("n_full"))
          .orderBy("user_id")
      },
      Some(s"""$eventSessionCtes
             |v AS (SELECT user_id, sess,
             |    min(CASE WHEN event_type = 'view' THEN t END) AS vt
             |  FROM s GROUP BY 1, 2),
             |c AS (SELECT s.user_id, s.sess, max(v.vt) AS vt,
             |    min(CASE WHEN s.event_type = 'click' AND s.t > v.vt
             |      THEN s.t END) AS ct
             |  FROM s JOIN v ON s.user_id = v.user_id AND s.sess = v.sess
             |  GROUP BY 1, 2),
             |p AS (SELECT s.user_id, s.sess, max(c.vt) AS vt,
             |    max(c.ct) AS ct,
             |    min(CASE WHEN s.event_type = 'purchase' AND s.t > c.ct
             |      THEN s.t END) AS pt
             |  FROM s JOIN c ON s.user_id = c.user_id AND s.sess = c.sess
             |  GROUP BY 1, 2)
             |SELECT user_id, count(*) AS n_sessions,
             |  CAST(sum(CASE WHEN vt IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_view,
             |  CAST(sum(CASE WHEN ct IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_view_click,
             |  CAST(sum(CASE WHEN pt IS NOT NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_full
             |FROM p GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Degree assortativity of the trade graph (GraphMetrics
    // .assortativity, Newman 2002): do high-degree trading nations
    // link to other hubs (r > 0) or to spokes (r < 0)? Integer
    // moments over both edge orientations; one fixed-shape double
    // coefficient.
    QueryDef("q205_assortativity",
      (s, dir) => {
        val edges = tradeEdges(s, dir)
        GraphMetrics.assortativity(edges, "c_nationkey", "s_nationkey")
      },
      Some(s"""$tradeGraphCtes
             |ends AS (
             |  SELECT da.degree AS x, db.degree AS y
             |  FROM e JOIN deg da ON e.a = da.node
             |         JOIN deg db ON e.b = db.node
             |  UNION ALL
             |  SELECT db.degree, da.degree
             |  FROM e JOIN deg da ON e.a = da.node
             |         JOIN deg db ON e.b = db.node),
             |mo AS (SELECT count(*) AS n2, sum(x) AS sx,
             |    sum(x * x) AS sxx, sum(x * y) AS sxy
             |  FROM ends)
             |SELECT CAST(n2 // 2 AS BIGINT) AS m,
             |  round(CASE WHEN CAST(n2 AS DOUBLE) * CAST(sxx AS DOUBLE) -
             |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) > 0
             |    THEN (CAST(n2 AS DOUBLE) * CAST(sxy AS DOUBLE) -
             |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
             |      (CAST(n2 AS DOUBLE) * CAST(sxx AS DOUBLE) -
             |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
             |    END, 6) AS r
             |FROM mo""".stripMargin)),

    // Class-balance diversity (ops/Concentration.inverseSimpson):
    // the effective number of languages per source, (Σc)²/Σc² — the
    // log-free diversity metric (a ratio of exact integer sums, so
    // it hash-compares exactly where entropy's ln cannot).
    QueryDef("q206_class_balance",
      (s, dir) => Concentration.inverseSimpson(
          t(s, dir, "documents"), "source", "lang")
        .orderBy("g"),
      Some("""WITH c AS (
             |  SELECT source AS g, lang, count(*) AS n
             |  FROM documents WHERE lang IS NOT NULL GROUP BY 1, 2),
             |a AS (SELECT g, sum(n) AS n, count(*) AS n_classes,
             |    sum(n * n) AS ss
             |  FROM c GROUP BY 1)
             |SELECT g, CAST(n AS BIGINT) AS n,
             |  CAST(n_classes AS BIGINT) AS n_classes,
             |  round(CAST(n * n AS DOUBLE) / CAST(ss AS DOUBLE), 4)
             |    AS inv_simpson
             |FROM a ORDER BY 1""".stripMargin)),

    // Diversity-capped top-k: the 10 highest-revenue parts overall,
    // but at most 2 per brand — the retrieval-diversification window
    // stack (per-group row_number, then global rank over the
    // survivors) that a plain top-k can't express. Exact cents;
    // every rank tie-broken by key.
    QueryDef("q207_capped_topk",
      (s, dir) => {
        val rev = t(s, dir, "lineitem")
          .join(t(s, dir, "part"), col("l_partkey") === col("p_partkey"))
          .groupBy("p_brand", "p_partkey")
          .agg(sum(round(col("l_extendedprice") * 100).cast("long"))
            .as("cents"))
        val perBrand = Window.partitionBy("p_brand")
          .orderBy(col("cents").desc, col("p_partkey"))
        val overall = Window.orderBy(col("cents").desc, col("p_partkey"))
        rev
          .withColumn("_br", row_number().over(perBrand))
          .where(col("_br") <= 2)
          // Explicit top-10 over the ≤ 2·|brands| survivors
          // (TakeOrderedAndProject); the rank window then runs on the
          // 10-row result only.
          .orderBy(col("cents").desc, col("p_partkey"))
          .limit(10)
          .withColumn("rank", row_number().over(overall).cast("int"))
          .select("rank", "p_brand", "p_partkey", "cents")
          .orderBy("rank")
      },
      Some("""WITH rev AS (
             |  SELECT p_brand, p_partkey,
             |    sum(CAST(round(l_extendedprice * 100) AS BIGINT))
             |      AS cents
             |  FROM lineitem JOIN part ON l_partkey = p_partkey
             |  GROUP BY 1, 2),
             |b AS (SELECT *, row_number() OVER (PARTITION BY p_brand
             |    ORDER BY cents DESC, p_partkey) AS br
             |  FROM rev),
             |r AS (SELECT *, CAST(row_number() OVER (
             |    ORDER BY cents DESC, p_partkey) AS INT) AS "rank"
             |  FROM b WHERE br <= 2)
             |SELECT "rank", p_brand, p_partkey,
             |  CAST(cents AS BIGINT) AS cents
             |FROM r WHERE "rank" <= 10 ORDER BY 1""".stripMargin)),

    // Trailing-window trend slope (rolling OLS): per event type, the
    // 7-day OLS slope of daily volume at the LATEST day — q133's
    // regression over q79's trailing-frame windows. Window moments
    // are exact integer sums; the slope is one fixed-shape double.
    QueryDef("q208_rolling_slope",
      (s, dir) => {
        val daily = t(s, dir, "events")
          .withColumn("day",
            expr("unix_micros(cast(ts as timestamp)) div 86400000000"))
          .groupBy(col("event_type").as("g"), col("day"))
          .agg(count(lit(1)).as("y"))
        val w = Window.partitionBy("g").orderBy(col("day"))
          .rowsBetween(-6, Window.currentRow)
        def d(c: org.apache.spark.sql.Column) = c.cast("double")
        val scored = daily
          .withColumn("_n", count(lit(1)).over(w))
          .withColumn("_sx", sum("day").over(w))
          .withColumn("_sy", sum("y").over(w))
          .withColumn("_sxy", sum(col("day") * col("y")).over(w))
          .withColumn("_sxx", sum(col("day") * col("day")).over(w))
        val latest = Window.partitionBy("g").orderBy(col("day").desc)
        scored
          .withColumn("_rk", row_number().over(latest))
          .where(col("_rk") === 1)
          .select(col("g"), col("day").as("last_day"),
            col("_n").as("n_days"),
            round((d(col("_n")) * d(col("_sxy")) -
              d(col("_sx")) * d(col("_sy"))) /
              (d(col("_n")) * d(col("_sxx")) -
                d(col("_sx")) * d(col("_sx"))), 4).as("slope"))
          .orderBy("g")
      },
      Some("""WITH daily AS (
             |  SELECT event_type AS g,
             |    epoch_us(ts) // 86400000000 AS day, count(*) AS y
             |  FROM events GROUP BY 1, 2),
             |sc AS (SELECT *,
             |    count(*) OVER w AS n, sum(day) OVER w AS sx,
             |    sum(y) OVER w AS sy, sum(day * y) OVER w AS sxy,
             |    sum(day * day) OVER w AS sxx,
             |    row_number() OVER (PARTITION BY g ORDER BY day DESC)
             |      AS rk
             |  FROM daily
             |  WINDOW w AS (PARTITION BY g ORDER BY day
             |    ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
             |SELECT g, CAST(day AS BIGINT) AS last_day,
             |  CAST(n AS BIGINT) AS n_days,
             |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
             |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
             |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4) AS slope
             |FROM sc WHERE rk = 1 ORDER BY g""".stripMargin)),

    // Growth accounting (new / returning / churned): per day, actives
    // split into first-ever-seen vs returning, plus how many of the
    // previous day's actives went silent — the DAU ledger, all from
    // the distinct (user, day) frame and integer counts.
    QueryDef("q209_growth_accounting",
      (s, dir) => {
        val act = t(s, dir, "events")
          .withColumn("day",
            expr("unix_micros(cast(ts as timestamp)) div 86400000000"))
          .select(col("user_id").as("u"), col("day").as("d"))
          .distinct()
        val firstSeen = act.groupBy("u").agg(min("d").as("first_d"))
        val withFirst = act.join(firstSeen, Seq("u"))
        val dayAgg = withFirst.groupBy("d")
          .agg(count(lit(1)).as("n_active"),
            sum(when(col("d") === col("first_d"), 1L).otherwise(0L))
              .as("n_new"))
          .withColumn("n_returning", col("n_active") - col("n_new"))
        val churn = act.as("y")
          .join(act.as("t"),
            col("y.u") === col("t.u") &&
              col("t.d") === col("y.d") + 1, "left")
          .groupBy(col("y.d").as("d"))
          .agg(sum(when(col("t.u").isNull, 1L).otherwise(0L))
            .as("_gone"))
          .select((col("d") + 1).as("d"), col("_gone").as("n_churned"))
        dayAgg.join(churn, Seq("d"), "left")
          .withColumn("n_churned", coalesce(col("n_churned"), lit(0L)))
          .orderBy("d")
      },
      Some("""WITH act AS (
             |  SELECT DISTINCT user_id AS u,
             |    epoch_us(ts) // 86400000000 AS d
             |  FROM events),
             |fs AS (SELECT u, min(d) AS first_d FROM act GROUP BY 1),
             |da AS (SELECT d, count(*) AS n_active,
             |    sum(CASE WHEN d = first_d THEN 1 ELSE 0 END) AS n_new
             |  FROM act JOIN fs USING (u) GROUP BY 1),
             |ch AS (SELECT y.d + 1 AS d,
             |    sum(CASE WHEN t.u IS NULL THEN 1 ELSE 0 END)
             |      AS n_churned
             |  FROM act y LEFT JOIN act t
             |    ON y.u = t.u AND t.d = y.d + 1
             |  GROUP BY 1)
             |SELECT da.d, CAST(n_active AS BIGINT) AS n_active,
             |  CAST(n_new AS BIGINT) AS n_new,
             |  CAST(n_active - n_new AS BIGINT) AS n_returning,
             |  CAST(coalesce(n_churned, 0) AS BIGINT) AS n_churned
             |FROM da LEFT JOIN ch ON da.d = ch.d
             |ORDER BY 1""".stripMargin)),

    // Dedup-cascade attrition report: the q61 corpus slice pushed
    // through exact → canonical-text → MinHash-near-dup stages, with
    // survivor counts per stage — the "which tier buys what" summary
    // a curation pipeline publishes. Near-dup stage removes the
    // GREATER id of each verified pair between canon survivors
    // (pairwise domination at report grain; full transitive
    // clustering is q61/q128's job).
    QueryDef("q210_dedup_cascade",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
        val n0 = docs.agg(count(lit(1)).as("n_docs"))
        val nExact = Dedup.exact(docs, "text", "doc_id")
          .agg(count(lit(1)).as("n_after_exact"))
        val canonKeep = Dedup.exact(docs
            .withColumn("ctext", TextAnalysis.canonText(col("text"))),
          "ctext", "doc_id").select("keep_id")
        val nCanon = canonKeep.agg(count(lit(1)).as("n_after_canon"))
        // probes the shared persisted pairs table (same slice +
        // parameters as ensureNearDupIndex) instead of re-running
        // minhash per invocation (round 14, the q372 pattern)
        val pairs = ndPairs(s, dir)
        val dom = pairs
          .join(canonKeep.withColumnRenamed("keep_id", "id_a"), "id_a")
          .join(canonKeep.withColumnRenamed("keep_id", "id_b"), "id_b")
          .select("id_b").distinct()
        val nNear = canonKeep.join(dom,
            col("keep_id") === col("id_b"), "left_anti")
          .agg(count(lit(1)).as("n_after_near"))
        n0.crossJoin(nExact).crossJoin(nCanon).crossJoin(nNear)
      },
      Some("WITH " + minhashVerifiedCtes + ",\n" +
        """sl AS (SELECT doc_id, text FROM documents WHERE doc_id < 1000),
          |ex AS (SELECT count(DISTINCT md5(text)) AS n_after_exact
          |  FROM sl),
          |keepers AS (SELECT min(doc_id) AS keep_id FROM sl
          |  GROUP BY md5(trim(regexp_replace(lower(nfc_normalize(text)),
          |    '[ \t\n\f\r]+', ' ', 'g')))),
          |dom AS (SELECT DISTINCT v.id_b FROM verified v
          |  JOIN keepers ka ON v.id_a = ka.keep_id
          |  JOIN keepers kb ON v.id_b = kb.keep_id
          |  WHERE v.jaccard >= 0.8),
          |surv AS (SELECT count(*) AS n_after_near FROM keepers
          |  WHERE keep_id NOT IN (SELECT id_b FROM dom))
          |SELECT (SELECT count(*) FROM sl) AS n_docs,
          |  (SELECT n_after_exact FROM ex) AS n_after_exact,
          |  (SELECT count(*) FROM keepers) AS n_after_canon,
          |  (SELECT n_after_near FROM surv) AS n_after_near""".stripMargin)),

    // Association rules at SESSION grain (ops/Itemsets over ops/
    // Sessionize baskets): which event types co-occur within one
    // 30-minute session — the operator-reuse composition where q161
    // mined order×brand baskets; support counts are per-session.
    QueryDef("q211_session_rules",
      (s, dir) => {
        val sess = Sessionize.gapSessions(t(s, dir, "events"),
            Seq("user_id"), "ts", "event_id", gapUs = 1800000000L)
          .withColumn("basket",
            concat_ws("#", col("user_id"), col("session_id")))
        Itemsets.rules(sess, "basket", "event_type", minSupport = 5)
          .orderBy("antecedent", "consequent")
      },
      Some(s"""$eventSessionCtes
             |b AS (SELECT DISTINCT CAST(user_id AS VARCHAR) || '#' ||
             |    CAST(sess AS VARCHAR) AS basket, event_type AS item
             |  FROM s),
             |${assocRulesSql(minSupport = 5)}""".stripMargin)),

    // Ranking-function surface parity: percent_rank / cume_dist /
    // ntile(4) over a unique ordering (price, partkey) — the exact
    // rational definitions both engines share, pinned as a catalog
    // row so the window surface is demonstrably complete beyond
    // row_number/rank/lag.
    QueryDef("q212_ranking_functions",
      (s, dir) => {
        val w = Window.partitionBy("p_brand")
          .orderBy(col("p_retailprice"), col("p_partkey"))
        t(s, dir, "part")
          .select(col("p_brand"), col("p_partkey"), col("p_retailprice"))
          .withColumn("pr", round(percent_rank().over(w), 6))
          .withColumn("cd", round(cume_dist().over(w), 6))
          .withColumn("quartile", ntile(4).over(w))
          .orderBy("p_brand", "p_partkey")
      },
      Some("""SELECT p_brand, p_partkey, p_retailprice,
             |  round(percent_rank() OVER w, 6) AS pr,
             |  round(cume_dist() OVER w, 6) AS cd,
             |  CAST(ntile(4) OVER w AS INT) AS quartile
             |FROM part
             |WINDOW w AS (PARTITION BY p_brand
             |  ORDER BY p_retailprice, p_partkey)
             |ORDER BY p_brand, p_partkey""".stripMargin)),

    // Ordered LISTAGG parity (≡ DuckDB string_agg with ORDER BY):
    // the sorted distinct language list per source as one delimited
    // string. Spark side = array_join(array_sort(collect_set)) —
    // the order-PINNED form; a bare listagg/collect_list is
    // partitioning-dependent and could never hash-match.
    QueryDef("q213_listagg",
      (s, dir) => t(s, dir, "documents")
        .groupBy("source")
        .agg(
          array_join(array_sort(collect_set(col("lang"))), ",")
            .as("langs_csv"),
          countDistinct("lang").as("n_langs"))
        .orderBy("source"),
      Some("""SELECT source,
             |  string_agg(DISTINCT lang, ',' ORDER BY lang) AS langs_csv,
             |  count(DISTINCT lang) AS n_langs
             |FROM documents GROUP BY source
             |ORDER BY source""".stripMargin)),

    // Quantile normalization across sources (ops/QuantileNormalize
    // .summary, the microarray/batch-effect classic): every source's
    // length distribution replaced by the pooled one at matching
    // within-group ranks — identical mapped min/max per source IS
    // the visible proof. All rank→index arithmetic exact integers
    // (endpoints meet exactly), no interpolation floats.
    QueryDef("q214_quantile_normalize",
      (s, dir) => QuantileNormalize.summary(
          t(s, dir, "documents"), "source", "n_chars")
        .orderBy("g"),
      Some("""WITH in0 AS (
             |  SELECT source AS g, CAST(n_chars AS BIGINT) AS v
             |  FROM documents WHERE n_chars IS NOT NULL),
             |p AS (SELECT CAST(row_number() OVER (ORDER BY v)
             |    AS BIGINT) AS idx, v AS pv
             |  FROM in0),
             |r AS (SELECT g, v,
             |    CAST(row_number() OVER (PARTITION BY g ORDER BY v)
             |      AS BIGINT) AS r,
             |    count(*) OVER (PARTITION BY g) AS n,
             |    count(*) OVER () AS nt
             |  FROM in0),
             |m AS (SELECT g, v, CASE WHEN n = 1 THEN 1
             |    ELSE 1 + ((r - 1) * (nt - 1)) // (n - 1) END AS idx
             |  FROM r),
             |j AS (SELECT m.g, m.v, p.pv FROM m JOIN p USING (idx))
             |SELECT g, count(*) AS n,
             |  round(CAST(sum(v) AS DOUBLE) /
             |    CAST(count(*) AS DOUBLE), 4) AS mean_orig,
             |  round(CAST(sum(pv) AS DOUBLE) /
             |    CAST(count(*) AS DOUBLE), 4) AS mean_mapped,
             |  CAST(min(pv) AS BIGINT) AS mapped_min,
             |  CAST(max(pv) AS BIGINT) AS mapped_max
             |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Sorted-neighborhood blocking eval (ops/Linkage
    // .sortedNeighborhood): the OTHER classic ER candidate generator
    // — one global sort of part ∪ twin on the (perturbed) name, pair
    // cross-side records within a rank window of 5 via a band
    // EQUI-join (never a range join). Recall against the key-equal
    // ground truth sits beside q166's equality-blocking numbers.
    QueryDef("q215_sorted_neighborhood",
      (s, dir) => {
        val p = t(s, dir, "part")
          .select("p_partkey", "p_name", "p_brand", "p_type", "p_size")
        val toks = split(col("p_name"), " ")
        val twin = p.select(col("p_partkey"),
          when(col("p_partkey") % 3 === 0,
            array_join(slice(toks, lit(1), size(toks) - 1), " "))
            .otherwise(col("p_name")).as("p_name"))
        Linkage.sortedNeighborhood(p.select("p_partkey", "p_name"),
          twin, "p_partkey", "p_name", w = 5)
      },
      Some("""WITH tw AS (
             |  SELECT p_partkey AS key,
             |    CASE WHEN p_partkey % 3 = 0
             |      THEN array_to_string(ss[1:len(ss) - 1], ' ')
             |      ELSE p_name END AS sk
             |  FROM (SELECT *, string_split(p_name, ' ') AS ss
             |        FROM part)),
             |u AS (SELECT p_partkey AS key, p_name AS sk, 0 AS side
             |  FROM part
             |  UNION ALL SELECT key, sk, 1 FROM tw),
             |r AS (SELECT *, CAST(row_number() OVER (
             |    ORDER BY sk, key, side) AS BIGINT) AS r FROM u),
             |x AS (SELECT *, r // 5 AS band FROM r),
             |y AS (SELECT key, sk, side, r, band FROM x
             |  UNION ALL SELECT key, sk, side, r, band - 1 FROM x),
             |pp AS (SELECT DISTINCT
             |    CASE WHEN x.side = 0 THEN x.key ELSE y.key END AS key_a,
             |    CASE WHEN x.side = 0 THEN y.key ELSE x.key END AS key_b
             |  FROM x JOIN y ON x.band = y.band AND y.r > x.r
             |    AND y.r <= x.r + 5 AND x.side <> y.side),
             |tp AS (SELECT count(DISTINCT key) AS n_true_possible
             |  FROM tw WHERE key IN (SELECT p_partkey FROM part)),
             |c AS (SELECT count(*) AS n_candidates,
             |    sum(CASE WHEN key_a = key_b THEN 1 ELSE 0 END)
             |      AS n_true
             |  FROM pp)
             |SELECT 5 AS w, CAST(n_candidates AS BIGINT) AS n_candidates,
             |  CAST(n_true AS BIGINT) AS n_true,
             |  CAST(n_true_possible AS BIGINT) AS n_true_possible,
             |  CAST((n_true * 1000000) // n_true_possible AS BIGINT)
             |    AS recall_ppm
             |FROM c, tp""".stripMargin)),

    // Incremental SCD2 maintenance (Scd2.applyVersion): history is
    // built from versions 1–2 only, then version 3 folds in as a
    // batch — one open-slice join, batch-sized work. The ORACLE is
    // q157's full-log REBUILD, so the hash match IS the proof that
    // incremental ≡ backfill (the q159 IVM contract, at SCD2 grain).
    QueryDef("q216_scd2_apply",
      (s, dir) => {
        val (v1, v2, v3) = customerVersions(s, dir)
        val hist12 = Scd2.history(v1.unionByName(v2),
          "c_custkey", "ver", Seq("c_nationkey", "c_mktsegment"))
        Scd2.applyVersion(hist12, v3, "c_custkey", ver = 3L,
          Seq("c_nationkey", "c_mktsegment"))
          .groupBy("valid_from", "valid_to", "is_current")
          .agg(count(lit(1)).as("n"),
            countDistinct("c_custkey").as("n_keys"))
          .orderBy(col("valid_from"), col("valid_to").asc_nulls_first)
      },
      Some(scd2HistorySql)),

    // Ranking drift (Jaccard@10 of top-token lists): where q129
    // compares token SHARES release-to-release, this compares the
    // RANKINGS — per language, the top-10 vocabularies of the even-
    // and odd-doc corpus halves and their set overlap. Ties break on
    // the token, counts are integers, overlap is one division.
    QueryDef("q217_ranking_drift",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        def top(half: DataFrame) = TextAnalysis
          .topTokens(half, "lang", "text", k = 10)
          .select(col("lang"), col("token"))
        val a = top(docs.filter(col("doc_id") % 2 === 0))
        val b = top(docs.filter(col("doc_id") % 2 =!= 0))
        a.withColumn("_in_a", lit(1))
          .join(b.withColumn("_in_b", lit(1)),
            Seq("lang", "token"), "full_outer")
          .groupBy("lang")
          .agg(sum(when(col("_in_a").isNotNull &&
              col("_in_b").isNotNull, 1L).otherwise(0L)).as("n_common"),
            count(lit(1)).as("_n_union"))
          .select(col("lang"), col("n_common"),
            col("_n_union").as("n_union"),
            round(col("n_common").cast("double") /
              col("_n_union").cast("double"), 4).as("jacc10"))
          .orderBy("lang")
      },
      Some("""WITH xa AS (
             |  SELECT lang, unnest(list_filter(
             |      string_split_regex(text, ' +'), t -> t <> '')) AS token
             |  FROM documents WHERE doc_id % 2 = 0),
             |xb AS (
             |  SELECT lang, unnest(list_filter(
             |      string_split_regex(text, ' +'), t -> t <> '')) AS token
             |  FROM documents WHERE doc_id % 2 <> 0),
             |ca AS (SELECT lang, token, count(*) AS cnt FROM xa
             |  GROUP BY 1, 2),
             |cb AS (SELECT lang, token, count(*) AS cnt FROM xb
             |  GROUP BY 1, 2),
             |ta AS (SELECT lang, token FROM (
             |    SELECT lang, token, row_number() OVER (
             |      PARTITION BY lang ORDER BY cnt DESC, token) AS rk
             |    FROM ca)
             |  WHERE rk <= 10),
             |tb AS (SELECT lang, token FROM (
             |    SELECT lang, token, row_number() OVER (
             |      PARTITION BY lang ORDER BY cnt DESC, token) AS rk
             |    FROM cb)
             |  WHERE rk <= 10),
             |j AS (SELECT coalesce(ta.lang, tb.lang) AS lang,
             |    CASE WHEN ta.token IS NOT NULL AND tb.token IS NOT NULL
             |      THEN 1 ELSE 0 END AS in_both
             |  FROM ta FULL JOIN tb
             |    ON ta.lang = tb.lang AND ta.token = tb.token)
             |SELECT lang, CAST(sum(in_both) AS BIGINT) AS n_common,
             |  count(*) AS n_union,
             |  round(CAST(sum(in_both) AS DOUBLE) /
             |    CAST(count(*) AS DOUBLE), 4) AS jacc10
             |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Schema-evolution-tolerant union: an old-schema parquet vintage
    // (no p_retailprice) written beside a new-schema one, read back
    // and unioned with allowMissingColumns — the added column null-
    // fills for old rows, which is exactly what the report proves
    // (per-brand counts with price stats counting only new-vintage
    // rows). The lake-migration read path every long-lived dataset
    // needs.
    QueryDef("q218_schema_evolution",
      (s, dir) => {
        val part = t(s, dir, "part")
        val tmpO = sys.props("java.io.tmpdir") + "/graft_sev_old"
        val tmpN = sys.props("java.io.tmpdir") + "/graft_sev_new"
        part.filter(col("p_partkey") % 2 === 0)
          .select("p_partkey", "p_brand")
          .write.mode("overwrite").parquet(tmpO)
        part.filter(col("p_partkey") % 2 =!= 0)
          .select("p_partkey", "p_brand", "p_retailprice")
          .write.mode("overwrite").parquet(tmpN)
        val old = s.read.parquet(tmpO)
        val neu = s.read.parquet(tmpN)
        old.unionByName(neu, allowMissingColumns = true)
          .groupBy("p_brand")
          .agg(count(lit(1)).as("n_rows"),
            count(col("p_retailprice")).as("n_priced"),
            sum(round(col("p_retailprice") * 100).cast("long"))
              .as("price_cents"))
          .orderBy("p_brand")
      },
      Some("""SELECT p_brand, count(*) AS n_rows,
             |  CAST(sum(CASE WHEN p_partkey % 2 <> 0 THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_priced,
             |  CAST(sum(CASE WHEN p_partkey % 2 <> 0
             |    THEN CAST(round(p_retailprice * 100) AS BIGINT) END)
             |    AS BIGINT) AS price_cents
             |FROM part GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Near-dup threshold sensitivity sweep: pair counts and affected-
    // doc counts at Jaccard ≥ {0.7, 0.8, 0.9} from ONE signature/
    // verification pass (the q44 machinery, filtered three ways) —
    // the tuning table that shows what a threshold buys BEFORE a full
    // dedup run commits to it.
    QueryDef("q219_threshold_sweep",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
        val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
          k = 64, bands = 8, threshold = 0.7)
        // ONE pass over the verified pairs: conditional aggregates per
        // threshold, exploded to rows — never three re-plans.
        val ths = Seq(0.7, 0.8, 0.9)
        def tag(th: Double) = (th * 10).toInt
        val ends = pairs.select(col("jaccard"),
          explode(array(col("id_a"), col("id_b"))).as("id"))
        val aggs = ths.map(th => countDistinct(
            when(col("jaccard") >= th, col("id")))
            .as(s"a_${tag(th)}")) ++
          ths.map(th => (sum(when(col("jaccard") >= th, 1L)
            .otherwise(0L)) / 2).cast("long").as(s"p_${tag(th)}"))
        val agged = ends.agg(aggs.head, aggs.tail: _*)
        agged.select(explode(array(ths.map(th =>
            struct(lit(th).as("threshold"),
              col(s"p_${tag(th)}").as("n_pairs"),
              col(s"a_${tag(th)}").as("n_docs_affected"))): _*)).as("r"))
          .select("r.*")
          .orderBy("threshold")
      },
      Some("WITH " + minhashVerifiedCtes + ",\n" +
        """th AS (SELECT unnest([0.7, 0.8, 0.9]) AS threshold),
          |sw AS (SELECT th.threshold,
          |    count(CASE WHEN v.jaccard >= th.threshold THEN 1 END)
          |      AS n_pairs
          |  FROM th LEFT JOIN verified v ON true GROUP BY 1),
          |af AS (SELECT th.threshold, count(DISTINCT dd.id)
          |      AS n_docs_affected
          |  FROM th LEFT JOIN (
          |    SELECT id_a AS id, jaccard FROM verified
          |    UNION ALL SELECT id_b, jaccard FROM verified) dd
          |    ON dd.jaccard >= th.threshold
          |  GROUP BY 1)
          |SELECT sw.threshold, CAST(n_pairs AS BIGINT) AS n_pairs,
          |  CAST(n_docs_affected AS BIGINT) AS n_docs_affected
          |FROM sw JOIN af USING (threshold)
          |ORDER BY 1""".stripMargin)),

    // Cross-format integrity: the same lineitem slice written to
    // parquet, ORC, and CSV, read back, and proven IDENTICAL by the
    // q158 bucketed-checksum compare — every bucket of every pair
    // matches, or a sink lost something. Sources + anti-entropy
    // composed into a lake-format conformance test.
    QueryDef("q220_format_integrity",
      (s, dir) => {
        // Spread + pin before the three format writes: unspread, the
        // single-row-group scan wrote each sink from 1 task; the q158 checksum compare is per-bucket (count,
        // bit_xor) — order- and file-count-insensitive — and the CSV
        // header is skipped per file, so the multi-file layout cannot
        // change the result. The pin pays the spread shuffle once for
        // the three writes.
        val base = graft.ops.Par.spread(
            t(s, dir, "lineitem")
              .select("l_orderkey", "l_linenumber", "l_quantity",
                "l_returnflag"),
            col("l_orderkey"))
          .transform(Pin.shared)
        val tmp = sys.props("java.io.tmpdir")
        base.write.mode("overwrite").parquet(s"$tmp/graft_fmt_pq")
        Orc.write(base, s"$tmp/graft_fmt_orc")
        Csv.write(base, s"$tmp/graft_fmt_csv", sep = ",")
        val ddl = "l_orderkey BIGINT, l_linenumber INT, " +
          "l_quantity DOUBLE, l_returnflag STRING"
        val pq = s.read.parquet(s"$tmp/graft_fmt_pq")
        val orc = Orc.read(s, s"$tmp/graft_fmt_orc")
        val csv = Csv.read(s, s"$tmp/graft_fmt_csv", sep = ",",
          schema = Some(StructType.fromDDL(ddl)))
        val key = "l_orderkey"
        val fields = Seq("l_linenumber", "l_quantity", "l_returnflag")
        def cmp(nm: String, b: DataFrame) = TableChecksum
          .compare(pq, b, key, fields, buckets = 16)
          .agg(lit(nm).as("pair"), count(lit(1)).as("n_buckets"),
            sum(when(col("is_match"), 1L).otherwise(0L))
              .as("n_matching"))
        cmp("parquet_vs_orc", orc)
          .unionByName(cmp("parquet_vs_csv", csv))
          .orderBy("pair")
      },
      Some("""SELECT pair, CAST(16 AS BIGINT) AS n_buckets,
             |  CAST(16 AS BIGINT) AS n_matching
             |FROM (VALUES ('parquet_vs_csv'), ('parquet_vs_orc'))
             |  AS t(pair)
             |ORDER BY pair""".stripMargin)),

    // SLA conformance: per order priority, the share of lineitems
    // shipped within 30/60/90 days of the order date — integer-day
    // gaps, floor-ppm shares, one conditional aggregate.
    QueryDef("q221_sla_conformance",
      (s, dir) => {
        val j = t(s, dir, "lineitem")
          .join(t(s, dir, "orders"), col("l_orderkey") === col("o_orderkey"))
          .withColumn("gap_days",
            expr("unix_micros(cast(l_shipdate as timestamp))" +
              " div 86400000000") -
            expr("unix_micros(cast(o_orderdate as timestamp))" +
              " div 86400000000"))
        j.groupBy(col("o_orderpriority").as("seg"))
          .agg(count(lit(1)).as("n"),
            sum(when(col("gap_days") <= 30, 1L).otherwise(0L)).as("_d30"),
            sum(when(col("gap_days") <= 60, 1L).otherwise(0L)).as("_d60"),
            sum(when(col("gap_days") <= 90, 1L).otherwise(0L)).as("_d90"))
          .select(col("seg"), col("n"),
            expr("(_d30 * 1000000) DIV n").as("within30_ppm"),
            expr("(_d60 * 1000000) DIV n").as("within60_ppm"),
            expr("(_d90 * 1000000) DIV n").as("within90_ppm"))
          .orderBy("seg")
      },
      Some("""WITH j AS (
             |  SELECT o_orderpriority AS seg,
             |    epoch_us(l_shipdate) // 86400000000 -
             |    epoch_us(o_orderdate) // 86400000000 AS gap_days
             |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey)
             |SELECT seg, count(*) AS n,
             |  CAST((sum(CASE WHEN gap_days <= 30 THEN 1 ELSE 0 END)
             |    * 1000000) // count(*) AS BIGINT) AS within30_ppm,
             |  CAST((sum(CASE WHEN gap_days <= 60 THEN 1 ELSE 0 END)
             |    * 1000000) // count(*) AS BIGINT) AS within60_ppm,
             |  CAST((sum(CASE WHEN gap_days <= 90 THEN 1 ELSE 0 END)
             |    * 1000000) // count(*) AS BIGINT) AS within90_ppm
             |FROM j GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Fuzzy duplicate transactions (the payments-audit classic):
    // order pairs from the SAME customer whose totals differ by
    // ≤ 1% (cross-multiplied integer cents — no division) and whose
    // dates are ≤ 3 days apart — equi-join on the customer key, per-
    // customer blow-up bounded by order counts. Likely double-charge
    // candidates, summarized per priority of the earlier order.
    QueryDef("q222_fuzzy_duplicates",
      (s, dir) => {
        val o = t(s, dir, "orders")
          .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
          .withColumn("day",
            expr("unix_micros(cast(o_orderdate as timestamp))" +
              " div 86400000000"))
          .select(col("o_orderkey").as("k"), col("o_custkey").as("c"),
            col("o_orderpriority").as("pri"), col("cents"), col("day"))
        val pairs = o.as("x").join(o.as("y"),
          col("x.c") === col("y.c") && col("x.k") < col("y.k") &&
            abs(col("x.day") - col("y.day")) <= 3 &&
            // |cents_x − cents_y| ≤ 1% of the larger, in integers
            abs(col("x.cents") - col("y.cents")) * 100 <=
              greatest(col("x.cents"), col("y.cents")))
        pairs.groupBy(col("x.pri").as("pri"))
          .agg(count(lit(1)).as("n_pairs"),
            countDistinct(col("x.c")).as("n_customers"))
          .orderBy("pri")
      },
      Some("""WITH o AS (
             |  SELECT o_orderkey AS k, o_custkey AS c,
             |    o_orderpriority AS pri,
             |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             |    epoch_us(o_orderdate) // 86400000000 AS day
             |  FROM orders)
             |SELECT x.pri, count(*) AS n_pairs,
             |  count(DISTINCT x.c) AS n_customers
             |FROM o x JOIN o y
             |  ON x.c = y.c AND x.k < y.k
             |  AND abs(x.day - y.day) <= 3
             |  AND abs(x.cents - y.cents) * 100 <=
             |    greatest(x.cents, y.cents)
             |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Decile migration matrix: every customer's spend decile in the
    // first half-year vs the second — the rank-migration view that
    // shows value churn a static RFM snapshot (q191) can't. Decile
    // cuts are integer rank arithmetic on each period's customer
    // frame; customers absent from a period land in decile 0.
    QueryDef("q223_decile_migration",
      (s, dir) => {
        val o = t(s, dir, "orders")
          .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
          .withColumn("p",
            when(col("o_orderdate") <
              lit("1995-06-01 00:00:00").cast("timestamp_ntz"), 0)
              .otherwise(1))
        // Decile ranks over the per-period CUSTOMER frame — data-
        // proportional, so the rank is DISTRIBUTED
        // (Rank.globalRowNumber) and the count a 1-row broadcast,
        // never an unpartitioned window (q175/q191's killer shape).
        def dec(period: Int) = {
          val per = o.where(col("p") === period)
            .groupBy(col("o_custkey").as("c"))
            .agg(sum("cents").as("v"))
            .transform(Pin.shared)
          Rank.globalRowNumber(per, Seq("v" -> true, "c" -> true), "_rk")
            .crossJoin(broadcast(per.agg(count(lit(1)).as("_n"))))
            .select(col("c"),
              (expr("((_rk - 1) * 10) DIV _n") + 1).cast("int")
                .as(s"d$period"))
        }
        dec(0).join(dec(1), Seq("c"), "full_outer")
          .groupBy(coalesce(col("d0"), lit(0)).as("decile_h1"),
            coalesce(col("d1"), lit(0)).as("decile_h2"))
          .agg(count(lit(1)).as("n_customers"))
          .orderBy("decile_h1", "decile_h2")
      },
      Some("""WITH o AS (
             |  SELECT o_custkey AS c,
             |    CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             |    CASE WHEN o_orderdate < TIMESTAMP '1995-06-01 00:00:00'
             |      THEN 0 ELSE 1 END AS p
             |  FROM orders),
             |d0 AS (SELECT c, CAST(((rk - 1) * 10) // n + 1 AS INT)
             |      AS d0
             |  FROM (SELECT c, row_number() OVER (ORDER BY v, c) AS rk,
             |      count(*) OVER () AS n
             |    FROM (SELECT c, sum(cents) AS v FROM o WHERE p = 0
             |          GROUP BY 1))),
             |d1 AS (SELECT c, CAST(((rk - 1) * 10) // n + 1 AS INT)
             |      AS d1
             |  FROM (SELECT c, row_number() OVER (ORDER BY v, c) AS rk,
             |      count(*) OVER () AS n
             |    FROM (SELECT c, sum(cents) AS v FROM o WHERE p = 1
             |          GROUP BY 1)))
             |SELECT coalesce(d0.d0, 0) AS decile_h1,
             |  coalesce(d1.d1, 0) AS decile_h2,
             |  count(*) AS n_customers
             |FROM d0 FULL JOIN d1 ON d0.c = d1.c
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Release qualification report — the flagship drift composition:
    // per language, the KS statistic (worst quantile shift, q160),
    // PSI (total mass moved, q192), and top-10 vocabulary Jaccard
    // (ranking drift, q217) between the corpus halves, in ONE row a
    // release gate can threshold. Three proven operators, one join
    // on the language grain.
    QueryDef("q224_release_qualification",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val a = docs.filter(col("doc_id") % 2 === 0)
        val b = docs.filter(col("doc_id") % 2 =!= 0)
          .withColumn("n_chars", col("n_chars") + lit(100L))
        val ks = Drift.ksFromHists(a, b, "lang", "n_chars",
          lo = 0.0, hi = 1024.0, nbins = 256)
        val psi = Drift.psiFromHists(a, b, "lang", "n_chars",
          lo = 0.0, hi = 1024.0, nbins = 256, eps = 1e-4)
          .select(col("lang"), col("psi"))
        def top(half: DataFrame) = TextAnalysis
          .topTokens(half, "lang", "text", k = 10)
          .select(col("lang"), col("token"))
        val rd = top(a).withColumn("_in_a", lit(1))
          .join(top(b).withColumn("_in_b", lit(1)),
            Seq("lang", "token"), "full_outer")
          .groupBy("lang")
          .agg(sum(when(col("_in_a").isNotNull &&
              col("_in_b").isNotNull, 1L).otherwise(0L)).as("_nc"),
            count(lit(1)).as("_nu"))
          .select(col("lang"),
            round(col("_nc").cast("double") /
              col("_nu").cast("double"), 4).as("vocab_jacc10"))
        ks.join(psi, Seq("lang")).join(rd, Seq("lang"))
          .orderBy("lang")
      },
      Some(s"""WITH aa AS (
             |  SELECT lang, CAST(least(greatest(
             |      floor(CAST(n_chars AS DOUBLE) / 4.0), 0), 255)
             |      AS BIGINT) AS b
             |$nCharsBinCtes
             |cum AS (SELECT lang, b, ca, cb,
             |          sum(ca) OVER w AS cum_a, sum(cb) OVER w AS cum_b,
             |          sum(ca) OVER wa AS n_a, sum(cb) OVER wa AS n_b
             |        FROM j
             |        WINDOW w AS (PARTITION BY lang ORDER BY b),
             |               wa AS (PARTITION BY lang)),
             |ksr AS (SELECT lang, CAST(n_a AS BIGINT) AS n_a,
             |    CAST(n_b AS BIGINT) AS n_b,
             |    round(max(abs(CAST(cum_a AS DOUBLE) / CAST(n_a AS DOUBLE)
             |      - CAST(cum_b AS DOUBLE) / CAST(n_b AS DOUBLE))), 4)
             |      + 0.0 AS ks
             |  FROM cum WHERE n_a > 0 AND n_b > 0
             |  GROUP BY 1, 2, 3),
             |pq AS (SELECT lang,
             |    greatest(CAST(ca AS DOUBLE) / CAST(n_a AS DOUBLE),
             |      0.0001) AS p,
             |    greatest(CAST(cb AS DOUBLE) / CAST(n_b AS DOUBLE),
             |      0.0001) AS q
             |  FROM cum WHERE n_a > 0 AND n_b > 0),
             |psir AS (SELECT lang, round(sum((p - q) * ln(p / q)), 4)
             |    + 0.0 AS psi
             |  FROM pq GROUP BY 1),
             |xa AS (SELECT lang, unnest(list_filter(
             |    string_split_regex(text, ' +'), t -> t <> '')) AS token
             |  FROM documents WHERE doc_id % 2 = 0),
             |xb AS (SELECT lang, unnest(list_filter(
             |    string_split_regex(text, ' +'), t -> t <> '')) AS token
             |  FROM documents WHERE doc_id % 2 <> 0),
             |ca2 AS (SELECT lang, token, count(*) AS cnt FROM xa
             |  GROUP BY 1, 2),
             |cb2 AS (SELECT lang, token, count(*) AS cnt FROM xb
             |  GROUP BY 1, 2),
             |ta AS (SELECT lang, token FROM (
             |    SELECT lang, token, row_number() OVER (
             |      PARTITION BY lang ORDER BY cnt DESC, token) AS rk
             |    FROM ca2)
             |  WHERE rk <= 10),
             |tb AS (SELECT lang, token FROM (
             |    SELECT lang, token, row_number() OVER (
             |      PARTITION BY lang ORDER BY cnt DESC, token) AS rk
             |    FROM cb2)
             |  WHERE rk <= 10),
             |rj AS (SELECT coalesce(ta.lang, tb.lang) AS lang,
             |    CASE WHEN ta.token IS NOT NULL AND tb.token IS NOT NULL
             |      THEN 1 ELSE 0 END AS in_both
             |  FROM ta FULL JOIN tb
             |    ON ta.lang = tb.lang AND ta.token = tb.token),
             |rdr AS (SELECT lang,
             |    round(CAST(sum(in_both) AS DOUBLE) /
             |      CAST(count(*) AS DOUBLE), 4) AS vocab_jacc10
             |  FROM rj GROUP BY 1)
             |SELECT ksr.lang, n_a, n_b, ks, psi, vocab_jacc10
             |FROM ksr
             |JOIN psir ON ksr.lang = psir.lang
             |JOIN rdr ON ksr.lang = rdr.lang
             |ORDER BY 1""".stripMargin)),

    // Winsorized mean (q176's sibling): instead of DROPPING the rank
    // tails, CLAMP values to the exact interpolated P05/P95 — the
    // robust center that keeps n constant (a trimmed mean changes
    // the denominator; winsorizing doesn't, which matters when the
    // mean feeds a rate). The percentile kernel is q143's pinned
    // one; clamped values cross the compare as exact micro-unit
    // sums.
    QueryDef("q225_winsorized_mean",
      (s, dir) => {
        val docs = t(s, dir, "documents")
          .where(col("n_chars").isNotNull)
        val caps = docs.groupBy("lang").agg(
          expr("percentile(CAST(n_chars AS DOUBLE), 0.05)").as("lo"),
          expr("percentile(CAST(n_chars AS DOUBLE), 0.95)").as("hi"))
        docs.join(broadcast(caps), Seq("lang"))
          .withColumn("w", least(greatest(
            col("n_chars").cast("double"), col("lo")), col("hi")))
          .groupBy("lang")
          .agg(count(lit(1)).as("n"),
            round(max("lo"), 4).as("p05"), round(max("hi"), 4).as("p95"),
            sum(col("n_chars")).as("_sr"),
            sum(round(col("w") * lit(1e6)).cast("long")).as("_sw"))
          .select(col("lang"), col("n"), col("p05"), col("p95"),
            round(col("_sr").cast("double") / col("n").cast("double"), 4)
              .as("mean_raw"),
            round(col("_sw").cast("double") /
              (col("n").cast("double") * lit(1e6)), 4)
              .as("mean_winsorized"))
          .orderBy("lang")
      },
      Some("""WITH d AS (
             |  SELECT lang, n_chars, CAST(n_chars AS DOUBLE) AS v
             |  FROM documents WHERE n_chars IS NOT NULL),
             |caps AS (SELECT lang,
             |    percentile_cont(0.05) WITHIN GROUP (ORDER BY v) AS lo,
             |    percentile_cont(0.95) WITHIN GROUP (ORDER BY v) AS hi
             |  FROM d GROUP BY 1),
             |w AS (SELECT d.lang, d.n_chars,
             |    least(greatest(d.v, caps.lo), caps.hi) AS w,
             |    caps.lo, caps.hi
             |  FROM d JOIN caps ON d.lang = caps.lang)
             |SELECT lang, count(*) AS n,
             |  round(max(lo), 4) AS p05, round(max(hi), 4) AS p95,
             |  round(CAST(sum(n_chars) AS DOUBLE) /
             |    CAST(count(*) AS DOUBLE), 4) AS mean_raw,
             |  round(CAST(sum(CAST(round(w * 1000000.0) AS BIGINT))
             |      AS DOUBLE) /
             |    (CAST(count(*) AS DOUBLE) * 1000000.0), 4)
             |    AS mean_winsorized
             |FROM w GROUP BY 1 ORDER BY 1""".stripMargin))
  )
}
