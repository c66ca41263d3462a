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

/** First half of the former `extra2Defs` catalog section (q226–; the
  * 4.6k-line Seq split at an entry boundary, round-14 task 5).
  */
private[queries] object QueriesExtra2a {

  /** Fourth catalog section (q226+) — a fresh Seq literal so no single
    * initializer method approaches the JVM 64 KB bytecode limit.
    */
  val defs: Seq[QueryDef] = Seq(

    // Kaplan–Meier survival over user lifetimes (ops/Survival
    // .kaplanMeier): thin the stream to the ~5-events-per-user slice
    // (props.k < 8, q92's JSON field), lifetime = last−first active
    // day, right-censor users still active within 5 days of the
    // horizon. All KM arithmetic runs on the per-duration frame
    // (bounded by the 30-day span); the survival product is exp∘Σln
    // accumulated in duration order in both engines.
    QueryDef("q226_kaplan_meier",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .where(from_json(col("props"), "k INT",
            Map.empty[String, String]).getField("k") < 8)
          .withColumn("day",
            expr("unix_micros(cast(ts as timestamp)) div 86400000000"))
        Survival.kaplanMeier(ev, "user_id", "day", censorGap = 5)
          .orderBy("t")
      },
      Some("""WITH ev AS (
             |  SELECT user_id AS e, epoch_us(ts) // 86400000000 AS d
             |  FROM events
             |  WHERE CAST(json_extract_string(props, '$.k') AS INT) < 8),
             |spans AS (SELECT e, min(d) AS fd, max(d) AS ld
             |  FROM ev GROUP BY 1),
             |h AS (SELECT max(ld) AS h FROM spans),
             |lab AS (SELECT
             |    CASE WHEN ld <= h - 5 THEN ld - fd ELSE h - fd END AS t,
             |    CASE WHEN ld <= h - 5 THEN 1 ELSE 0 END AS obs
             |  FROM spans CROSS JOIN h),
             |pt AS (SELECT t, sum(obs) AS n_churn,
             |    sum(1 - obs) AS n_censored, count(*) AS n_at
             |  FROM lab GROUP BY 1),
             |w AS (SELECT *, sum(n_at) OVER (ORDER BY t) AS cum,
             |    sum(n_at) OVER () AS tot
             |  FROM pt),
             |r AS (SELECT t, tot - cum + n_at AS n_risk, n_churn,
             |    n_censored,
             |    CASE WHEN n_churn > 0
             |      THEN ln(1 - CAST(n_churn AS DOUBLE) /
             |        CAST(n_risk AS DOUBLE))
             |      ELSE 0.0 END AS lnterm
             |  FROM w),
             |sv AS (SELECT t, n_risk, n_churn, n_censored,
             |    round(exp(sum(lnterm) OVER (ORDER BY t)), 6) AS survival
             |  FROM r)
             |SELECT CAST(t AS BIGINT) AS t,
             |  CAST(n_risk AS BIGINT) AS n_risk,
             |  CAST(n_churn AS BIGINT) AS n_churn,
             |  CAST(n_censored AS BIGINT) AS n_censored, survival
             |FROM sv WHERE n_churn > 0 ORDER BY 1""".stripMargin)),

    // Welch's unequal-variance t-test (RobustStats.welchT): arms by
    // portable hash of user_id (the q57 split discipline), metric in
    // exact integer cents, per event-type strata. The parametric
    // sibling of q177's Mann–Whitney on the same layout — both
    // should agree there is no effect (arms are random).
    QueryDef("q227_welch_ttest",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .where(col("value").isNotNull)
          .withColumn("arm", pmod(
            Hashing.portableHash(col("user_id").cast("string")),
            lit(2L)).cast("int"))
          .withColumn("cents", round(col("value") * 100).cast("long"))
        RobustStats.welchT(ev, "event_type", "arm", "cents")
          .orderBy("event_type")
      },
      Some(s"""WITH ev AS (
             |  SELECT event_type,
             |    CASE WHEN ${Hashing.duckPortableHash(
                      "CAST(user_id AS VARCHAR)")} % 2 = 1
             |      THEN 1 ELSE 0 END AS arm,
             |    CAST(round(value * 100) AS BIGINT) AS x
             |  FROM events WHERE value IS NOT NULL),
             |a AS (SELECT event_type, arm, count(*) AS n,
             |    sum(x) AS sx, sum(x * x) AS sxx
             |  FROM ev GROUP BY 1, 2),
             |p AS (SELECT event_type, arm, n,
             |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
             |    (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *
             |        CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) /
             |      (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS von
             |  FROM a)
             |SELECT a0.event_type, CAST(a0.n AS BIGINT) AS n0,
             |  CAST(a1.n AS BIGINT) AS n1,
             |  round(a0.mean, 4) AS mean0, round(a1.mean, 4) AS mean1,
             |  round((a1.mean - a0.mean) / sqrt(a0.von + a1.von), 4)
             |    + 0.0 AS t,
             |  round((a0.von + a1.von) * (a0.von + a1.von) /
             |    (a0.von * a0.von / (CAST(a0.n AS DOUBLE) - 1.0) +
             |     a1.von * a1.von / (CAST(a1.n AS DOUBLE) - 1.0)), 2)
             |    AS df
             |FROM p a0 JOIN p a1
             |  ON a0.event_type = a1.event_type
             |  AND a0.arm = 0 AND a1.arm = 1
             |ORDER BY 1""".stripMargin)),

    // Daily-volume autocorrelation at lags 1..7 (Seasonal.acf): the
    // "is there a weekly cycle" diagnostic behind q181's dow model.
    // Missing calendar days count as zero; one global mean/SS per
    // series (r_0 ≡ 1 normalization); every Σ is an exact integer
    // sum so the final double expression is order-free.
    QueryDef("q228_daily_acf",
      (s, dir) => {
        val ev = t(s, dir, "events").withColumn("day",
          expr("unix_micros(cast(ts as timestamp)) div 86400000000"))
        Seasonal.acf(ev, "event_type", "day", maxLag = 7)
          .orderBy("g", "lag")
      },
      Some(s"""$eventsDailyCtes
             |mom AS (SELECT g, count(*) AS n_days, sum(x) AS sx,
             |    sum(x * x) AS sxx
             |  FROM daily GROUP BY 1),
             |sh AS (SELECT g, unnest(generate_series(1, 7)) AS lag, d, x
             |  FROM daily),
             |shifted AS (SELECT g, lag, d + lag AS d, x AS x_lag
             |  FROM sh),
             |pairs AS (SELECT daily.g, lag, daily.x, x_lag
             |  FROM daily JOIN shifted
             |    ON daily.g = shifted.g AND daily.d = shifted.d),
             |agg AS (SELECT g, lag, count(*) AS n_pairs,
             |    sum(x * x_lag) AS sxy, sum(x) AS spx, sum(x_lag) AS spl
             |  FROM pairs GROUP BY 1, 2)
             |SELECT agg.g, CAST(lag AS INT) AS lag,
             |  CAST(n_days AS BIGINT) AS n_days,
             |  CAST(n_pairs AS BIGINT) AS n_pairs,
             |  round((CAST(sxy AS DOUBLE) -
             |      (CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)) *
             |        CAST(spx + spl AS DOUBLE) +
             |      CAST(n_pairs AS DOUBLE) *
             |        (CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)) *
             |        (CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE))) /
             |    (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *
             |      CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE)), 4)
             |    + 0.0 AS acf
             |FROM agg JOIN mom ON agg.g = mom.g
             |WHERE CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *
             |    CAST(sx AS DOUBLE) / CAST(n_days AS DOUBLE) > 0
             |ORDER BY 1, 2""".stripMargin)),

    // Theil–Sen robust trend per event type (RobustStats.theilSen):
    // median of pairwise daily-count slopes beside the OLS slope.
    // The pair join is quadratic ONLY in the per-group day span
    // (30 days → ≤435 pairs/group), never in event volume — the
    // caller aggregates to the daily grain first, per the op's
    // scale contract.
    QueryDef("q229_theil_sen",
      (s, dir) => {
        val daily = t(s, dir, "events")
          .withColumn("day",
            expr("unix_micros(cast(ts as timestamp)) div 86400000000"))
          .groupBy(col("event_type").as("g"), col("day").as("x"))
          .agg(count(lit(1)).as("y"))
        RobustStats.theilSen(daily, "g", "x", "y").orderBy("g")
      },
      Some("""WITH daily AS (
             |  SELECT event_type AS g, epoch_us(ts) // 86400000000 AS x,
             |    count(*) AS y
             |  FROM events GROUP BY 1, 2),
             |pairs AS (SELECT a.g,
             |    CAST(b.y - a.y AS DOUBLE) / CAST(b.x - a.x AS DOUBLE)
             |      AS s
             |  FROM daily a JOIN daily b ON a.g = b.g AND a.x < b.x),
             |sen AS (SELECT g, count(*) AS n_pairs,
             |    percentile_cont(0.5) WITHIN GROUP (ORDER BY s) AS slope
             |  FROM pairs GROUP BY 1),
             |icept AS (SELECT d.g,
             |    percentile_cont(0.5) WITHIN GROUP (ORDER BY
             |      CAST(d.y AS DOUBLE) - sen.slope * CAST(d.x AS DOUBLE))
             |      AS ic
             |  FROM daily d JOIN sen ON d.g = sen.g GROUP BY 1),
             |ols AS (SELECT g, count(*) AS n_points, sum(x) AS sx,
             |    sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy
             |  FROM daily GROUP BY 1)
             |SELECT ols.g, CAST(n_points AS BIGINT) AS n_points,
             |  CAST(n_pairs AS BIGINT) AS n_pairs,
             |  round(slope, 6) + 0.0 AS sen_slope,
             |  round(ic, 6) + 0.0 AS sen_intercept,
             |  round((CAST(n_points AS DOUBLE) * CAST(sxy AS DOUBLE) -
             |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             |    (CAST(n_points AS DOUBLE) * CAST(sxx AS DOUBLE) -
             |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6) + 0.0
             |    AS ols_slope
             |FROM ols JOIN sen ON ols.g = sen.g
             |JOIN icept ON ols.g = icept.g
             |ORDER BY 1""".stripMargin)),

    // Multi-touch attribution (ops/Attribution.report): purchases
    // credited to the click/view touches in the 3 preceding days
    // under first/last/linear models at once, integer-cents exact
    // (linear remainder to the first touch), untouched conversions
    // in the 'direct' bucket so each model column sums to total
    // conversion value.
    QueryDef("q230_attribution",
      (s, dir) => Attribution.report(t(s, dir, "events"),
          "event_id", "user_id", "ts", "event_type",
          convType = "purchase", touchTypes = Seq("click", "view"),
          valueCol = "value", lookbackDays = 3)
        .orderBy("channel"),
      Some("""WITH conv AS (
             |  SELECT event_id AS cid, user_id AS e, epoch_us(ts) AS cts,
             |    CAST(round(value * 100) AS BIGINT) AS cents
             |  FROM events WHERE event_type = 'purchase'),
             |touch AS (SELECT user_id AS e, epoch_us(ts) AS tts,
             |    event_type AS channel
             |  FROM events WHERE event_type IN ('click', 'view')),
             |m AS (SELECT cid, cents, tts, channel,
             |    row_number() OVER (PARTITION BY cid
             |      ORDER BY tts, channel) AS pos,
             |    count(*) OVER (PARTITION BY cid) AS n_t
             |  FROM conv JOIN touch ON conv.e = touch.e
             |  WHERE tts < cts AND tts >= cts - 259200000000),
             |cr AS (SELECT channel, cid,
             |    CASE WHEN pos = 1 THEN cents ELSE 0 END AS fc,
             |    CASE WHEN pos = n_t THEN cents ELSE 0 END AS lc,
             |    cents // n_t +
             |      CASE WHEN pos = 1 THEN cents % n_t ELSE 0 END AS nc
             |  FROM m),
             |bych AS (SELECT channel, count(DISTINCT cid)
             |      AS n_conversions,
             |    sum(fc) AS first_cents, sum(lc) AS last_cents,
             |    sum(nc) AS linear_cents
             |  FROM cr GROUP BY 1),
             |direct AS (SELECT 'direct' AS channel,
             |    count(*) AS n_conversions,
             |    coalesce(sum(cents), 0) AS first_cents,
             |    coalesce(sum(cents), 0) AS last_cents,
             |    coalesce(sum(cents), 0) AS linear_cents
             |  FROM conv WHERE cid NOT IN (SELECT DISTINCT cid FROM m)
             |  HAVING count(*) > 0)
             |SELECT channel, CAST(n_conversions AS BIGINT)
             |    AS n_conversions,
             |  CAST(first_cents AS BIGINT) AS first_cents,
             |  CAST(last_cents AS BIGINT) AS last_cents,
             |  CAST(linear_cents AS BIGINT) AS linear_cents
             |FROM (SELECT * FROM bych UNION ALL SELECT * FROM direct)
             |ORDER BY 1""".stripMargin)),

    // Hash-seeded Poisson bootstrap CI on mean event value
    // (ops/Bootstrap.meanCi, Chamandy et al. 2012): 100 deterministic
    // replicates ride ONE shuffle as weighted aggregates — the only
    // bootstrap that works at 100 TB. Every draw is an inverse-CDF
    // lookup of a portable hash, so DuckDB replays the exact
    // resamples.
    QueryDef("q231_bootstrap_ci",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .where(col("value").isNotNull)
          .withColumn("cents", round(col("value") * 100).cast("long"))
        Bootstrap.meanCi(ev, "event_type", "event_id", "cents", r = 100)
          .orderBy("g")
      },
      Some {
        val wSum = Bootstrap.cdf
          .map(c => s"(CASE WHEN $c < u THEN 1 ELSE 0 END)")
          .mkString("\n             |      + ")
        s"""WITH ev AS (
             |  SELECT event_type AS g, CAST(event_id AS VARCHAR) AS id,
             |    CAST(round(value * 100) AS BIGINT) AS x
             |  FROM events WHERE value IS NOT NULL),
             |reps AS (SELECT g, id, x,
             |    unnest(generate_series(0, 99)) AS rep
             |  FROM ev),
             |uu AS (SELECT g, rep, x,
             |    CAST(${Hashing.duckUniversalHash("rep", "id")} AS DOUBLE) /
             |      2147483647.0 AS u
             |  FROM reps),
             |wt AS (SELECT g, rep, x,
             |    $wSum AS w
             |  FROM uu),
             |rm AS (SELECT g, rep,
             |    CAST(round(CAST(sum(w * x) AS DOUBLE) /
             |      CAST(sum(w) AS DOUBLE) * 1000.0) AS BIGINT) AS mr
             |  FROM wt GROUP BY 1, 2 HAVING sum(w) > 0),
             |pt AS (SELECT g, count(*) AS n, sum(x) AS sx
             |  FROM ev GROUP BY 1),
             |ci AS (SELECT g, count(*) AS nrep,
             |    percentile_cont(0.025) WITHIN GROUP (ORDER BY mr) AS lo,
             |    percentile_cont(0.975) WITHIN GROUP (ORDER BY mr) AS hi,
             |    sum(mr) AS sm, sum(mr * mr) AS smm
             |  FROM rm GROUP BY 1)
             |SELECT pt.g, CAST(n AS BIGINT) AS n,
             |  round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 4) AS mean,
             |  round(lo / 1000.0, 4) AS ci_lo,
             |  round(hi / 1000.0, 4) AS ci_hi,
             |  round(sqrt((CAST(smm AS DOUBLE) - CAST(sm AS DOUBLE) *
             |      CAST(sm AS DOUBLE) / CAST(nrep AS DOUBLE)) /
             |    (CAST(nrep AS DOUBLE) - 1.0)) / 1000.0, 4) AS se_boot
             |FROM pt JOIN ci ON pt.g = ci.g ORDER BY 1""".stripMargin
      }),

    // Modularity of the near-dup cluster partition (GraphMetrics
    // .modularity, Newman–Girvan): are q61's components actually
    // denser than a degree-preserving rewiring? Q from exact integer
    // sums — (4m·Σe_c − Σd_c²)/4m² — over the same verified pair
    // frame and recursive components the q61 oracle pins.
    QueryDef("q232_modularity",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
        // probes the shared persisted pairs table (same slice +
        // parameters as ensureNearDupIndex) instead of re-running
        // minhash per invocation (round 14, the q372 pattern)
        val pairs = ndPairs(s, dir)
        val clusters = Components.dedupClusters(
          docs, "doc_id", pairs, "id_a", "id_b")
        GraphMetrics.modularity(pairs, "id_a", "id_b",
          clusters, "doc_id", "component")
      },
      Some("WITH RECURSIVE " + minhashVerifiedCtes + ",\n" +
        clusterChainCtes + ",\n" +
        """lab AS (SELECT id AS node, component AS lbl FROM comp),
          |labeled AS (SELECT la.lbl AS la, lb.lbl AS lb
          |  FROM pairs e
          |  JOIN lab la ON e.id_a = la.node
          |  JOIN lab lb ON e.id_b = lb.node),
          |intra AS (SELECT la AS lbl, count(*) AS e_c
          |  FROM labeled WHERE la = lb GROUP BY 1),
          |degl AS (SELECT lbl, count(*) AS d_c FROM (
          |    SELECT la AS lbl FROM labeled
          |    UNION ALL SELECT lb FROM labeled)
          |  GROUP BY 1),
          |mm AS (SELECT count(*) AS m FROM pairs),
          |nc AS (SELECT count(DISTINCT component) AS n_communities
          |  FROM comp),
          |sums AS (SELECT count(*) AS n_linked,
          |    sum(coalesce(e_c, 0)) AS se, sum(d_c * d_c) AS sd2
          |  FROM degl LEFT JOIN intra USING (lbl))
          |SELECT CAST(m AS BIGINT) AS m,
          |  CAST(n_communities AS BIGINT) AS n_communities,
          |  CAST(n_linked AS BIGINT) AS n_linked_communities,
          |  round(CAST(4 * m * se - sd2 AS DOUBLE) /
          |    CAST(4 * m * m AS DOUBLE), 6) + 0.0 AS modularity
          |FROM mm, nc, sums""".stripMargin)),

    // Deterministic label propagation, 4 synchronized rounds
    // (Components.labelPropagation): the density-aware sibling of
    // connected components on the SAME near-dup graph — weakly
    // bridged clumps that reach stays one component fragment into
    // communities. Min-label tie-break + fixed rounds = replayable
    // round for round by the oracle.
    QueryDef("q233_label_propagation",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
        // probes the shared persisted pairs table (same slice +
        // parameters as ensureNearDupIndex) instead of re-running
        // minhash per invocation (round 14, the q372 pattern)
        val pairs = ndPairs(s, dir)
        Components.labelPropagation(docs.select("doc_id"), "doc_id",
            pairs, "id_a", "id_b", rounds = 4)
          .select(col("id").as("doc_id"), col("community"))
          .orderBy("doc_id")
      },
      Some("WITH " + minhashVerifiedCtes + ",\n" +
        pairsEdgesCtes + ",\n" + lpaCtes(4) + "\n" +
        """SELECT id AS doc_id, lbl AS community
          |FROM lp4 ORDER BY 1""".stripMargin)),

    // Grid-blocked nearest-neighbor spatial join (SpatialJoin
    // .nearestNeighbor): deterministic offset-encoded micro-degree
    // coordinates hashed per key, 30° cells, target side replicated
    // into its 3×3 neighborhood, probe joins its own cell — an
    // equi-join, never an all-pairs cross. Ranking distance is the
    // exact integer squared degree distance.
    QueryDef("q234_spatial_nn",
      (s, dir) => {
        def coords(df: DataFrame, key: String) = df.select(
          col(key),
          pmod(Hashing.portableHash(
            concat(col(key).cast("string"), lit(":lat"))),
            lit(120000001L)).as("lat"),
          pmod(Hashing.portableHash(
            concat(col(key).cast("string"), lit(":lon"))),
            lit(360000001L)).as("lon"))
        val cust = coords(t(s, dir, "customer"), "c_custkey")
        val supp = coords(t(s, dir, "supplier"), "s_suppkey")
        SpatialJoin.nearestNeighbor(
            cust, "c_custkey", "lat", "lon",
            supp, "s_suppkey", "lat", "lon", cellE6 = 30000000L)
          .withColumnRenamed("pid", "c_custkey")
          .orderBy("c_custkey")
      },
      Some {
        def h(key: String, tag: String) = Hashing.duckPortableHash(
          s"CAST($key AS VARCHAR) || ':$tag'")
        s"""WITH c AS (
             |  SELECT c_custkey AS pid,
             |    ${h("c_custkey", "lat")} % 120000001 AS plat,
             |    ${h("c_custkey", "lon")} % 360000001 AS plon
             |  FROM customer),
             |s AS (SELECT s_suppkey AS tid,
             |    ${h("s_suppkey", "lat")} % 120000001 AS tlat,
             |    ${h("s_suppkey", "lon")} % 360000001 AS tlon
             |  FROM supplier),
             |t9 AS (SELECT tid, tlat, tlon,
             |    tlat // 30000000 + dla AS cla,
             |    tlon // 30000000 + dlo AS clo
             |  FROM s,
             |    (SELECT unnest([-1, 0, 1]) AS dla) a,
             |    (SELECT unnest([-1, 0, 1]) AS dlo) b),
             |cand AS (SELECT pid, tid,
             |    (plat - tlat) * (plat - tlat) +
             |      (plon - tlon) * (plon - tlon) AS dist2_e12
             |  FROM c JOIN t9
             |    ON plat // 30000000 = cla AND plon // 30000000 = clo),
             |rk AS (SELECT *, row_number() OVER (
             |    PARTITION BY pid ORDER BY dist2_e12, tid) AS rn
             |  FROM cand)
             |SELECT pid AS c_custkey, tid AS nn_id,
             |  CAST(dist2_e12 AS BIGINT) AS dist2_e12,
             |  round(sqrt(CAST(dist2_e12 AS DOUBLE)) / 1000000.0, 6)
             |    AS dist_deg
             |FROM rk WHERE rn = 1 ORDER BY 1""".stripMargin
      }),

    // Watermark-planning lateness profile (ops/Lateness
    // .watermarkProfile): deterministic ±2 h hash jitter turns the
    // in-order synthetic stream into an out-of-order arrival
    // simulation; the running event-time watermark is computed as a
    // proper two-pass DISTRIBUTED prefix scan (bucketed maxima +
    // partitioned windows — no single-partition global window), and
    // each candidate allowed-lateness setting reports its drop rate.
    QueryDef("q235_watermark_profile",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .withColumn("et", expr("unix_micros(cast(ts as timestamp))"))
          .withColumn("arr", col("et") +
            pmod(Hashing.portableHash(
              concat(col("event_id").cast("string"), lit(":arr"))),
              lit(14400000001L)) - lit(7200000000L))
        Lateness.watermarkProfile(ev, "event_id", "et", "arr",
            bucketUs = 86400000000L,
            allowedUs = Seq(600000000L, 1800000000L, 3600000000L,
              7200000000L))
          .orderBy("allowed_s")
      },
      Some(s"""WITH e AS (
             |  SELECT event_id AS id, epoch_us(ts) AS et,
             |    epoch_us(ts) + ${Hashing.duckPortableHash(
                    "CAST(event_id AS VARCHAR) || ':arr'")}
             |      % 14400000001 - 7200000000 AS arr
             |  FROM events),
             |w AS (SELECT id, et, arr,
             |    max(et) OVER (ORDER BY arr, id) AS wm
             |  FROM e),
             |l AS (SELECT *, wm - et AS late_us FROM w),
             |st AS (SELECT count(*) AS n,
             |    sum(CASE WHEN late_us > 0 THEN 1 ELSE 0 END) AS n_late,
             |    percentile_cont(0.5) WITHIN GROUP (ORDER BY late_us)
             |      AS p50,
             |    percentile_cont(0.95) WITHIN GROUP (ORDER BY late_us)
             |      AS p95,
             |    percentile_cont(0.99) WITHIN GROUP (ORDER BY late_us)
             |      AS p99
             |  FROM l),
             |al AS (SELECT unnest([600000000, 1800000000, 3600000000,
             |    7200000000]) AS allowed_us),
             |dr AS (SELECT allowed_us,
             |    sum(CASE WHEN late_us > allowed_us THEN 1 ELSE 0 END)
             |      AS n_dropped
             |  FROM l CROSS JOIN al GROUP BY 1)
             |SELECT allowed_us // 1000000 AS allowed_s,
             |  CAST(n AS BIGINT) AS n, CAST(n_late AS BIGINT) AS n_late,
             |  CAST(n_dropped AS BIGINT) AS n_dropped,
             |  CAST((n_dropped * 1000000) // n AS BIGINT) AS drop_ppm,
             |  round(p50 / 1000000.0, 3) AS p50_late_s,
             |  round(p95 / 1000000.0, 3) AS p95_late_s,
             |  round(p99 / 1000000.0, 3) AS p99_late_s
             |FROM dr CROSS JOIN st ORDER BY 1""".stripMargin)),

    // Difference-in-differences (Experiment.diffInDiff): hash-split
    // pseudo-treatment switching on at the stream midpoint — the
    // causal contrast that nets out group baseline AND common time
    // trend. Four integer-moment cells; Welch-style SE; on a null
    // effect the t should be small (and is).
    QueryDef("q236_diff_in_diff",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .where(col("value").isNotNull)
          .withColumn("arm", pmod(Hashing.portableHash(
            concat(col("user_id").cast("string"), lit(":did"))),
            lit(2L)).cast("int"))
          .withColumn("post",
            (expr("unix_micros(cast(ts as timestamp)) div 86400000000")
              >= 19738L).cast("int"))
          .withColumn("cents", round(col("value") * 100).cast("long"))
        Experiment.diffInDiff(ev, "arm", "post", "cents")
      },
      Some(s"""WITH ev AS (
             |  SELECT CASE WHEN ${Hashing.duckPortableHash(
                    "CAST(user_id AS VARCHAR) || ':did'")} % 2 = 1
             |      THEN 1 ELSE 0 END AS arm,
             |    CASE WHEN epoch_us(ts) // 86400000000 >= 19738
             |      THEN 1 ELSE 0 END AS post,
             |    CAST(round(value * 100) AS BIGINT) AS x
             |  FROM events WHERE value IS NOT NULL),
             |cells AS (SELECT arm, post, count(*) AS n, sum(x) AS sx,
             |    sum(x * x) AS sxx
             |  FROM ev GROUP BY 1, 2),
             |wm AS (SELECT arm, post, n,
             |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
             |    (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *
             |        CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) /
             |      (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0)) AS von
             |  FROM cells),
             |sv AS (SELECT sum(von) AS sevar FROM wm),
             |j AS (SELECT
             |    (SELECT n FROM wm WHERE arm = 0 AND post = 0) AS n00,
             |    (SELECT n FROM wm WHERE arm = 0 AND post = 1) AS n01,
             |    (SELECT n FROM wm WHERE arm = 1 AND post = 0) AS n10,
             |    (SELECT n FROM wm WHERE arm = 1 AND post = 1) AS n11,
             |    (SELECT mean FROM wm WHERE arm = 0 AND post = 0) AS m00,
             |    (SELECT mean FROM wm WHERE arm = 0 AND post = 1) AS m01,
             |    (SELECT mean FROM wm WHERE arm = 1 AND post = 0) AS m10,
             |    (SELECT mean FROM wm WHERE arm = 1 AND post = 1) AS m11,
             |    (SELECT sevar FROM sv) AS sevar)
             |SELECT CAST(n00 AS BIGINT) AS n00,
             |  CAST(n01 AS BIGINT) AS n01,
             |  CAST(n10 AS BIGINT) AS n10,
             |  CAST(n11 AS BIGINT) AS n11,
             |  round(m00, 4) AS mean00, round(m01, 4) AS mean01,
             |  round(m10, 4) AS mean10, round(m11, 4) AS mean11,
             |  round((m11 - m10) - (m01 - m00), 4) + 0.0 AS did,
             |  round(sqrt(sevar), 4) AS se,
             |  round(CASE WHEN sqrt(sevar) > 0
             |    THEN ((m11 - m10) - (m01 - m00)) / sqrt(sevar) END, 4)
             |    + 0.0 AS t
             |FROM j""".stripMargin)),

    // Simpson's-paradox scan (Experiment.simpsonScan): pooled
    // urgent-vs-rest order value difference vs the same contrast
    // inside each market segment — strata whose sign flips flag a
    // mix-confounded pooled readout. Product-sign test on unrounded
    // doubles from exact integer moments.
    QueryDef("q237_simpson_scan",
      (s, dir) => {
        val o = t(s, dir, "orders")
          .join(t(s, dir, "customer")
            .select(col("c_custkey"), col("c_mktsegment")),
            col("o_custkey") === col("c_custkey"))
          .withColumn("arm",
            col("o_orderpriority").isin("1-URGENT", "2-HIGH")
              .cast("int"))
          .withColumn("cents",
            round(col("o_totalprice") * 100).cast("long"))
        Experiment.simpsonScan(o, "c_mktsegment", "arm", "cents")
          .orderBy("c_mktsegment")
      },
      Some("""WITH o AS (
             |  SELECT c_mktsegment,
             |    CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
             |      THEN 1 ELSE 0 END AS arm,
             |    CAST(round(o_totalprice * 100) AS BIGINT) AS x
             |  FROM orders JOIN customer ON o_custkey = c_custkey),
             |bys AS (SELECT c_mktsegment, arm, count(*) AS n,
             |    sum(x) AS sx
             |  FROM o GROUP BY 1, 2),
             |pool AS (SELECT arm, count(*) AS n, sum(x) AS sx
             |  FROM o GROUP BY 1),
             |pd AS (SELECT
             |    (SELECT CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
             |      FROM pool WHERE arm = 1) -
             |    (SELECT CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)
             |      FROM pool WHERE arm = 0) AS pooled),
             |s0 AS (SELECT c_mktsegment, n AS n0,
             |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS m0
             |  FROM bys WHERE arm = 0),
             |s1 AS (SELECT c_mktsegment, n AS n1,
             |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS m1
             |  FROM bys WHERE arm = 1)
             |SELECT s0.c_mktsegment, CAST(n0 AS BIGINT) AS n0,
             |  CAST(n1 AS BIGINT) AS n1,
             |  round(m0, 4) AS mean0, round(m1, 4) AS mean1,
             |  round(m1 - m0, 4) + 0.0 AS diff,
             |  round(pooled, 4) + 0.0 AS pooled_diff,
             |  CASE WHEN (m1 - m0) * pooled < 0 THEN 1 ELSE 0 END
             |    AS reversed
             |FROM s0 JOIN s1 USING (c_mktsegment)
             |CROSS JOIN pd
             |ORDER BY 1""".stripMargin)),

    // Token↔label mutual information (ops/FeatureSelect
    // .mutualInformation): which tokens carry the most information
    // about a document's language — the filter-method feature
    // selector feeding the q118 classifier tier. Cell terms snap to
    // integer nano-nats before the per-token sum, and the top-20
    // rank runs on the INTEGER score, so neither summation order nor
    // round-boundary ties can split engines.
    QueryDef("q238_token_label_mi",
      (s, dir) => FeatureSelect.mutualInformation(
          t(s, dir, "documents"), "doc_id", "lang", "text", k = 20)
        .orderBy("token"),
      Some("""WITH pres AS (
             |  SELECT DISTINCT doc_id AS id, lang AS l, unnest(
             |    list_distinct(list_filter(
             |      string_split_regex(text, ' +'), t -> t <> '')))
             |    AS token
             |  FROM documents),
             |ntl AS (SELECT token, l, count(*) AS n_tl
             |  FROM pres GROUP BY 1, 2),
             |nt AS (SELECT token, count(*) AS n_t FROM pres GROUP BY 1),
             |nl AS (SELECT lang AS l, count(*) AS n_l
             |  FROM documents GROUP BY 1),
             |ntot AS (SELECT count(*) AS nn FROM documents),
             |grid AS (SELECT nt.token, nt.n_t, nl.l, nl.n_l,
             |    coalesce(ntl.n_tl, 0) AS n_tl, nn
             |  FROM nt CROSS JOIN nl
             |  LEFT JOIN ntl ON nt.token = ntl.token AND nl.l = ntl.l
             |  CROSS JOIN ntot),
             |cells AS (SELECT token, n_t,
             |    (CASE WHEN n_tl > 0 THEN CAST(round(
             |        CAST(n_tl AS DOUBLE) / nn *
             |        ln(CAST(n_tl AS DOUBLE) * nn /
             |          (CAST(n_t AS DOUBLE) * n_l)) * 1000000000.0)
             |        AS BIGINT) ELSE 0 END
             |     + CASE WHEN n_l - n_tl > 0 THEN CAST(round(
             |        CAST(n_l - n_tl AS DOUBLE) / nn *
             |        ln(CAST(n_l - n_tl AS DOUBLE) * nn /
             |          (CAST(nn - n_t AS DOUBLE) * n_l)) * 1000000000.0)
             |        AS BIGINT) ELSE 0 END) AS mi_nano
             |  FROM grid),
             |sc AS (SELECT token, max(n_t) AS n_docs,
             |    sum(mi_nano) AS mi
             |  FROM cells GROUP BY 1),
             |rk AS (SELECT *, row_number() OVER (ORDER BY mi DESC, token)
             |    AS rk
             |  FROM sc)
             |SELECT token, CAST(n_docs AS BIGINT) AS n_docs,
             |  round(CAST(mi AS DOUBLE) / 1000000000.0, 6) AS mi
             |FROM rk WHERE rk <= 20 ORDER BY token""".stripMargin)),

    // EWMA control chart on daily event volume (Rolling.ewmaChart):
    // α=0.3 over the prior 14 days, 3σ gate — the fast-reacting
    // monitor q181's weekday means can't provide. Weights are Scala
    // literals shared with the oracle (no cross-engine pow), snapped
    // to micro-units before any sum.
    QueryDef("q239_ewma_chart",
      (s, dir) => {
        val ev = t(s, dir, "events").withColumn("day",
          expr("unix_micros(cast(ts as timestamp)) div 86400000000"))
        Rolling.ewmaChart(ev, "event_type", "day",
            alpha = 0.3, window = 14, kSigma = 3, minPrior = 7)
          .orderBy("g", "d")
      },
      Some {
        val ws = Rolling.ewmaWeights(0.3, 14).mkString("[", ", ", "]")
        s"""$eventsDailyCtes
             |contrib AS (SELECT g, d + j AS d, x AS xp,
             |    list_extract($ws, CAST(j AS INT)) AS w
             |  FROM daily,
             |    (SELECT unnest(generate_series(1, 14)) AS j) js),
             |snap AS (SELECT g, d, xp,
             |    CAST(round(w * 1000000.0) AS BIGINT) AS w_u,
             |    CAST(round(w * CAST(xp AS DOUBLE) * 1000000.0)
             |      AS BIGINT) AS wx_u
             |  FROM contrib),
             |prior AS (SELECT g, d, count(*) AS n_prior,
             |    sum(w_u) AS sw, sum(wx_u) AS swx,
             |    sum(xp) AS sx, sum(xp * xp) AS sxx
             |  FROM snap GROUP BY 1, 2)
             |SELECT daily.g, daily.d, CAST(daily.x AS BIGINT) AS x,
             |  CAST(n_prior AS BIGINT) AS n_prior,
             |  round(CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE), 4)
             |    AS ewma,
             |  round(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *
             |      CAST(sx AS DOUBLE) / CAST(n_prior AS DOUBLE)) /
             |    (CAST(n_prior AS DOUBLE) - 1.0)), 4) AS sigma,
             |  CASE WHEN sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *
             |      CAST(sx AS DOUBLE) / CAST(n_prior AS DOUBLE)) /
             |      (CAST(n_prior AS DOUBLE) - 1.0)) > 0
             |  THEN (CASE WHEN abs(CAST(daily.x AS DOUBLE) -
             |      CAST(swx AS DOUBLE) / CAST(sw AS DOUBLE)) >
             |      3.0 * sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *
             |        CAST(sx AS DOUBLE) / CAST(n_prior AS DOUBLE)) /
             |      (CAST(n_prior AS DOUBLE) - 1.0))
             |    THEN 1 ELSE 0 END)
             |  ELSE (CASE WHEN daily.x * n_prior <> sx
             |    THEN 1 ELSE 0 END) END AS flag
             |FROM daily JOIN prior
             |  ON daily.g = prior.g AND daily.d = prior.d
             |WHERE n_prior >= 7
             |ORDER BY 1, 2""".stripMargin
      }),

    // Classical additive seasonal decomposition (Seasonal.decompose):
    // centered 7-day MA trend, per-weekday seasonal from the
    // micro-snapped detrended series, remainder from the snapped
    // values — trend/cycle/surprise attribution for each day's
    // volume.
    QueryDef("q240_seasonal_decompose",
      (s, dir) => {
        val ev = t(s, dir, "events").withColumn("day",
          expr("unix_micros(cast(ts as timestamp)) div 86400000000"))
        Seasonal.decompose(ev, "event_type", "day")
          .orderBy("g", "d")
      },
      Some(s"""$eventsDailyCtes
             |tw AS (SELECT g, d, x, sum(x) OVER w AS s7,
             |    count(*) OVER w AS n7
             |  FROM daily WINDOW w AS (PARTITION BY g ORDER BY d
             |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
             |tr AS (SELECT g, d, x,
             |    CAST(s7 AS DOUBLE) / 7.0 AS trend,
             |    CAST(round((CAST(x AS DOUBLE) -
             |      CAST(s7 AS DOUBLE) / 7.0) * 1000000.0) AS BIGINT)
             |      AS detr_u,
             |    CAST((d + 3) % 7 + 1 AS INT) AS dow
             |  FROM tw WHERE n7 = 7),
             |se AS (SELECT g, dow, CAST(round(
             |    CAST(sum(detr_u) AS DOUBLE) / CAST(count(*) AS DOUBLE))
             |    AS BIGINT) AS seas_u
             |  FROM tr GROUP BY 1, 2)
             |SELECT tr.g, tr.d, tr.dow, CAST(tr.x AS BIGINT) AS x,
             |  round(trend, 4) AS trend,
             |  round(CAST(seas_u AS DOUBLE) / 1000000.0, 4) + 0.0
             |    AS seasonal,
             |  round(CAST(detr_u - seas_u AS DOUBLE) / 1000000.0, 4)
             |    + 0.0 AS remainder
             |FROM tr JOIN se ON tr.g = se.g AND tr.dow = se.dow
             |ORDER BY 1, 2""".stripMargin)),

    // Quantile–quantile drift profile (Drift.qqProfile): src0 vs src1
    // document lengths at a 19-point probability grid — the
    // SHAPE-level readout q160's scalar KS compresses away. One
    // percentile sketch per cohort; everything else runs on 19 rows.
    QueryDef("q241_qq_profile", {
      val ps = Seq(0.05, 0.1, 0.15, 0.2, 0.25, 0.3, 0.35, 0.4, 0.45,
        0.5, 0.55, 0.6, 0.65, 0.7, 0.75, 0.8, 0.85, 0.9, 0.95)
      (s: SparkSession, dir: String) => Drift.qqProfile(
          t(s, dir, "documents"), "source", "n_chars",
          cohortA = "src0", cohortB = "src1", ps = ps)
        .orderBy("p")
    },
      Some {
        val ps = Seq(0.05, 0.1, 0.15, 0.2, 0.25, 0.3, 0.35, 0.4, 0.45,
          0.5, 0.55, 0.6, 0.65, 0.7, 0.75, 0.8, 0.85, 0.9, 0.95)
        val lst = ps.mkString("[", ", ", "]")
        s"""WITH a AS (SELECT count(*) AS n_a,
             |    percentile_cont($lst)
             |      WITHIN GROUP (ORDER BY n_chars) AS qs
             |  FROM documents
             |  WHERE source = 'src0' AND n_chars IS NOT NULL),
             |b AS (SELECT count(*) AS n_b,
             |    percentile_cont($lst)
             |      WITHIN GROUP (ORDER BY n_chars) AS qs
             |  FROM documents
             |  WHERE source = 'src1' AND n_chars IS NOT NULL),
             |ix AS (SELECT unnest(generate_series(1, ${ps.size}))
             |    AS i),
             |ea AS (SELECT i, n_a, list_extract(a.qs, CAST(i AS INT))
             |    AS q_a
             |  FROM a CROSS JOIN ix),
             |eb AS (SELECT i, n_b, list_extract(b.qs, CAST(i AS INT))
             |    AS q_b
             |  FROM b CROSS JOIN ix)
             |SELECT list_extract($lst, CAST(i AS INT)) AS p,
             |  CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
             |  round(q_a, 4) AS q_a, round(q_b, 4) AS q_b,
             |  round(q_b - q_a, 4) + 0.0 AS gap
             |FROM ea JOIN eb USING (i) ORDER BY 1""".stripMargin
      }),

    // Exact positional phrase search (Retrieval.phraseSearch):
    // "slow hash batch" as a (doc, position) postings intersection —
    // postings filtered to the phrase's own words BEFORE any
    // shuffle, one equi-join per extra word, never positions×positions.
    QueryDef("q242_phrase_search",
      (s, dir) => Retrieval.phraseSearch(t(s, dir, "documents"),
          "doc_id", "text", phrase = Seq("slow", "hash", "batch"))
        .orderBy("doc_id"),
      Some("""WITH tk AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(text, ' +'), t -> t <> '') AS tk
             |  FROM documents),
             |pos AS (SELECT doc_id, i, tk[i] AS tok
             |  FROM (SELECT doc_id, tk,
             |      unnest(generate_series(1, len(tk))) AS i
             |    FROM tk)),
             |w0 AS (SELECT doc_id, i - 1 AS p FROM pos
             |  WHERE tok = 'slow'),
             |w1 AS (SELECT doc_id, i - 2 AS p FROM pos
             |  WHERE tok = 'hash'),
             |w2 AS (SELECT doc_id, i - 3 AS p FROM pos
             |  WHERE tok = 'batch'),
             |st AS (SELECT w0.doc_id, w0.p FROM w0
             |  JOIN w1 ON w0.doc_id = w1.doc_id AND w0.p = w1.p
             |  JOIN w2 ON w0.doc_id = w2.doc_id AND w0.p = w2.p)
             |SELECT doc_id, count(*) AS n_matches,
             |  CAST(min(p) AS INT) AS first_pos
             |FROM st GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Keyword-in-context concordance (Retrieval.kwic): every
    // occurrence of 'spark' with ±3 surrounding tokens, sliced from
    // the SAME token array the posexplode matched on — no second
    // scan, no join back to raw text.
    QueryDef("q243_kwic",
      (s, dir) => Retrieval.kwic(t(s, dir, "documents"),
          "doc_id", "text", term = "spark", ctx = 3)
        .orderBy("doc_id", "pos"),
      Some("""WITH tk AS (
             |  SELECT doc_id, list_filter(
             |    string_split_regex(text, ' +'), t -> t <> '') AS tk
             |  FROM documents),
             |m AS (SELECT doc_id, tk, i
             |  FROM (SELECT doc_id, tk,
             |      unnest(generate_series(1, len(tk))) AS i
             |    FROM tk)
             |  WHERE tk[i] = 'spark')
             |SELECT doc_id, CAST(i - 1 AS INT) AS pos,
             |  coalesce(array_to_string(list_slice(tk,
             |    greatest(i - 3, 1), i - 1), ' '), '') AS left_ctx,
             |  coalesce(array_to_string(list_slice(tk,
             |    i + 1, least(i + 3, len(tk))), ' '), '') AS right_ctx
             |FROM m ORDER BY 1, 2""".stripMargin)),

    // Huber M-estimator of document length per language (RobustStats
    // .huberLocation): 2 fixed IRLS rounds from the median, MAD
    // scale, k = 1.345 — the robust center that, unlike q176's trim,
    // downweights outliers smoothly instead of discarding a fixed
    // fraction. Micro-snapped weights make each round a ratio of
    // exact integer sums.
    QueryDef("q244_huber_location",
      (s, dir) => RobustStats.huberLocation(
          t(s, dir, "documents").select(col("lang"), col("n_chars")),
          "lang", "n_chars", k = 1.345, iters = 2)
        .orderBy("g"),
      Some("""WITH x AS (
             |  SELECT lang AS g, n_chars AS x FROM documents
             |  WHERE n_chars IS NOT NULL),
             |med AS (SELECT g, count(*) AS n, sum(x) AS sx,
             |    percentile_cont(0.5) WITHIN GROUP (ORDER BY x) AS m0
             |  FROM x GROUP BY 1),
             |mad AS (SELECT x.g, percentile_cont(0.5) WITHIN GROUP (
             |      ORDER BY abs(CAST(x.x AS DOUBLE) - m0)) * 1.4826 AS s
             |  FROM x JOIN med ON x.g = med.g GROUP BY 1),
             |it0 AS (SELECT med.g, n, sx, s, m0, m0 AS m
             |  FROM med JOIN mad ON med.g = mad.g),
             |w1 AS (SELECT x.g, x.x, CAST(round((CASE
             |      WHEN abs(CAST(x.x AS DOUBLE) - m) > 1.345 * s
             |      THEN 1.345 * s / abs(CAST(x.x AS DOUBLE) - m)
             |      ELSE 1.0 END) * 1000000.0) AS BIGINT) AS wu
             |  FROM x JOIN it0 ON x.g = it0.g),
             |m1 AS (SELECT g, CAST(sum(wu * x) AS DOUBLE) /
             |    CAST(sum(wu) AS DOUBLE) AS m
             |  FROM w1 GROUP BY 1),
             |st1 AS (SELECT it0.g, n, sx, s, m0, m1.m
             |  FROM it0 JOIN m1 ON it0.g = m1.g),
             |w2 AS (SELECT x.g, x.x, CAST(round((CASE
             |      WHEN abs(CAST(x.x AS DOUBLE) - m) > 1.345 * s
             |      THEN 1.345 * s / abs(CAST(x.x AS DOUBLE) - m)
             |      ELSE 1.0 END) * 1000000.0) AS BIGINT) AS wu
             |  FROM x JOIN st1 ON x.g = st1.g),
             |m2 AS (SELECT g, CAST(sum(wu * x) AS DOUBLE) /
             |    CAST(sum(wu) AS DOUBLE) AS m
             |  FROM w2 GROUP BY 1)
             |SELECT st1.g, CAST(n AS BIGINT) AS n,
             |  round(m0, 4) AS median, round(s, 4) AS mad_scale,
             |  round(CAST(sx AS DOUBLE) / CAST(n AS DOUBLE), 4) AS mean,
             |  round(m2.m, 4) AS huber
             |FROM st1 JOIN m2 ON st1.g = m2.g ORDER BY 1""".stripMargin)),

    // Character-entropy compressibility per source (ops/
    // Compressibility.charEntropy): zeroth-order Shannon bits/char +
    // the conservative 8-bit compression-ratio bound — the storage
    // planner's "which slices are worth zstd-ing hard" readout and a
    // junk detector (binary ≈ 8 bits, text ≈ 4). Nano-snapped −p·lg p
    // terms, alphabet-sized frames after the first aggregate.
    QueryDef("q245_char_entropy",
      (s, dir) => Compressibility.charEntropy(
          t(s, dir, "documents"), "source", "text")
        .orderBy("g"),
      Some("""WITH ch AS (
             |  SELECT source AS g, substring(text, CAST(i AS INT), 1)
             |    AS ch
             |  FROM (SELECT source, text,
             |      unnest(generate_series(1, length(text))) AS i
             |    FROM documents WHERE text IS NOT NULL)),
             |counts AS (SELECT g, ch, count(*) AS c
             |  FROM ch GROUP BY 1, 2),
             |wn AS (SELECT g, ch, c, sum(c) OVER (PARTITION BY g) AS n
             |  FROM counts),
             |terms AS (SELECT g, n, CAST(round(
             |    -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
             |    log2(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
             |    1000000000.0) AS BIGINT) AS term
             |  FROM wn),
             |ent AS (SELECT g, max(n) AS n_chars,
             |    count(*) AS n_distinct_chars, sum(term) AS hn
             |  FROM terms GROUP BY 1),
             |dc AS (SELECT source AS g, count(*) AS n_docs
             |  FROM documents WHERE text IS NOT NULL GROUP BY 1)
             |SELECT dc.g, CAST(n_docs AS BIGINT) AS n_docs,
             |  CAST(n_chars AS BIGINT) AS n_chars,
             |  CAST(n_distinct_chars AS BIGINT) AS n_distinct_chars,
             |  round(CAST(hn AS DOUBLE) / 1000000000.0, 4)
             |    AS entropy_bits,
             |  round(CASE WHEN hn > 0 THEN
             |    8.0 / (CAST(hn AS DOUBLE) / 1000000000.0) END, 4)
             |    AS est_ratio
             |FROM dc JOIN ent ON dc.g = ent.g ORDER BY 1""".stripMargin)),

    // Cohort LTV curve (Retention.ltvCurve): users bucketed by
    // first-seen week, purchase cents accumulated by weeks-since —
    // the growth triangle that prices a week-N user of each cohort.
    // Cumulative window runs on the (cohorts × ages) triangle only.
    QueryDef("q246_ltv_curve",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .withColumn("day",
            expr("unix_micros(cast(ts as timestamp)) div 86400000000"))
          .withColumn("v",
            when(col("event_type") === "purchase",
              round(col("value") * 100).cast("long")).otherwise(0L))
        Retention.ltvCurve(ev, "user_id", "day", "v")
          .orderBy("cohort_week", "age_week")
      },
      Some("""WITH ein AS (
             |  SELECT user_id AS e,
             |    epoch_us(ts) // 86400000000 // 7 AS wk,
             |    CASE WHEN event_type = 'purchase'
             |      THEN CAST(round(value * 100) AS BIGINT)
             |      ELSE 0 END AS v
             |  FROM events),
             |coh AS (SELECT e, min(wk) AS cw FROM ein GROUP BY 1),
             |sz AS (SELECT cw, count(*) AS n_cohort FROM coh GROUP BY 1),
             |tri AS (SELECT coh.cw, wk - cw AS age, sum(v) AS rev
             |  FROM ein JOIN coh ON ein.e = coh.e GROUP BY 1, 2),
             |cum AS (SELECT cw, age, rev,
             |    sum(rev) OVER (PARTITION BY cw ORDER BY age) AS cr
             |  FROM tri)
             |SELECT cw AS cohort_week, age AS age_week,
             |  CAST(n_cohort AS BIGINT) AS n_cohort,
             |  CAST(rev AS BIGINT) AS rev_cents,
             |  CAST(cr AS BIGINT) AS cum_rev_cents,
             |  round(CAST(cr AS DOUBLE) / CAST(n_cohort AS DOUBLE), 4)
             |    AS ltv_cents
             |FROM cum JOIN sz USING (cw)
             |ORDER BY 1, 2""".stripMargin)),

    // Time-weighted average value per (event type, day) (ops/
    // TimeWeighted.twap): each observation weighted by how long it
    // was last-seen — the right average for irregularly-sampled
    // state, where the plain mean over-weights bursts. Exact
    // integer ms·cents accumulation; one lead() window per
    // (group, day) slice.
    QueryDef("q247_twap",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .where(col("value").isNotNull)
          .withColumn("day",
            expr("unix_micros(cast(ts as timestamp)) div 86400000000"))
          .withColumn("et", expr("unix_micros(cast(ts as timestamp))"))
          .withColumn("cents", round(col("value") * 100).cast("long"))
        TimeWeighted.twap(ev, "event_type", "day", "et", "cents",
            sliceWidthUs = 86400000000L)
          .orderBy("g", "sl")
      },
      Some("""WITH e AS (
             |  SELECT event_type AS g, epoch_us(ts) // 86400000000 AS sl,
             |    epoch_us(ts) AS tsu,
             |    CAST(round(value * 100) AS BIGINT) AS v
             |  FROM events WHERE value IS NOT NULL),
             |g2 AS (SELECT g, sl, tsu, v,
             |    lead(tsu) OVER (PARTITION BY g, sl ORDER BY tsu, v)
             |      AS nxt
             |  FROM e),
             |d2 AS (SELECT g, sl, v,
             |    (coalesce(nxt, (sl + 1) * 86400000000) - tsu) // 1000
             |      AS dt
             |  FROM g2)
             |SELECT g, sl, count(*) AS n_obs,
             |  round(CAST(sum(v * dt) AS DOUBLE) /
             |    CAST(sum(dt) AS DOUBLE), 4) AS twap,
             |  round(CAST(sum(v) AS DOUBLE) /
             |    CAST(count(*) AS DOUBLE), 4) AS mean
             |FROM d2 WHERE dt > 0
             |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin)),

    // Markov steady-state event mix (ops/Markov.stationary): the
    // empirical transition matrix driven 3 fixed power-iteration
    // rounds from uniform — capacity planning's "if today's behavior
    // repeats" load model. Mass carried in integer nano-units,
    // snapped per matrix CELL, so the iteration replays exactly;
    // every round runs on the state²-sized frame.
    QueryDef("q248_markov_stationary",
      (s, dir) => Markov.stationary(t(s, dir, "events"),
          "user_id", "event_id", "event_type", rounds = 3)
        .orderBy("state"),
      Some("""WITH tr AS (
             |  SELECT i, j, count(*) AS n_ij FROM (
             |    SELECT event_type AS j,
             |      lag(event_type) OVER (PARTITION BY user_id
             |        ORDER BY event_id) AS i
             |    FROM events)
             |  WHERE i IS NOT NULL GROUP BY 1, 2),
             |ot AS (SELECT i, sum(n_ij) AS n_i FROM tr GROUP BY 1),
             |st AS (SELECT DISTINCT state FROM (
             |    SELECT i AS state FROM tr UNION SELECT j FROM tr)),
             |ns AS (SELECT count(*) AS ns FROM st),
             |p0 AS (SELECT state,
             |    CAST(round(1000000000.0 / ns) AS BIGINT) AS pn
             |  FROM st CROSS JOIN ns),
             |p1 AS (SELECT tr.j AS state, sum(CAST(round(
             |      CAST(pn AS DOUBLE) * CAST(n_ij AS DOUBLE) /
             |      CAST(n_i AS DOUBLE)) AS BIGINT)) AS pn
             |  FROM tr JOIN ot ON tr.i = ot.i
             |  JOIN p0 ON p0.state = tr.i GROUP BY 1),
             |p2 AS (SELECT tr.j AS state, sum(CAST(round(
             |      CAST(pn AS DOUBLE) * CAST(n_ij AS DOUBLE) /
             |      CAST(n_i AS DOUBLE)) AS BIGINT)) AS pn
             |  FROM tr JOIN ot ON tr.i = ot.i
             |  JOIN p1 ON p1.state = tr.i GROUP BY 1),
             |p3 AS (SELECT tr.j AS state, sum(CAST(round(
             |      CAST(pn AS DOUBLE) * CAST(n_ij AS DOUBLE) /
             |      CAST(n_i AS DOUBLE)) AS BIGINT)) AS pn
             |  FROM tr JOIN ot ON tr.i = ot.i
             |  JOIN p2 ON p2.state = tr.i GROUP BY 1),
             |tt AS (SELECT sum(pn) AS tot FROM p3)
             |SELECT st.state, CAST(coalesce(n_i, 0) AS BIGINT) AS n_out,
             |  round(1.0 / ns, 6) AS pi0,
             |  round(CAST(coalesce(p3.pn, 0) AS DOUBLE) /
             |    CAST(tot AS DOUBLE), 6) AS pi
             |FROM st
             |LEFT JOIN ot ON st.state = ot.i
             |LEFT JOIN p3 ON st.state = p3.state
             |CROSS JOIN ns CROSS JOIN tt
             |ORDER BY 1""".stripMargin)),

    // OLS residual diagnostics (Stats.olsDiagnostics): R² plus
    // residual skewness and excess kurtosis of the daily-volume
    // trend fit — "should I trust q133's slope". Residuals snap to
    // deci-units (scale cancels out of both shape statistics);
    // x^1.5 computed as x·√x so no cross-engine pow().
    QueryDef("q249_ols_diagnostics",
      (s, dir) => {
        val daily = t(s, dir, "events")
          .withColumn("day",
            expr("unix_micros(cast(ts as timestamp)) div 86400000000"))
          .groupBy(col("event_type").as("g"), col("day").as("x"))
          .agg(count(lit(1)).as("y"))
        Stats.olsDiagnostics(daily, "g", "x", "y", snapScale = 10)
          .orderBy("g")
      },
      Some("""WITH daily AS (
             |  SELECT event_type AS g, epoch_us(ts) // 86400000000 AS x,
             |    count(*) AS y
             |  FROM events GROUP BY 1, 2),
             |agg AS (SELECT g, count(*) AS n, sum(x) AS sx,
             |    sum(y) AS sy, sum(x * x) AS sxx, sum(x * y) AS sxy,
             |    sum(y * y) AS syy
             |  FROM daily GROUP BY 1),
             |par AS (SELECT g, n,
             |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
             |     CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
             |     CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b,
             |    ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
             |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             |     (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
             |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
             |      CAST(sx AS DOUBLE) * (-1.0) +
             |      CAST(sy AS DOUBLE)) / CAST(n AS DOUBLE) AS a,
             |    ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
             |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) *
             |     (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
             |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))) /
             |    ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
             |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
             |     (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
             |      CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))) AS r2
             |  FROM agg),
             |res AS (SELECT daily.g,
             |    CAST(round((CAST(y AS DOUBLE) - a - b *
             |      CAST(x AS DOUBLE)) * 10.0) AS BIGINT) AS rd
             |  FROM daily JOIN par ON daily.g = par.g),
             |mo AS (SELECT g, sum(rd * rd) AS m2,
             |    sum(rd * rd * rd) AS m3,
             |    sum(rd * rd * rd * rd) AS m4
             |  FROM res GROUP BY 1)
             |SELECT par.g, CAST(n AS BIGINT) AS n,
             |  round(b, 6) + 0.0 AS slope, round(r2, 4) AS r2,
             |  round(CASE WHEN m2 > 0 THEN
             |    (CAST(m3 AS DOUBLE) / CAST(n AS DOUBLE)) /
             |    ((CAST(m2 AS DOUBLE) / CAST(n AS DOUBLE)) *
             |     sqrt(CAST(m2 AS DOUBLE) / CAST(n AS DOUBLE))) END, 4)
             |    + 0.0 AS resid_skew,
             |  round(CASE WHEN m2 > 0 THEN
             |    CAST(m4 AS DOUBLE) / CAST(n AS DOUBLE) /
             |    ((CAST(m2 AS DOUBLE) / CAST(n AS DOUBLE)) *
             |     (CAST(m2 AS DOUBLE) / CAST(n AS DOUBLE))) - 3.0 END, 4)
             |    + 0.0 AS resid_kurtosis
             |FROM par JOIN mo ON par.g = mo.g ORDER BY 1""".stripMargin)),

    // Conversion-latency percentiles per touch channel (Attribution
    // .conversionLatency): time from the LAST click/view to the
    // purchase — the evidence for q230's 3-day lookback (a lookback
    // below p99 leaks credit) and the attribution twin of q235's
    // watermark profile.
    QueryDef("q250_conversion_latency",
      (s, dir) => Attribution.conversionLatency(t(s, dir, "events"),
          "event_id", "user_id", "ts", "event_type",
          convType = "purchase", touchTypes = Seq("click", "view"),
          lookbackDays = 3)
        .orderBy("channel"),
      Some("""WITH conv AS (
             |  SELECT event_id AS cid, user_id AS e, epoch_us(ts) AS cts
             |  FROM events WHERE event_type = 'purchase'),
             |touch AS (SELECT user_id AS e, epoch_us(ts) AS tts,
             |    event_type AS channel
             |  FROM events WHERE event_type IN ('click', 'view')),
             |lat AS (SELECT cid, channel, min(cts - tts) AS lat_us
             |  FROM conv JOIN touch ON conv.e = touch.e
             |  WHERE tts < cts AND tts >= cts - 259200000000
             |  GROUP BY 1, 2)
             |SELECT channel, count(*) AS n_conversions,
             |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY lat_us)
             |    / 1000000.0, 3) AS p50_s,
             |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY lat_us)
             |    / 1000000.0, 3) AS p90_s,
             |  round(percentile_cont(0.99) WITHIN GROUP (ORDER BY lat_us)
             |    / 1000000.0, 3) AS p99_s
             |FROM lat GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Daily peak concurrency (ops/Concurrency.dailyPeak): 30-min-gap
    // sessions swept as ±1 deltas, running sum via the SAME two-pass
    // distributed prefix scan as q235 (no single-partition global
    // window), ends-before-starts tie rule pinned in both engines.
    QueryDef("q251_peak_concurrency",
      (s, dir) => {
        val sess = Sessionize.gapSessions(t(s, dir, "events"),
            Seq("user_id"), "ts", "event_id", gapUs = 1800000000L)
          .withColumn("tu", expr("unix_micros(cast(ts as timestamp))"))
          .groupBy("user_id", "session_id")
          .agg(min("tu").as("s_us"), (max("tu") + lit(1L)).as("e_us"))
        Concurrency.dailyPeak(sess, "s_us", "e_us",
            bucketUs = 86400000000L)
          .orderBy("day")
      },
      Some("""WITH sv AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS tu
             |  FROM events),
             |lagged AS (SELECT user_id, tu,
             |    CASE WHEN lag(tu) OVER w IS NULL
             |      OR tu - lag(tu) OVER w > 1800000000
             |      THEN 1 ELSE 0 END AS nw,
             |    event_id
             |  FROM sv WINDOW w AS (PARTITION BY user_id
             |    ORDER BY tu, event_id)),
             |sess AS (SELECT user_id, tu, sum(nw) OVER (
             |    PARTITION BY user_id ORDER BY tu, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS sid
             |  FROM lagged),
             |iv AS (SELECT user_id, sid, min(tu) AS s, max(tu) + 1 AS e
             |  FROM sess GROUP BY 1, 2),
             |del AS (SELECT s AS t, 1 AS d FROM iv
             |  UNION ALL SELECT e, -1 FROM iv),
             |w2 AS (SELECT t, d, sum(d) OVER (ORDER BY t, d
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS conc
             |  FROM del)
             |SELECT t // 86400000000 AS day,
             |  CAST(sum(CASE WHEN d = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_starts,
             |  CAST(sum(CASE WHEN d = -1 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_ends,
             |  CAST(max(conc) AS BIGINT) AS peak_concurrent
             |FROM w2 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Grid-density clustering, DBSCAN-lite (SpatialJoin
    // .densityClusters): q234's hash-derived customer coordinates,
    // 10° cells, ≥4 points dense, 8-neighborhood merge via connected
    // components — the point set collapses to a cell frame after ONE
    // aggregate; everything else is grid-bounded.
    QueryDef("q252_density_clusters",
      (s, dir) => {
        val cust = t(s, dir, "customer").select(
          pmod(Hashing.portableHash(
            concat(col("c_custkey").cast("string"), lit(":lat"))),
            lit(120000001L)).as("lat"),
          pmod(Hashing.portableHash(
            concat(col("c_custkey").cast("string"), lit(":lon"))),
            lit(360000001L)).as("lon"))
        SpatialJoin.densityClusters(cust, "lat", "lon",
            cellE6 = 10000000L, minPts = 4L)
          .orderBy("cluster")
      },
      Some {
        def h(key: String, tag: String) = Hashing.duckPortableHash(
          s"CAST($key AS VARCHAR) || ':$tag'")
        s"""WITH RECURSIVE c AS (
             |  SELECT ${h("c_custkey", "lat")} % 120000001 AS plat,
             |    ${h("c_custkey", "lon")} % 360000001 AS plon
             |  FROM customer),
             |cells AS (SELECT plat // 10000000 AS cla,
             |    plon // 10000000 AS clo, count(*) AS n_pts
             |  FROM c GROUP BY 1, 2 HAVING count(*) >= 4),
             |ck AS (SELECT cla, clo, n_pts,
             |    cla * 1000000 + clo AS cell
             |  FROM cells),
             |nb AS (SELECT a.cell AS src, b.cell AS dst
             |  FROM ck a JOIN ck b
             |    ON abs(a.cla - b.cla) <= 1 AND abs(a.clo - b.clo) <= 1
             |    AND a.cell < b.cell),
             |edges AS (SELECT src, dst FROM nb
             |  UNION ALL SELECT dst, src FROM nb),
             |reach(id, lbl) AS (
             |  SELECT cell, cell FROM ck
             |  UNION
             |  SELECT e.dst, r.lbl FROM reach r
             |  JOIN edges e ON e.src = r.id),
             |comp AS (SELECT id, min(lbl) AS component
             |  FROM reach GROUP BY 1)
             |SELECT component AS cluster, count(*) AS n_cells,
             |  CAST(sum(n_pts) AS BIGINT) AS n_points,
             |  min(cla) AS cla_min, max(cla) AS cla_max,
             |  min(clo) AS clo_min, max(clo) AS clo_max
             |FROM ck JOIN comp ON ck.cell = comp.id
             |GROUP BY 1 ORDER BY 1""".stripMargin
      }),

    // k-core of the near-dup graph (GraphMetrics.kCore): 4 fixed
    // peeling rounds at k=2 — separates genuinely clustered
    // duplication (everyone keeps ≥2 neighbors) from pendant one-off
    // matches that q61's components still count. Round-for-round
    // oracle replay.
    QueryDef("q253_kcore",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
        // probes the shared persisted pairs table (same slice +
        // parameters as ensureNearDupIndex) instead of re-running
        // minhash per invocation (round 14, the q372 pattern)
        val pairs = ndPairs(s, dir)
        GraphMetrics.kCore(pairs, "id_a", "id_b", k = 2, rounds = 4)
          .orderBy("node")
      },
      Some("WITH " + minhashVerifiedCtes + ",\n" +
        pairsEdgesCtes + ",\n" +
        (1 to 4).map { i =>
          val prev = if (i == 1) "edges" else s"e${i - 1}"
          s"""d$i AS (SELECT src AS n, count(*) AS dg
             |  FROM $prev GROUP BY 1),
             |k$i AS (SELECT n FROM d$i WHERE dg >= 2),
             |e$i AS (SELECT e.src, e.dst FROM $prev e
             |  JOIN k$i a ON e.src = a.n
             |  JOIN k$i b ON e.dst = b.n)""".stripMargin
        }.mkString(",\n") + "\n" +
        """SELECT src AS node, count(*) AS core_degree
          |FROM e4 GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Heaps'-law vocabulary growth per source (TextAnalysis
    // .heapsProfile): N/V/hapax per slice plus ONE fitted exponent β
    // from the exact-integer ln-ln regression across the 20 slices —
    // the OOV-budget readout (V ≈ k·N^β).
    QueryDef("q254_heaps_law",
      (s, dir) => TextAnalysis.heapsProfile(
          t(s, dir, "documents"), "source", "text")
        .orderBy("slice"),
      Some("""WITH toks AS (
             |  SELECT source AS slice, unnest(list_filter(
             |    string_split_regex(text, ' +'), t -> t <> '')) AS tok
             |  FROM documents),
             |counts AS (SELECT slice, tok, count(*) AS c
             |  FROM toks GROUP BY 1, 2),
             |per AS (SELECT slice, sum(c) AS n_tokens,
             |    count(*) AS vocab,
             |    sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS n_hapax
             |  FROM counts GROUP BY 1),
             |pts AS (SELECT slice,
             |    CAST(round(ln(CAST(n_tokens AS DOUBLE)) * 1000000.0)
             |      AS BIGINT) AS x,
             |    CAST(round(ln(CAST(vocab AS DOUBLE)) * 1000000.0)
             |      AS BIGINT) AS y
             |  FROM per),
             |fit AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             |    sum(x * x) AS sxx, sum(x * y) AS sxy
             |  FROM pts),
             |fr AS (SELECT
             |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
             |     CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
             |     CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS beta,
             |    (CAST(sy AS DOUBLE) -
             |     (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
             |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             |     (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
             |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
             |     CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) / 1000000.0
             |      AS lnk
             |  FROM fit)
             |SELECT slice, CAST(n_tokens AS BIGINT) AS n_tokens,
             |  CAST(vocab AS BIGINT) AS vocab,
             |  CAST(n_hapax AS BIGINT) AS n_hapax,
             |  round(CAST(n_hapax AS DOUBLE) / CAST(vocab AS DOUBLE), 4)
             |    AS hapax_frac,
             |  round(beta, 4) AS heaps_beta,
             |  round(lnk, 4) AS heaps_lnk
             |FROM per CROSS JOIN fr ORDER BY 1""".stripMargin)),

    // Inter-arrival burstiness per event type (Seasonal
    // .interarrivalProfile): gap percentiles + CV² — the Poisson
    // litmus deciding whether q181/q239's rate math applies.
    // Integer-ms gap moments; one lag window per stream key.
    QueryDef("q255_interarrival",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .withColumn("tu", expr("unix_micros(cast(ts as timestamp))"))
        Seasonal.interarrivalProfile(ev, "event_type", "tu", "event_id")
          .orderBy("g")
      },
      Some("""WITH gv AS (
             |  SELECT event_type AS g, epoch_us(ts) AS tu, event_id
             |  FROM events),
             |l AS (SELECT g, tu, lag(tu) OVER (
             |    PARTITION BY g ORDER BY tu, event_id) AS prev
             |  FROM gv),
             |gg AS (SELECT g, (tu - prev) // 1000 AS gap
             |  FROM l WHERE prev IS NOT NULL)
             |SELECT g, count(*) AS n_gaps,
             |  round(CAST(sum(gap) AS DOUBLE) /
             |    CAST(count(*) AS DOUBLE) / 1000.0, 3) AS mean_gap_s,
             |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY gap)
             |    / 1000.0, 3) AS p50_gap_s,
             |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY gap)
             |    / 1000.0, 3) AS p90_gap_s,
             |  round((CAST(sum(gap * gap) AS DOUBLE) *
             |      CAST(count(*) AS DOUBLE) -
             |      CAST(sum(gap) AS DOUBLE) * CAST(sum(gap) AS DOUBLE)) /
             |    (CAST(sum(gap) AS DOUBLE) * CAST(sum(gap) AS DOUBLE)),
             |    4) AS cv2
             |FROM gg GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Contrastive triplet construction (ops/Contrastive.triplets):
    // positives from the verified near-dup graph, negatives drawn by
    // hash from ONE distributed corpus permutation (q57's sortBy+
    // zipWithIndex discipline, no global window), with draws that
    // collide with the anchor's duplicate neighborhood FLAGGED —
    // contrastive losses are poisoned by secret positives.
    QueryDef("q256_contrastive_triplets",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
        // probes the shared persisted pairs table (same slice +
        // parameters as ensureNearDupIndex) instead of re-running
        // minhash per invocation (round 14, the q372 pattern)
        val pairs = ndPairs(s, dir)
        Contrastive.triplets(docs.select("doc_id"), "doc_id",
            pairs, "id_a", "id_b", negsPer = 2)
          .orderBy("anchor", "neg_ix")
      },
      Some("WITH " + minhashVerifiedCtes + ",\n" +
        s"""pr AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.8),
          |sym AS (SELECT id_a AS u, id_b AS v FROM pr
          |  UNION SELECT id_b, id_a FROM pr),
          |anch AS (SELECT u AS anchor, min(v) AS pos
          |  FROM sym GROUP BY 1),
          |ranked AS (SELECT doc_id AS neg,
          |    row_number() OVER (ORDER BY
          |      ${Hashing.duckPortableHash("CAST(doc_id AS VARCHAR)")},
          |      CAST(doc_id AS VARCHAR)) - 1 AS rank
          |  FROM toks),
          |nt AS (SELECT count(*) AS n FROM ranked),
          |drawn AS (SELECT anchor, pos, ix AS neg_ix,
          |    ${Hashing.duckSeededHash("ix", "CAST(anchor AS VARCHAR)")}
          |      % n AS rank
          |  FROM anch CROSS JOIN nt,
          |    (SELECT unnest(generate_series(0, 1)) AS ix) xs),
          |dj AS (SELECT anchor, pos, neg_ix, neg
          |  FROM drawn JOIN ranked USING (rank))
          |SELECT dj.anchor, dj.pos, CAST(neg_ix AS INT) AS neg_ix, neg,
          |  CASE WHEN neg = anchor OR neg = pos OR sym.v IS NOT NULL
          |    THEN 0 ELSE 1 END AS clean
          |FROM dj LEFT JOIN sym
          |  ON sym.u = dj.anchor AND sym.v = dj.neg
          |ORDER BY 1, 3""".stripMargin)),

    // Hard-negative mining by label (Similarity.bruteForceTopK +
    // label audit): for each probe, its top-10 cosine neighbors
    // marked same/different label — the different-label close
    // neighbors ARE the hard negatives a contrastive trainer wants,
    // and a high same-label fraction is the embedding sanity check.
    QueryDef("q257_hard_negatives",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.bruteForceTopK(emb,
            emb.filter(col("vec_id") < 5), "vec_id", "embedding",
            k = 10)
          .join(emb.select(col("vec_id").as("query_id"),
            col("label").as("q_label")), "query_id")
          .join(emb.select(col("vec_id").as("neighbor_id"),
            col("label").as("n_label")), "neighbor_id")
          .select(col("query_id"), col("rank"), col("neighbor_id"),
            col("cos"),
            (col("q_label") === col("n_label")).cast("int")
              .as("same_label"))
          .orderBy("query_id", "rank")
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec,
             |    label AS q_label
             |  FROM embeddings WHERE vec_id < 5),
             |c AS (SELECT vec_id AS neighbor_id, embedding AS cvec,
             |    label AS n_label
             |  FROM embeddings),
             |scored AS (SELECT query_id, neighbor_id, q_label, n_label,
             |    ${duckCos("qvec", "cvec")} AS cos
             |  FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
             |rk AS (SELECT *, row_number() OVER (PARTITION BY query_id
             |    ORDER BY cos DESC, neighbor_id) AS rank
             |  FROM scored)
             |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id,
             |  round(cos, 4) AS cos,
             |  CASE WHEN q_label = n_label THEN 1 ELSE 0 END
             |    AS same_label
             |FROM rk WHERE rank <= 10 ORDER BY 1, 2""".stripMargin)),

    // Embedding outliers per label (centroid-cosine z-score): the
    // mislabel/junk detector — each label's centroid (the q65
    // per-dim avg → round-6 → float discipline), every member's
    // cosine to its OWN centroid snapped to integer micro-units for
    // exact moments, bottom-5 per label by the integer rank.
    QueryDef("q258_embedding_outliers",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val cents = emb
          .select(col("label"), posexplode(col("embedding"))
            .as(Seq("pos", "x")))
          .groupBy("label", "pos")
          .agg(avg(col("x").cast("double")).as("m"))
          .groupBy("label")
          .agg(array_sort(collect_list(struct(col("pos"), col("m"))))
            .as("pm"))
          .select(col("label"),
            transform(col("pm"), p => round(p("m"), 6).cast("float"))
              .as("cvec"))
        val scored = emb.join(broadcast(cents), "label")
          .withColumn("cos_u",
            round(Similarity.cosine(col("embedding"), col("cvec")) *
              lit(1e6)).cast("long"))
        val mom = scored.groupBy("label").agg(
          count(lit(1)).as("n"), sum("cos_u").as("_s"),
          sum(col("cos_u") * col("cos_u")).as("_ss"))
        def d(c: String) = col(c).cast("double")
        val wL = Window.partitionBy("label")
          .orderBy(col("cos_u").asc, col("vec_id").asc)
        scored
          .withColumn("_rk", row_number().over(wL))
          .where(col("_rk") <= 5)
          .join(mom, Seq("label"))
          .select(col("label"), col("_rk").as("out_rank"), col("vec_id"),
            round(col("cos_u").cast("double") / lit(1e6), 4).as("cos"),
            round((col("cos_u").cast("double") - d("_s") / d("n")) /
              sqrt((d("_ss") - d("_s") * d("_s") / d("n")) /
                (d("n") - lit(1.0))), 2).as("z"))
          .orderBy("label", "out_rank")
      },
      Some {
        val cosFrag = duckCos("embedding", "cvec")
        s"""WITH ex AS (SELECT label, embedding,
             |    unnest(generate_series(1, len(embedding))) AS i
             |  FROM embeddings),
             |ce AS (SELECT label, i,
             |    avg(CAST(embedding[i] AS DOUBLE)) AS m
             |  FROM ex GROUP BY 1, 2),
             |cv AS (SELECT label, list(CAST(round(m, 6) AS FLOAT)
             |    ORDER BY i) AS cvec
             |  FROM ce GROUP BY 1),
             |sc AS (SELECT e.label, e.vec_id,
             |    CAST(round($cosFrag * 1000000.0) AS BIGINT) AS cos_u
             |  FROM embeddings e JOIN cv ON e.label = cv.label),
             |mom AS (SELECT label, count(*) AS n, sum(cos_u) AS s,
             |    sum(cos_u * cos_u) AS ss
             |  FROM sc GROUP BY 1),
             |rk AS (SELECT *, row_number() OVER (PARTITION BY label
             |    ORDER BY cos_u, vec_id) AS out_rank
             |  FROM sc)
             |SELECT rk.label, CAST(out_rank AS INT) AS out_rank, vec_id,
             |  round(CAST(cos_u AS DOUBLE) / 1000000.0, 4) AS cos,
             |  round((CAST(cos_u AS DOUBLE) -
             |      CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) /
             |    sqrt((CAST(ss AS DOUBLE) - CAST(s AS DOUBLE) *
             |        CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) /
             |      (CAST(n AS DOUBLE) - 1.0)), 2) AS z
             |FROM rk JOIN mom ON rk.label = mom.label
             |WHERE out_rank <= 5 ORDER BY 1, 2""".stripMargin
      }),

    // Dedup distribution-shift audit (Drift.jsTokenShift): Jensen–
    // Shannon divergence of the token mix BEFORE vs AFTER exact
    // dedup — "did cleaning skew the content" in one bounded number.
    // Nano-snapped terms over the union vocabulary (q238's
    // discipline).
    QueryDef("q259_dedup_shift",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val kept = docs.join(
          Dedup.exact(docs, "text", "doc_id")
            .select(col("keep_id").as("doc_id")), Seq("doc_id"),
          "left_semi")
        Drift.jsTokenShift(docs, kept, "text")
      },
      Some(s"""WITH $dedupTokenCountCtes
             |na AS (SELECT count(*) AS docs_a FROM documents),
             |nb AS (SELECT count(*) AS docs_b FROM keep),
             |tta AS (SELECT sum(c_a) AS tokens_a FROM ca),
             |ttb AS (SELECT sum(c_b) AS tokens_b FROM cb),
             |j AS (SELECT coalesce(c_a, 0) AS c_a,
             |    coalesce(c_b, 0) AS c_b
             |  FROM ca FULL JOIN cb USING (tok)),
             |terms AS (SELECT c_a, c_b,
             |$jsTermSql,
             |    docs_a, docs_b, tokens_a, tokens_b
             |  FROM j CROSS JOIN na CROSS JOIN nb
             |  CROSS JOIN tta CROSS JOIN ttb)
             |SELECT CAST(docs_a AS BIGINT) AS docs_a,
             |  CAST(docs_b AS BIGINT) AS docs_b,
             |  CAST(tokens_a AS BIGINT) AS tokens_a,
             |  CAST(tokens_b AS BIGINT) AS tokens_b,
             |  count(*) AS vocab_union,
             |  round(CAST(sum(t) AS DOUBLE) / 1000000000.0, 6)
             |    AS js_nats
             |FROM terms
             |GROUP BY 1, 2, 3, 4""".stripMargin)),

    // Grouped 5-fold assignment with leakage audit: folds cut on the
    // USER hash (GroupKFold — a user never spans folds, the leak
    // cross-validation must avoid), per-fold volume and purchase mix,
    // plus the structural leaky-user count (provably 0, measured
    // anyway — audits state what holds, they don't assume it).
    QueryDef("q260_grouped_folds",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .withColumn("fold", pmod(Hashing.portableHash(
            concat(col("user_id").cast("string"), lit(":fold"))),
            lit(5L)).cast("int"))
        val perFold = ev.groupBy("fold").agg(
          countDistinct("user_id").as("n_users"),
          count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("_np"))
        val leaky = ev.groupBy("user_id")
          .agg(countDistinct("fold").as("_nf"))
          .agg(sum(when(col("_nf") > 1, 1L).otherwise(0L))
            .as("leaky_users"))
        perFold.crossJoin(broadcast(leaky))
          .select(col("fold"), col("n_users"), col("n_events"),
            expr("(_np * 1000000) DIV n_events").as("purchase_ppm"),
            col("leaky_users"))
          .orderBy("fold")
      },
      Some(s"""WITH ev AS (
             |  SELECT user_id, event_type,
             |    ${Hashing.duckPortableHash(
                    "CAST(user_id AS VARCHAR) || ':fold'")} % 5 AS fold
             |  FROM events),
             |pf AS (SELECT fold, count(DISTINCT user_id) AS n_users,
             |    count(*) AS n_events,
             |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
             |      AS np
             |  FROM ev GROUP BY 1),
             |lk AS (SELECT CAST(sum(CASE WHEN nf > 1 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS leaky_users
             |  FROM (SELECT user_id, count(DISTINCT fold) AS nf
             |    FROM ev GROUP BY 1))
             |SELECT CAST(fold AS INT) AS fold, n_users,
             |  CAST(n_events AS BIGINT) AS n_events,
             |  CAST((np * 1000000) // n_events AS BIGINT)
             |    AS purchase_ppm,
             |  leaky_users
             |FROM pf CROSS JOIN lk ORDER BY 1""".stripMargin)),

    // Leave-one-out k-NN accuracy per label (Similarity.knnPredict):
    // the no-model embedding-quality eval — if labels cluster, 5-NN
    // gets them right. Queries bounded to the vec_id<200 eval sample
    // (the q103 discipline); at corpus scale swap brute force for
    // the IVF probe, voting unchanged.
    QueryDef("q261_knn_loo_eval",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.knnPredict(emb, emb.filter(col("vec_id") < 200),
            "vec_id", "embedding", "label", k = 5)
          .groupBy(col("true_label").as("label"))
          .agg(count(lit(1)).as("n_queries"),
            sum(when(col("pred_label") === col("true_label"), 1L)
              .otherwise(0L)).as("n_correct"))
          .withColumn("accuracy",
            round(col("n_correct").cast("double") /
              col("n_queries").cast("double"), 4))
          .orderBy("label")
      },
      Some("WITH " + knnCtes(200, 5) + "\n" +
        """SELECT t_label AS label, count(*) AS n_queries,
          |  CAST(sum(CASE WHEN pred = t_label THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_correct,
          |  round(CAST(sum(CASE WHEN pred = t_label THEN 1 ELSE 0 END)
          |      AS DOUBLE) / CAST(count(*) AS DOUBLE), 4) AS accuracy
          |FROM knp GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Per-class precision/recall/F1 of the q261 k-NN classifier:
    // the confusion-margin readout a single accuracy number hides —
    // which labels bleed into which. All ratios from exact integer
    // confusion counts.
    QueryDef("q262_knn_prf1",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val pred = Similarity.knnPredict(emb,
          emb.filter(col("vec_id") < 200), "vec_id", "embedding",
          "label", k = 5)
        val tp = pred.where(col("pred_label") === col("true_label"))
          .groupBy(col("true_label").as("label"))
          .agg(count(lit(1)).as("tp"))
        val act = pred.groupBy(col("true_label").as("label"))
          .agg(count(lit(1)).as("n_actual"))
        val prd = pred.groupBy(col("pred_label").as("label"))
          .agg(count(lit(1)).as("n_predicted"))
        act.join(prd, Seq("label"), "full_outer")
          .join(tp, Seq("label"), "left")
          .select(col("label"),
            coalesce(col("n_actual"), lit(0L)).as("n_actual"),
            coalesce(col("n_predicted"), lit(0L)).as("n_predicted"),
            coalesce(col("tp"), lit(0L)).as("tp"))
          .withColumn("precision", round(when(col("n_predicted") > 0,
            col("tp").cast("double") / col("n_predicted").cast("double"))
            .otherwise(lit(null)), 4))
          .withColumn("recall", round(when(col("n_actual") > 0,
            col("tp").cast("double") / col("n_actual").cast("double"))
            .otherwise(lit(null)), 4))
          .withColumn("f1", round(when(
            col("tp") > 0,
            lit(2.0) * (col("tp").cast("double") /
              col("n_predicted").cast("double")) *
              (col("tp").cast("double") / col("n_actual").cast("double")) /
              (col("tp").cast("double") / col("n_predicted").cast("double") +
                col("tp").cast("double") / col("n_actual").cast("double")))
            .otherwise(lit(0.0)), 4))
          .orderBy("label")
      },
      Some("WITH " + knnCtes(200, 5) + ",\n" +
        """tp AS (SELECT t_label AS label, count(*) AS tp
          |  FROM knp WHERE pred = t_label GROUP BY 1),
          |act AS (SELECT t_label AS label, count(*) AS n_actual
          |  FROM knp GROUP BY 1),
          |prd AS (SELECT pred AS label, count(*) AS n_predicted
          |  FROM knp GROUP BY 1)
          |SELECT coalesce(act.label, prd.label) AS label,
          |  coalesce(n_actual, 0) AS n_actual,
          |  coalesce(n_predicted, 0) AS n_predicted,
          |  CAST(coalesce(tp.tp, 0) AS BIGINT) AS tp,
          |  round(CASE WHEN coalesce(n_predicted, 0) > 0
          |    THEN CAST(coalesce(tp.tp, 0) AS DOUBLE) /
          |      CAST(n_predicted AS DOUBLE)
          |    END, 4) AS precision,
          |  round(CASE WHEN coalesce(n_actual, 0) > 0
          |    THEN CAST(coalesce(tp.tp, 0) AS DOUBLE) /
          |      CAST(n_actual AS DOUBLE)
          |    END, 4) AS recall,
          |  round(CASE WHEN coalesce(tp.tp, 0) > 0
          |    THEN 2.0 * (CAST(tp.tp AS DOUBLE) /
          |        CAST(n_predicted AS DOUBLE)) *
          |      (CAST(tp.tp AS DOUBLE) / CAST(n_actual AS DOUBLE)) /
          |      (CAST(tp.tp AS DOUBLE) / CAST(n_predicted AS DOUBLE) +
          |       CAST(tp.tp AS DOUBLE) / CAST(n_actual AS DOUBLE))
          |    ELSE 0.0 END, 4) AS f1
          |FROM act
          |FULL JOIN prd ON act.label = prd.label
          |LEFT JOIN tp ON act.label = tp.label
          |ORDER BY 1""".stripMargin)),

    // Distribution-free median CI per language (RobustStats
    // .medianCi): binomial order-statistic bounds — no normality
    // assumption, exact data values as endpoints, rank bounds from
    // one fixed floor/ceil expression.
    QueryDef("q263_median_ci",
      (s, dir) => RobustStats.medianCi(
          t(s, dir, "documents"), "lang", "n_chars")
        .orderBy("g"),
      Some("""WITH x AS (SELECT lang AS g, n_chars AS x
             |  FROM documents WHERE n_chars IS NOT NULL),
             |rk AS (SELECT g, x,
             |    row_number() OVER (PARTITION BY g ORDER BY x) AS rn,
             |    count(*) OVER (PARTITION BY g) AS n
             |  FROM x),
             |bd AS (SELECT g, x, rn, n,
             |    greatest(1, CAST(floor((CAST(n AS DOUBLE) -
             |      1.959964 * sqrt(CAST(n AS DOUBLE))) / 2.0)
             |      AS BIGINT)) AS lo,
             |    least(n, CAST(ceil((CAST(n AS DOUBLE) + 2.0 +
             |      1.959964 * sqrt(CAST(n AS DOUBLE))) / 2.0)
             |      AS BIGINT)) AS hi
             |  FROM rk),
             |ci AS (SELECT g,
             |    min(CASE WHEN rn = lo THEN x END) AS ci_lo,
             |    max(CASE WHEN rn = hi THEN x END) AS ci_hi
             |  FROM bd WHERE rn = lo OR rn = hi GROUP BY 1),
             |md AS (SELECT g, count(*) AS n,
             |    percentile_cont(0.5) WITHIN GROUP (ORDER BY x) AS med
             |  FROM x GROUP BY 1)
             |SELECT md.g, CAST(md.n AS BIGINT) AS n,
             |  round(med, 4) AS median,
             |  CAST(ci_lo AS DOUBLE) AS ci_lo,
             |  CAST(ci_hi AS DOUBLE) AS ci_hi
             |FROM md JOIN ci ON md.g = ci.g ORDER BY 1""".stripMargin)),

    // Session dwell/bounce report (Sessionize.dwellStats): 30-min-gap
    // sessions → per start day the session count, single-event
    // bounce share, and dwell percentiles — did engagement move or
    // just traffic.
    QueryDef("q264_session_dwell",
      (s, dir) => Sessionize.dwellStats(t(s, dir, "events"),
          Seq("user_id"), "ts", "event_id", gapUs = 1800000000L)
        .orderBy("day"),
      Some("""WITH sv AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS tu
             |  FROM events),
             |lg AS (SELECT user_id, tu, event_id,
             |    CASE WHEN lag(tu) OVER w IS NULL
             |      OR tu - lag(tu) OVER w > 1800000000
             |      THEN 1 ELSE 0 END AS nw
             |  FROM sv WINDOW w AS (PARTITION BY user_id
             |    ORDER BY tu, event_id)),
             |ss AS (SELECT user_id, tu, sum(nw) OVER (
             |    PARTITION BY user_id ORDER BY tu, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS sid
             |  FROM lg),
             |ag AS (SELECT user_id, sid, count(*) AS n_ev,
             |    min(tu) AS s, max(tu) AS e
             |  FROM ss GROUP BY 1, 2),
             |dd AS (SELECT (e - s) // 1000 AS dwell,
             |    s // 86400000000 AS day, n_ev
             |  FROM ag)
             |SELECT day, count(*) AS n_sessions,
             |  CAST((sum(CASE WHEN n_ev = 1 THEN 1 ELSE 0 END) *
             |    1000000) // count(*) AS BIGINT) AS bounce_ppm,
             |  round(percentile_cont(0.5) WITHIN GROUP (ORDER BY dwell)
             |    / 1000.0, 3) AS p50_dwell_s,
             |  round(percentile_cont(0.9) WITHIN GROUP (ORDER BY dwell)
             |    / 1000.0, 3) AS p90_dwell_s
             |FROM dd GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Two-NN intrinsic dimension (Similarity.twoNnDimension, Facco
    // et al. 2017): ID ≈ n/Σln(d₂/d₁) over the bounded query sample —
    // tells you whether q121's JL target dim is below the data's
    // effective dimension. Duplicate-degenerate points excluded AND
    // counted.
    QueryDef("q265_intrinsic_dim",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.twoNnDimension(emb,
          emb.filter(col("vec_id") < 200), "vec_id", "embedding")
      },
      Some(s"""WITH q AS (SELECT vec_id AS query_id, embedding AS qvec
             |  FROM embeddings WHERE vec_id < 200),
             |c AS (SELECT vec_id AS neighbor_id, embedding AS cvec
             |  FROM embeddings),
             |sc AS (SELECT query_id, neighbor_id,
             |    ${duckCos("qvec", "cvec")} AS cos
             |  FROM c CROSS JOIN q WHERE neighbor_id <> query_id),
             |rk0 AS (SELECT query_id, cos, row_number() OVER (
             |    PARTITION BY query_id ORDER BY cos DESC, neighbor_id)
             |    AS rank
             |  FROM sc),
             |rk AS (SELECT query_id, round(cos, 4) AS cos, rank
             |  FROM rk0 WHERE rank <= 2),
             |mu AS (SELECT query_id,
             |    min(CASE WHEN rank = 1 THEN 1.0 - cos END) AS d1,
             |    min(CASE WHEN rank = 2 THEN 1.0 - cos END) AS d2
             |  FROM rk GROUP BY 1),
             |lr AS (SELECT CASE WHEN d1 > 0 AND d2 > d1
             |    THEN CAST(round(ln(d2 / d1) * 1000000000.0) AS BIGINT)
             |    END AS lnr
             |  FROM mu)
             |SELECT count(*) AS n_sample, count(lnr) AS n_valid,
             |  round(CAST(count(lnr) AS DOUBLE) /
             |    (CAST(sum(lnr) AS DOUBLE) / 1000000000.0), 3)
             |    AS id_est
             |FROM lr""".stripMargin)),

    // k-anonymity risk report (ops/Anonymity.kAnonymity, Sweeney
    // 2002): QI = (lang, source, length bucket) — the 10 smallest
    // equivalence classes (the actual re-identification surface)
    // with the corpus summary repeated. The governance gate before
    // sharing a "de-identified" extract.
    QueryDef("q266_k_anonymity",
      (s, dir) => Anonymity.kAnonymity(
          t(s, dir, "documents")
            .withColumn("len_bucket", expr("n_chars DIV 500")),
          Seq("lang", "source", "len_bucket"), k = 5L, topN = 10)
        .orderBy("risk_rank"),
      Some("""WITH q AS (SELECT lang, source, n_chars // 500
             |    AS len_bucket
             |  FROM documents),
             |cl AS (SELECT lang, source, len_bucket,
             |    count(*) AS class_size
             |  FROM q GROUP BY 1, 2, 3),
             |sm AS (SELECT count(*) AS n_classes,
             |    sum(CASE WHEN class_size < 5 THEN 1 ELSE 0 END)
             |      AS n_small_classes,
             |    sum(CASE WHEN class_size < 5 THEN class_size
             |      ELSE 0 END) AS records_at_risk,
             |    min(class_size) AS min_class_size,
             |    sum(class_size) AS n_records
             |  FROM cl),
             |rk AS (SELECT *, row_number() OVER (ORDER BY class_size,
             |    lang, source, len_bucket) AS risk_rank
             |  FROM cl)
             |SELECT CAST(risk_rank AS INT) AS risk_rank, lang, source,
             |  len_bucket, CAST(class_size AS BIGINT) AS class_size,
             |  CAST(n_classes AS BIGINT) AS n_classes,
             |  CAST(n_small_classes AS BIGINT) AS n_small_classes,
             |  CAST(records_at_risk AS BIGINT) AS records_at_risk,
             |  CAST(min_class_size AS BIGINT) AS min_class_size,
             |  CAST((records_at_risk * 1000000) // n_records AS BIGINT)
             |    AS risk_ppm
             |FROM rk CROSS JOIN sm
             |WHERE risk_rank <= 10 ORDER BY risk_rank""".stripMargin)),

    // Whole-star referential-integrity audit (Expectations
    // .refIntegrity ×5): orphan + null-FK counts for every relation
    // in the schema — the on-load DQ check. (The synthetic star is
    // clean; the audit MEASURES that rather than assuming it.)
    QueryDef("q267_ref_integrity",
      (s, dir) => {
        import graft.ops.Expectations
        val li = t(s, dir, "lineitem"); val ord = t(s, dir, "orders")
        val cust = t(s, dir, "customer"); val pt = t(s, dir, "part")
        val sup = t(s, dir, "supplier"); val nat = t(s, dir, "nation")
        Seq(
          Expectations.refIntegrity(li, "l_orderkey", ord,
            "o_orderkey", "lineitem->orders"),
          Expectations.refIntegrity(li, "l_partkey", pt,
            "p_partkey", "lineitem->part"),
          Expectations.refIntegrity(li, "l_suppkey", sup,
            "s_suppkey", "lineitem->supplier"),
          Expectations.refIntegrity(ord, "o_custkey", cust,
            "c_custkey", "orders->customer"),
          Expectations.refIntegrity(cust, "c_nationkey", nat,
            "n_nationkey", "customer->nation")
        ).reduce(_ unionByName _).orderBy("relation")
      },
      Some {
        def rel(label: String, child: String, ck: String,
            parent: String, pk: String) =
          s"""SELECT '$label' AS relation,
             |  (SELECT count(*) FROM $child) AS n_child,
             |  (SELECT count(*) FROM $child WHERE $ck IS NULL)
             |    AS n_null_key,
             |  (SELECT count(*) FROM $child WHERE $ck IS NOT NULL
             |    AND $ck NOT IN (SELECT DISTINCT $pk FROM $parent
             |      WHERE $pk IS NOT NULL)) AS n_orphans""".stripMargin
        Seq(
          rel("lineitem->orders", "lineitem", "l_orderkey",
            "orders", "o_orderkey"),
          rel("lineitem->part", "lineitem", "l_partkey",
            "part", "p_partkey"),
          rel("lineitem->supplier", "lineitem", "l_suppkey",
            "supplier", "s_suppkey"),
          rel("orders->customer", "orders", "o_custkey",
            "customer", "c_custkey"),
          rel("customer->nation", "customer", "c_nationkey",
            "nation", "n_nationkey"))
          .mkString("WITH u AS (\n", "\nUNION ALL\n", """)
            |SELECT relation, CAST(n_child AS BIGINT) AS n_child,
            |  CAST(n_null_key AS BIGINT) AS n_null_key,
            |  CAST(n_orphans AS BIGINT) AS n_orphans,
            |  CAST((n_orphans * 1000000) // n_child AS BIGINT)
            |    AS orphan_ppm
            |FROM u ORDER BY relation""".stripMargin)
      }),

    // Duplication-rate growth curve (Dedup.dupRateCurve): exact-dup
    // ppm at ¼/½/full id-prefix slices in ONE pass — dup rate grows
    // with corpus size, so this curve is the extrapolation evidence
    // for what a 100 TB crawl will dedup.
    QueryDef("q268_dup_growth",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val mx = docs.agg(max("doc_id")).head.getLong(0) + 1
        Dedup.dupRateCurve(docs, "doc_id", "text",
            Seq(mx / 4, mx / 2, mx))
          .orderBy("cutoff")
      },
      Some("""WITH mx AS (SELECT max(doc_id) + 1 AS m FROM documents),
             |cc AS (SELECT unnest([m // 4, m // 2, m]) AS c FROM mx),
             |h AS (SELECT doc_id AS id, md5(text) AS h
             |  FROM documents),
             |per AS (SELECT c AS cutoff,
             |    sum(CASE WHEN id < c THEN 1 ELSE 0 END) AS n_docs,
             |    count(DISTINCT CASE WHEN id < c THEN h END)
             |      AS n_distinct
             |  FROM h CROSS JOIN cc GROUP BY 1)
             |SELECT CAST(cutoff AS BIGINT) AS cutoff,
             |  CAST(n_docs AS BIGINT) AS n_docs,
             |  CAST(n_distinct AS BIGINT) AS n_distinct,
             |  CAST(n_docs - n_distinct AS BIGINT) AS n_dups,
             |  CAST(((n_docs - n_distinct) * 1000000) // n_docs
             |    AS BIGINT) AS dup_ppm
             |FROM per ORDER BY 1""".stripMargin)),

    // Chapman capture–recapture (CardinalityEstimate
    // .chapmanEstimate): two independent 40%/30% hash "crawls" of
    // the doc id space estimate the full corpus from their overlap —
    // with the truth available, the error is MEASURED.
    QueryDef("q269_capture_recapture",
      (s, dir) => CardinalityEstimate.chapmanEstimate(
        t(s, dir, "documents"), "doc_id", pctA = 40, pctB = 30),
      Some {
        def h(tag: String) = Hashing.duckPortableHash(
          s"CAST(doc_id AS VARCHAR) || ':$tag'")
        s"""WITH agg AS (SELECT count(*) AS n_true,
             |    sum(CASE WHEN ${h("crA")} % 100 < 40
             |      THEN 1 ELSE 0 END) AS n_a,
             |    sum(CASE WHEN ${h("crB")} % 100 < 30
             |      THEN 1 ELSE 0 END) AS n_b,
             |    sum(CASE WHEN ${h("crA")} % 100 < 40
             |      AND ${h("crB")} % 100 < 30
             |      THEN 1 ELSE 0 END) AS n_both
             |  FROM documents)
             |SELECT CAST(n_true AS BIGINT) AS n_true,
             |  CAST(n_a AS BIGINT) AS n_a,
             |  CAST(n_b AS BIGINT) AS n_b,
             |  CAST(n_both AS BIGINT) AS n_both,
             |  round((CAST(n_a AS DOUBLE) + 1.0) *
             |    (CAST(n_b AS DOUBLE) + 1.0) /
             |    (CAST(n_both AS DOUBLE) + 1.0) - 1.0, 2)
             |    AS chapman_est,
             |  CAST(round((((CAST(n_a AS DOUBLE) + 1.0) *
             |      (CAST(n_b AS DOUBLE) + 1.0) /
             |      (CAST(n_both AS DOUBLE) + 1.0) - 1.0) /
             |    CAST(n_true AS DOUBLE) - 1.0) * 1000000.0) AS BIGINT)
             |    AS err_ppm
             |FROM agg""".stripMargin
      }),

    // Empirical-Bayes purchase-rate leaderboard (ops/Shrinkage
    // .empiricalBayesRate): per-user rates pulled toward the pooled
    // rate by 50 pseudo-trials — the small-sample-leaderboard fix,
    // top-20 via TakeOrderedAndProject (no global window).
    QueryDef("q270_eb_shrinkage",
      (s, dir) => Shrinkage.empiricalBayesRate(
          t(s, dir, "events")
            .withColumn("is_trial", lit(1))
            .withColumn("is_succ",
              (col("event_type") === "purchase").cast("int")),
          "user_id", "is_trial", "is_succ", m = 50, topN = 20),
      Some("""WITH per AS (SELECT user_id AS entity,
             |    count(*) AS n_trials,
             |    sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
             |      END) AS n_succ
             |  FROM events GROUP BY 1),
             |g AS (SELECT CAST(sum(n_succ) AS DOUBLE) /
             |    CAST(sum(n_trials) AS DOUBLE) AS p0
             |  FROM per),
             |sh AS (SELECT entity, n_trials, n_succ,
             |    (CAST(n_succ AS DOUBLE) + 50.0 * p0) /
             |      (CAST(n_trials AS DOUBLE) + 50.0) AS shrunk
             |  FROM per CROSS JOIN g)
             |SELECT entity, CAST(n_trials AS BIGINT) AS n_trials,
             |  CAST(n_succ AS BIGINT) AS n_succ,
             |  round(CAST(n_succ AS DOUBLE) /
             |    CAST(n_trials AS DOUBLE), 4) AS raw_rate,
             |  round(shrunk, 4) AS shrunk_rate
             |FROM sh ORDER BY shrunk DESC, entity
             |LIMIT 20""".stripMargin)),

    // Inverse-propensity (Horvitz–Thompson) mean over q64's
    // stratified sample (Sampling.ipwMean): the naive sample mean is
    // biased by the per-source rates; 1/p re-weighting recovers the
    // full-corpus mean — all three shown side by side.
    QueryDef("q271_ipw_mean",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val rates = Seq("src0" -> 100, "src1" -> 50, "src2" -> 10)
        val sampled = Sampling.stratifiedSample(docs, "doc_id",
          "source", rates, defaultPct = 25)
        val truth = docs.where(col("n_chars").isNotNull)
          .agg(round(sum("n_chars").cast("double") /
            count(lit(1)).cast("double"), 4).as("true_mean"))
        Sampling.ipwMean(sampled, "source", "n_chars", rates,
            defaultPct = 25)
          .crossJoin(broadcast(truth))
          .select("n_sample", "true_mean", "naive_mean", "ipw_mean")
      },
      Some(("""WITH s AS (SELECT source, n_chars
             |  FROM (SELECT source, n_chars,
             |      """ + Sampling.duckBucket("doc_id") + """ AS b
             |    FROM documents)
             |  WHERE b < CASE source WHEN 'src0' THEN 100
             |    WHEN 'src1' THEN 50 WHEN 'src2' THEN 10
             |    ELSE 25 END),
             |w AS (SELECT n_chars,
             |    CASE source WHEN 'src0' THEN 100 WHEN 'src1' THEN 200
             |      WHEN 'src2' THEN 1000 ELSE 400 END AS w
             |  FROM s WHERE n_chars IS NOT NULL),
             |ip AS (SELECT count(*) AS n_sample,
             |    round(CAST(sum(n_chars) AS DOUBLE) /
             |      CAST(count(*) AS DOUBLE), 4) AS naive_mean,
             |    round(CAST(sum(w * n_chars) AS DOUBLE) /
             |      CAST(sum(w) AS DOUBLE), 4) AS ipw_mean
             |  FROM w),
             |tm AS (SELECT round(CAST(sum(n_chars) AS DOUBLE) /
             |      CAST(count(*) AS DOUBLE), 4) AS true_mean
             |  FROM documents WHERE n_chars IS NOT NULL)
             |SELECT CAST(n_sample AS BIGINT) AS n_sample, true_mean,
             |  naive_mean, ipw_mean
             |FROM ip CROSS JOIN tm""").stripMargin)),

    // Behavioral-combo lattice (ops/Behavior.typeCombos): per
    // (user, day) the bitmask of event types seen, counted per mask —
    // every "did X and Y but not Z" cohort in ONE bit_or pass.
    QueryDef("q272_behavior_combos",
      (s, dir) => {
        val ev = t(s, dir, "events").withColumn("day",
          expr("unix_micros(cast(ts as timestamp)) div 86400000000"))
        Behavior.typeCombos(ev, "user_id", "day", "event_type",
            Seq("click", "error", "purchase", "signup", "view"))
          .orderBy("mask")
      },
      Some("""WITH rows_ AS (SELECT user_id AS e,
             |    epoch_us(ts) // 86400000000 AS d,
             |    CASE event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
             |      WHEN 'purchase' THEN 4 WHEN 'signup' THEN 8
             |      WHEN 'view' THEN 16 ELSE 0 END AS b
             |  FROM events),
             |m AS (SELECT e, d, bit_or(b) AS mask FROM rows_
             |  WHERE b > 0 GROUP BY 1, 2),
             |c AS (SELECT mask, count(*) AS n_entity_days,
             |    count(DISTINCT e) AS n_entities
             |  FROM m GROUP BY 1)
             |SELECT CAST(mask AS BIGINT) AS mask,
             |  concat_ws('+',
             |    CASE WHEN mask & 1 > 0 THEN 'click' END,
             |    CASE WHEN mask & 2 > 0 THEN 'error' END,
             |    CASE WHEN mask & 4 > 0 THEN 'purchase' END,
             |    CASE WHEN mask & 8 > 0 THEN 'signup' END,
             |    CASE WHEN mask & 16 > 0 THEN 'view' END) AS combo,
             |  n_entity_days, n_entities
             |FROM c ORDER BY 1""".stripMargin)),

    // Degree power-law MLE (GraphMetrics.powerLawAlpha, Clauset et
    // al. 2009): is near-duplication hub-dominated (template spam,
    // α ≈ 2) or local (α ≫ 3)? Nano-snapped ln terms.
    QueryDef("q273_power_law",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
        // probes the shared persisted pairs table (same slice +
        // parameters as ensureNearDupIndex) instead of re-running
        // minhash per invocation (round 14, the q372 pattern)
        val pairs = ndPairs(s, dir)
        GraphMetrics.powerLawAlpha(pairs, "id_a", "id_b", dmin = 2)
      },
      Some("WITH " + minhashVerifiedCtes + ",\n" +
        """pr AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.8),
          |dg AS (SELECT node, count(*) AS degree FROM (
          |    SELECT id_a AS node FROM pr
          |    UNION ALL SELECT id_b FROM pr)
          |  GROUP BY 1),
          |sl AS (SELECT degree,
          |    CASE WHEN degree >= 2 THEN CAST(round(
          |      ln(CAST(degree AS DOUBLE) / 1.5) * 1000000000.0)
          |      AS BIGINT) ELSE 0 END AS sln
          |  FROM dg)
          |SELECT count(*) AS n_nodes,
          |  CAST(sum(CASE WHEN degree >= 2 THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_tail,
          |  CAST(min(degree) AS BIGINT) AS d_min,
          |  CAST(max(degree) AS BIGINT) AS d_max,
          |  round(CASE WHEN sum(sln) > 0 THEN 1.0 +
          |    CAST(sum(CASE WHEN degree >= 2 THEN 1 ELSE 0 END)
          |      AS DOUBLE) /
          |    (CAST(sum(sln) AS DOUBLE) / 1000000000.0) END, 4)
          |    AS alpha
          |FROM sl""".stripMargin)),

    // Retention decay + half-life (Retention.decayFit): pooled
    // bounce-back rate at lags 1..14 in ONE shifted join, ln-linear
    // fit → engagement half-life in days.
    QueryDef("q274_retention_decay",
      (s, dir) => {
        val ev = t(s, dir, "events").withColumn("day",
          expr("unix_micros(cast(ts as timestamp)) div 86400000000"))
        Retention.decayFit(ev, "user_id", "day", maxLag = 14)
          .orderBy("lag")
      },
      Some(s"""WITH act AS (SELECT DISTINCT user_id AS e,
             |    epoch_us(ts) // 86400000000 AS d
             |  FROM events),
             |mx AS (SELECT max(d) AS m FROM act),
             |sh AS (SELECT e, lag, d + lag AS d
             |  FROM act, (SELECT unnest(generate_series(1, 14)) AS lag)
             |    l),
             |base AS (SELECT sh.lag, count(*) AS n_base,
             |    sum(CASE WHEN a2.e IS NOT NULL THEN 1 ELSE 0 END)
             |      AS n_ret
             |  FROM sh CROSS JOIN mx
             |  LEFT JOIN act a2 ON sh.e = a2.e AND sh.d = a2.d
             |  WHERE sh.d <= m GROUP BY 1),
             |pts AS (SELECT lag AS x, CAST(round(
             |    ln(CAST(n_ret AS DOUBLE) / CAST(n_base AS DOUBLE)) *
             |    1000000.0) AS BIGINT) AS y
             |  FROM base WHERE n_ret > 0),
             |fit AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             |    sum(x * x) AS sxx, sum(x * y) AS sxy
             |  FROM pts),
             |hl AS (SELECT round(CASE WHEN
             |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
             |     CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
             |     CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
             |    1000000.0 < 0
             |    THEN ${-math.log(2.0)} /
             |      ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
             |        CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             |       (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
             |        CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) /
             |       1000000.0)
             |    END, 2) AS half_life_days
             |  FROM fit)
             |SELECT CAST(lag AS INT) AS lag,
             |  CAST(n_base AS BIGINT) AS n_base,
             |  CAST(n_ret AS BIGINT) AS n_retained,
             |  round(CAST(n_ret AS DOUBLE) / CAST(n_base AS DOUBLE), 4)
             |    AS rate,
             |  half_life_days
             |FROM base CROSS JOIN hl ORDER BY 1""".stripMargin)),

    // A/A calibration harness (RobustStats.welchT over 20 hash
    // seeds): on null data the t statistics must look standard
    // normal — the end-to-end validity check of the whole
    // experimentation stack (~1 of 20 beyond ±1.96 expected).
    QueryDef("q275_aa_calibration",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .where(col("value").isNotNull)
          .withColumn("seed", explode(sequence(lit(0), lit(19))))
          .withColumn("arm", pmod(Hashing.seededHash(col("seed"),
            col("user_id").cast("string")), lit(2L)).cast("int"))
          .withColumn("cents", round(col("value") * 100).cast("long"))
        val ts = RobustStats.welchT(ev, "seed", "arm", "cents")
        val sig = ts.agg(sum(when(abs(col("t")) > 1.96, 1L)
          .otherwise(0L)).as("n_sig_of_20"))
        ts.crossJoin(broadcast(sig))
          .select(col("seed"), col("n0"), col("n1"), col("t"),
            col("n_sig_of_20"))
          .orderBy("seed")
      },
      Some(s"""WITH ev AS (
             |  SELECT s.seed,
             |    CASE WHEN ${Hashing.duckSeededHash("seed",
                    "CAST(user_id AS VARCHAR)")} % 2 = 1
             |      THEN 1 ELSE 0 END AS arm,
             |    CAST(round(value * 100) AS BIGINT) AS x
             |  FROM events,
             |    (SELECT unnest(generate_series(0, 19)) AS seed) s
             |  WHERE value IS NOT NULL),
             |a AS (SELECT seed, arm, count(*) AS n, sum(x) AS sx,
             |    sum(x * x) AS sxx
             |  FROM ev GROUP BY 1, 2),
             |p AS (SELECT seed, arm, n,
             |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
             |    (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *
             |        CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) /
             |      (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
             |      AS von
             |  FROM a),
             |tt AS (SELECT a0.seed, a0.n AS n0, a1.n AS n1,
             |    round((a1.mean - a0.mean) / sqrt(a0.von + a1.von), 4)
             |      + 0.0 AS t
             |  FROM p a0 JOIN p a1
             |    ON a0.seed = a1.seed AND a0.arm = 0 AND a1.arm = 1),
             |sg AS (SELECT CAST(sum(CASE WHEN abs(t) > 1.96
             |    THEN 1 ELSE 0 END) AS BIGINT) AS n_sig_of_20
             |  FROM tt)
             |SELECT CAST(seed AS INT) AS seed,
             |  CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1, t,
             |  n_sig_of_20
             |FROM tt CROSS JOIN sg ORDER BY 1""".stripMargin)),

    // Incremental surrogate keys (ops/SurrogateKeys
    // .assignIncremental): the first-100-docs (source, lang) dim
    // keeps its ids; only never-seen combos get new ones, densely
    // after the max, in key order. The only ordered window runs on
    // the DELTA.
    QueryDef("q276_surrogate_keys",
      (s, dir) => {
        val keyed = t(s, dir, "documents")
          .withColumn("skey", concat_ws(":", col("source"), col("lang")))
        val existing = keyed.filter(col("doc_id") < 100)
          .select("skey").distinct()
          .withColumn("sk", row_number().over(
            Window.orderBy("skey")).cast("long"))
        SurrogateKeys.assignIncremental(existing, "skey", "sk", keyed)
          .orderBy("sk")
      },
      Some("""WITH ex AS (SELECT skey,
             |    row_number() OVER (ORDER BY skey) AS sk
             |  FROM (SELECT DISTINCT source || ':' || lang AS skey
             |    FROM documents WHERE doc_id < 100)),
             |mx AS (SELECT coalesce(max(sk), 0) AS m FROM ex),
             |fresh AS (SELECT DISTINCT source || ':' || lang AS skey
             |  FROM documents
             |  WHERE source || ':' || lang NOT IN
             |    (SELECT skey FROM ex)),
             |asg AS (SELECT skey,
             |    m + row_number() OVER (ORDER BY skey) AS sk,
             |    1 AS is_new
             |  FROM fresh CROSS JOIN mx)
             |SELECT skey, CAST(sk AS BIGINT) AS sk, is_new FROM (
             |  SELECT skey, sk, 0 AS is_new FROM ex
             |  UNION ALL SELECT * FROM asg)
             |ORDER BY sk""".stripMargin)),

    // k-NN reliability diagram + ECE (Similarity.knnReliability):
    // vote confidence vs empirical accuracy per vote bin — "when the
    // classifier says 80%, is it right 80% of the time" — with the
    // expected calibration error from nano-snapped bin terms.
    QueryDef("q277_knn_reliability",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Similarity.knnReliability(emb,
            emb.filter(col("vec_id") < 200), "vec_id", "embedding",
            "label", k = 5)
          .orderBy("n_votes")
      },
      Some("WITH " + knnCtes(200, 5) + ",\n" +
        """bins AS (SELECT n_votes, count(*) AS n,
          |    sum(CASE WHEN pred = t_label THEN 1 ELSE 0 END)
          |      AS n_correct
          |  FROM knp GROUP BY 1),
          |wr AS (SELECT n_votes, n, n_correct,
          |    CAST(n_votes AS DOUBLE) / 5.0 AS conf,
          |    CAST(n_correct AS DOUBLE) / CAST(n AS DOUBLE) AS acc
          |  FROM bins),
          |t2 AS (SELECT *, CAST(round(CAST(n AS DOUBLE) *
          |    abs(acc - conf) * 1000000000.0) AS BIGINT) AS term
          |  FROM wr),
          |tot AS (SELECT sum(n) AS nn, sum(term) AS se FROM t2)
          |SELECT CAST(n_votes AS BIGINT) AS n_votes,
          |  CAST(n AS BIGINT) AS n,
          |  round(conf, 4) AS confidence, round(acc, 4) AS accuracy,
          |  round(CAST(se AS DOUBLE) / 1000000000.0 /
          |    CAST(nn AS DOUBLE), 4) AS ece
          |FROM t2 CROSS JOIN tot ORDER BY 1""".stripMargin)),

    // Standardized-mean-difference drift screen (Drift.smdScreen):
    // all four lineitem metrics between orderkey-parity cohorts in
    // ONE unpivoted pass — the scale-free triage run before
    // per-column KS/PSI deep dives.
  )
}
