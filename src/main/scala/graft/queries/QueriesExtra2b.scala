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

/** Second half of the former `extra2Defs` catalog section (round-14
  * task 5 split; content unchanged).
  */
private[queries] object QueriesExtra2b {

  val defs: Seq[QueryDef] = Seq(
    QueryDef("q278_smd_screen",
      (s, dir) => Drift.smdScreen(
          t(s, dir, "lineitem")
            .withColumn("arm", pmod(col("l_orderkey"), lit(2L))),
          "arm",
          Seq(("l_quantity", 100L), ("l_extendedprice", 1L),
            ("l_discount", 10000L), ("l_tax", 10000L)))
        .orderBy("column"),
      Some {
        def leg(c: String, scale: String) =
          s"""SELECT CAST(l_orderkey % 2 AS INT) AS arm,
             |  '$c' AS col_, CAST(round(CAST($c AS DOUBLE) * $scale)
             |    AS BIGINT) AS x
             |FROM lineitem""".stripMargin
        s"""WITH m AS (
             |${leg("l_quantity", "100.0")}
             |UNION ALL
             |${leg("l_extendedprice", "1.0")}
             |UNION ALL
             |${leg("l_discount", "10000.0")}
             |UNION ALL
             |${leg("l_tax", "10000.0")}),
             |mom AS (SELECT col_, arm, count(*) AS n, sum(x) AS sx,
             |    sum(x * x) AS sxx
             |  FROM m WHERE x IS NOT NULL GROUP BY 1, 2),
             |wv AS (SELECT col_, arm, n,
             |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
             |    (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *
             |        CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) /
             |      (CAST(n AS DOUBLE) - 1.0) AS v
             |  FROM mom),
             |a0 AS (SELECT col_, n AS n0, mean AS m0, v AS v0
             |  FROM wv WHERE arm = 0),
             |a1 AS (SELECT col_, n AS n1, mean AS m1, v AS v1
             |  FROM wv WHERE arm = 1)
             |SELECT a0.col_ AS "column",
             |  CAST(n0 AS BIGINT) AS n0, CAST(n1 AS BIGINT) AS n1,
             |  round(m0, 4) AS mean0, round(m1, 4) AS mean1,
             |  round(abs(m1 - m0) / sqrt((v0 + v1) / 2.0), 4) AS smd
             |FROM a0 JOIN a1 USING (col_)
             |ORDER BY 1""".stripMargin
      }),

    // Native session_window parity (Structured Streaming's gap-based
    // session operator, exercised in BATCH mode): Spark's built-in
    // session assembly must agree with the hand-rolled q264 window
    // chain — start = first event, end = last event + gap, exact
    // integer counts/cents.
    QueryDef("q279_session_window",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .withColumn("cents", round(col("value") * 100).cast("long"))
        ev.groupBy(col("user_id"),
            session_window(col("ts").cast("timestamp"), "30 minutes"))
          .agg(count(lit(1)).as("n_events"), sum("cents").as("cents"))
          .select(col("user_id"),
            col("session_window.start").cast("timestamp_ntz")
              .as("session_start"),
            col("session_window.end").cast("timestamp_ntz")
              .as("session_end"),
            col("n_events"), col("cents"))
          .orderBy("user_id", "session_start")
      },
      Some("""WITH sv AS (
             |  SELECT user_id, event_id, epoch_us(ts) AS tu,
             |    CAST(round(value * 100) AS BIGINT) AS cents
             |  FROM events),
             |lg AS (SELECT user_id, tu, cents, event_id,
             |    CASE WHEN lag(tu) OVER w IS NULL
             |      OR tu - lag(tu) OVER w > 1800000000
             |      THEN 1 ELSE 0 END AS nw
             |  FROM sv WINDOW w AS (PARTITION BY user_id
             |    ORDER BY tu, event_id)),
             |ss AS (SELECT user_id, tu, cents, sum(nw) OVER (
             |    PARTITION BY user_id ORDER BY tu, event_id
             |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |    AS sid
             |  FROM lg)
             |SELECT user_id,
             |  make_timestamp(min(tu)) AS session_start,
             |  make_timestamp(max(tu) + 1800000000) AS session_end,
             |  count(*) AS n_events, CAST(sum(cents) AS BIGINT) AS cents
             |FROM ss GROUP BY user_id, sid
             |ORDER BY 1, 2""".stripMargin)),

    // Approximate MAD from two histogram-sketch passes (Stats
    // .histPercentiles ∘ itself): sketch median → sketch median of
    // |x − med| — the 100 TB-shaped robust scale (two
    // map-side-combined sketch aggregates instead of two full
    // sorts), with the exact MAD beside it so the sketch error is
    // MEASURED.
    QueryDef("q280_approx_mad",
      (s, dir) => {
        val docs = t(s, dir, "documents").where(col("n_chars").isNotNull)
        val medA = Stats.histPercentiles(docs, "lang", "n_chars",
            lo = 0.0, hi = 1024.0, nbins = 256, ps = Seq(0.5))
          .select(col("lang"), col("est").as("med_est"))
        val dev = docs.join(broadcast(medA), "lang")
          .withColumn("ad",
            abs(col("n_chars").cast("double") - col("med_est")))
        val madA = Stats.histPercentiles(dev, "lang", "ad",
            lo = 0.0, hi = 1024.0, nbins = 256, ps = Seq(0.5))
          .select(col("lang"), col("est").as("mad_est"))
        val medEx = docs.groupBy("lang").agg(count(lit(1)).as("n"),
          expr("percentile(n_chars, 0.5)").as("_mx"))
        val madEx = docs
          .join(broadcast(medEx.select("lang", "_mx")), "lang")
          .withColumn("_ad",
            abs(col("n_chars").cast("double") - col("_mx")))
          .groupBy("lang")
          .agg(expr("percentile(_ad, 0.5)").as("_madx"))
        medEx.join(medA, Seq("lang")).join(madA, Seq("lang"))
          .join(madEx, Seq("lang"))
          .select(col("lang"), col("n"), col("med_est"), col("mad_est"),
            round(col("_madx"), 4).as("mad_exact"))
          .orderBy("lang")
      },
      Some("""WITH v AS (SELECT lang, CAST(n_chars AS DOUBLE) AS v
             |  FROM documents WHERE n_chars IS NOT NULL),
             |b1 AS (SELECT lang, CAST(least(greatest(
             |    floor(v / 4.0), 0), 255) AS BIGINT) AS b FROM v),
             |c1 AS (SELECT lang, b, count(*) AS cnt
             |  FROM b1 GROUP BY 1, 2),
             |cc1 AS (SELECT lang, b, cnt,
             |    sum(cnt) OVER (PARTITION BY lang ORDER BY b) AS cum,
             |    sum(cnt) OVER (PARTITION BY lang) AS total
             |  FROM c1),
             |m1 AS (SELECT lang, round(4.0 * (CAST(b AS DOUBLE)
             |    + (0.5 * CAST(total AS DOUBLE) -
             |      CAST(cum - cnt AS DOUBLE)) / CAST(cnt AS DOUBLE)),
             |    4) + 0.0 AS med_est
             |  FROM cc1
             |  WHERE CAST(cum AS DOUBLE) >= 0.5 * CAST(total AS DOUBLE)
             |    AND CAST(cum - cnt AS DOUBLE) <
             |      0.5 * CAST(total AS DOUBLE)),
             |dv AS (SELECT v.lang, abs(v.v - med_est) AS ad
             |  FROM v JOIN m1 ON v.lang = m1.lang),
             |b2 AS (SELECT lang, CAST(least(greatest(
             |    floor(ad / 4.0), 0), 255) AS BIGINT) AS b FROM dv),
             |c2 AS (SELECT lang, b, count(*) AS cnt
             |  FROM b2 GROUP BY 1, 2),
             |cc2 AS (SELECT lang, b, cnt,
             |    sum(cnt) OVER (PARTITION BY lang ORDER BY b) AS cum,
             |    sum(cnt) OVER (PARTITION BY lang) AS total
             |  FROM c2),
             |m2 AS (SELECT lang, round(4.0 * (CAST(b AS DOUBLE)
             |    + (0.5 * CAST(total AS DOUBLE) -
             |      CAST(cum - cnt AS DOUBLE)) / CAST(cnt AS DOUBLE)),
             |    4) + 0.0 AS mad_est
             |  FROM cc2
             |  WHERE CAST(cum AS DOUBLE) >= 0.5 * CAST(total AS DOUBLE)
             |    AND CAST(cum - cnt AS DOUBLE) <
             |      0.5 * CAST(total AS DOUBLE)),
             |ex AS (SELECT lang, count(*) AS n,
             |    percentile_cont(0.5) WITHIN GROUP (ORDER BY v) AS mx
             |  FROM v GROUP BY 1),
             |exd AS (SELECT v.lang, percentile_cont(0.5)
             |    WITHIN GROUP (ORDER BY abs(v.v - mx)) AS madx
             |  FROM v JOIN ex ON v.lang = ex.lang GROUP BY 1)
             |SELECT ex.lang, CAST(n AS BIGINT) AS n, med_est, mad_est,
             |  round(madx, 4) AS mad_exact
             |FROM ex
             |JOIN m1 ON ex.lang = m1.lang
             |JOIN m2 ON ex.lang = m2.lang
             |JOIN exd ON ex.lang = exd.lang
             |ORDER BY 1""".stripMargin)),

    // Per-user behavioral entropy (Behavior.entityEntropy): Shannon
    // entropy of each user's event-type mix + the ln(k)-normalized
    // predictability score — power users vs one-trick bots in one
    // number. Nano-snapped −p·ln p cells.
    QueryDef("q281_behavior_entropy",
      (s, dir) => Behavior.entityEntropy(
          t(s, dir, "events"), "user_id", "event_type")
        .orderBy("entity"),
      Some("""WITH c AS (SELECT user_id AS entity, event_type AS t,
             |    count(*) AS c
             |  FROM events WHERE event_type IS NOT NULL
             |  GROUP BY 1, 2),
             |wn AS (SELECT entity, t, c,
             |    sum(c) OVER (PARTITION BY entity) AS n
             |  FROM c),
             |tm AS (SELECT entity, n, CAST(round(
             |    -(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
             |    ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
             |    1000000000.0) AS BIGINT) AS term
             |  FROM wn),
             |per AS (SELECT entity, max(n) AS n_events,
             |    count(*) AS n_types, sum(term) AS h
             |  FROM tm GROUP BY 1)
             |SELECT entity, CAST(n_events AS BIGINT) AS n_events,
             |  CAST(n_types AS BIGINT) AS n_types,
             |  round(CAST(h AS DOUBLE) / 1000000000.0, 4)
             |    AS entropy_nats,
             |  round(CASE WHEN n_types > 1 THEN
             |    CAST(h AS DOUBLE) / 1000000000.0 /
             |    ln(CAST(n_types AS DOUBLE)) END, 4) AS entropy_norm
             |FROM per ORDER BY 1""".stripMargin)),

    // Time-decay attribution (Attribution.decayReport): credit
    // proportional to 2^(−Δt / 1 day) — recency wins smoothly, not
    // winner-take-all. Micro-snapped weights, integer floor split,
    // remainder to the first touch: the books balance exactly.
    QueryDef("q282_decay_attribution",
      (s, dir) => Attribution.decayReport(t(s, dir, "events"),
          "event_id", "user_id", "ts", "event_type",
          convType = "purchase", touchTypes = Seq("click", "view"),
          valueCol = "value", lookbackDays = 3, halfLifeDays = 1.0)
        .orderBy("channel"),
      Some("""WITH conv AS (
             |  SELECT event_id AS cid, user_id AS e, epoch_us(ts) AS cts,
             |    CAST(round(value * 100) AS BIGINT) AS cents
             |  FROM events WHERE event_type = 'purchase'),
             |touch AS (SELECT user_id AS e, epoch_us(ts) AS tts,
             |    event_type AS channel
             |  FROM events WHERE event_type IN ('click', 'view')),
             |m AS (SELECT cid, cents, tts, channel,
             |    greatest(CAST(round(exp(-0.6931471805599453 *
             |      CAST(cts - tts AS DOUBLE) / 86400000000.0) *
             |      1000000.0) AS BIGINT), 1) AS w_u
             |  FROM conv JOIN touch ON conv.e = touch.e
             |  WHERE tts < cts AND tts >= cts - 259200000000),
             |r AS (SELECT cid, cents, channel, w_u,
             |    row_number() OVER (PARTITION BY cid
             |      ORDER BY tts, channel) AS pos,
             |    sum(w_u) OVER (PARTITION BY cid) AS sw
             |  FROM m),
             |b AS (SELECT *, (cents * w_u) // sw AS base FROM r),
             |b2 AS (SELECT *,
             |    cents - sum(base) OVER (PARTITION BY cid) AS rem
             |  FROM b),
             |cr AS (SELECT channel, cid,
             |    base + CASE WHEN pos = 1 THEN rem ELSE 0 END AS dc
             |  FROM b2),
             |bych AS (SELECT channel, count(DISTINCT cid)
             |      AS n_conversions,
             |    sum(dc) AS decay_cents
             |  FROM cr GROUP BY 1),
             |direct AS (SELECT 'direct' AS channel,
             |    count(*) AS n_conversions,
             |    coalesce(sum(cents), 0) AS decay_cents
             |  FROM conv WHERE cid NOT IN (SELECT DISTINCT cid FROM m)
             |  HAVING count(*) > 0)
             |SELECT channel,
             |  CAST(n_conversions AS BIGINT) AS n_conversions,
             |  CAST(decay_cents AS BIGINT) AS decay_cents
             |FROM (SELECT * FROM bych UNION ALL SELECT * FROM direct)
             |ORDER BY 1""".stripMargin)),

    // Perplexity curriculum (LanguageModel.scoreNll ∘ quartile
    // phases): documents staged easy→hard by unigram NLL — the
    // curriculum-learning data layout, with per-phase token budgets.
    // Phase cuts compare the exact integer-snapped NLL against its
    // own quartiles.
    QueryDef("q283_curriculum_phases",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val lm = LanguageModel.trainUnigram(docs, "text")
        val scored = LanguageModel
          .scoreNll(docs, "doc_id", "text", lm, alpha = 1.0)
          .where(col("n_tokens") > 0)
          .withColumn("nu", round(col("nll") * 1e4).cast("long"))
        val bounds = scored.agg(
          expr("percentile(nu, 0.25D)").as("b1"),
          expr("percentile(nu, 0.5D)").as("b2"),
          expr("percentile(nu, 0.75D)").as("b3"))
        scored.crossJoin(broadcast(bounds))
          .withColumn("phase", lit(1) +
            (col("nu").cast("double") > col("b1")).cast("int") +
            (col("nu").cast("double") > col("b2")).cast("int") +
            (col("nu").cast("double") > col("b3")).cast("int"))
          .groupBy("phase")
          .agg(count(lit(1)).as("n_docs"),
            round(sum("nu").cast("double") / lit(1e4) /
              count(lit(1)).cast("double"), 4).as("mean_nll"),
            sum("n_tokens").as("tokens"),
            round(sum("n_tokens").cast("double") /
              count(lit(1)).cast("double"), 2).as("mean_tokens"))
          .orderBy("phase")
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(list_filter(
             |    string_split_regex(text, ' +'), t -> t <> '')) AS token
             |  FROM documents),
             |lm AS (SELECT token, count(*) AS cnt FROM tok
             |  GROUP BY token),
             |stats AS (SELECT CAST(sum(cnt) AS DOUBLE) AS t_total,
             |    CAST(count(*) AS DOUBLE) AS v_size FROM lm),
             |sc AS (SELECT t.doc_id, count(*) AS n_tokens,
             |    avg(-ln((coalesce(l.cnt, 0) + 1.0) /
             |      (s.t_total + 1.0 * s.v_size))) AS nll
             |  FROM tok t LEFT JOIN lm l USING (token)
             |  CROSS JOIN stats s
             |  GROUP BY t.doc_id),
             |sn AS (SELECT doc_id, n_tokens,
             |    CAST(round(round(nll, 4) * 10000.0) AS BIGINT) AS nu
             |  FROM sc WHERE n_tokens > 0),
             |bd AS (SELECT
             |    percentile_cont(0.25) WITHIN GROUP (ORDER BY nu) AS b1,
             |    percentile_cont(0.5) WITHIN GROUP (ORDER BY nu) AS b2,
             |    percentile_cont(0.75) WITHIN GROUP (ORDER BY nu) AS b3
             |  FROM sn),
             |ph AS (SELECT n_tokens, nu, 1 +
             |    (CASE WHEN CAST(nu AS DOUBLE) > b1 THEN 1 ELSE 0 END) +
             |    (CASE WHEN CAST(nu AS DOUBLE) > b2 THEN 1 ELSE 0 END) +
             |    (CASE WHEN CAST(nu AS DOUBLE) > b3 THEN 1 ELSE 0 END)
             |    AS phase
             |  FROM sn CROSS JOIN bd)
             |SELECT CAST(phase AS INT) AS phase, count(*) AS n_docs,
             |  round(CAST(sum(nu) AS DOUBLE) / 10000.0 /
             |    CAST(count(*) AS DOUBLE), 4) AS mean_nll,
             |  CAST(sum(n_tokens) AS BIGINT) AS tokens,
             |  round(CAST(sum(n_tokens) AS DOUBLE) /
             |    CAST(count(*) AS DOUBLE), 2) AS mean_tokens
             |FROM ph GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Kish design effect of q271's sampling weights (survey
    // statistics): deff = n·Σw²/(Σw)², effective sample size
    // n_eff = (Σw)²/Σw² — how much estimating power the unequal
    // weights cost. Exact integer weight moments.
    QueryDef("q284_design_effect",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val rates = Seq("src0" -> 100, "src1" -> 50, "src2" -> 10)
        val sampled = Sampling.stratifiedSample(docs, "doc_id",
          "source", rates, defaultPct = 25)
        val w = rates.foldRight(lit(10000L / 25): Column) {
          case ((stratum, pct), rest) =>
            when(col("source") === stratum, 10000L / pct).otherwise(rest)
        }
        sampled.select(w.as("w"))
          .agg(count(lit(1)).as("n_sample"), sum("w").as("_sw"),
            sum(col("w") * col("w")).as("_sww"))
          .select(col("n_sample"),
            round(col("_sw").cast("double") * col("_sw").cast("double") /
              col("_sww").cast("double"), 2).as("n_eff"),
            round(col("n_sample").cast("double") *
              col("_sww").cast("double") /
              (col("_sw").cast("double") * col("_sw").cast("double")),
              4).as("deff"))
      },
      Some(("""WITH s AS (SELECT source FROM (SELECT source,
             |      """ + Sampling.duckBucket("doc_id") + """ AS b
             |    FROM documents)
             |  WHERE b < CASE source WHEN 'src0' THEN 100
             |    WHEN 'src1' THEN 50 WHEN 'src2' THEN 10 ELSE 25 END),
             |w AS (SELECT CASE source WHEN 'src0' THEN 100
             |    WHEN 'src1' THEN 200 WHEN 'src2' THEN 1000
             |    ELSE 400 END AS w
             |  FROM s)
             |SELECT count(*) AS n_sample,
             |  round(CAST(sum(w) AS DOUBLE) * CAST(sum(w) AS DOUBLE) /
             |    CAST(sum(w * w) AS DOUBLE), 2) AS n_eff,
             |  round(CAST(count(*) AS DOUBLE) *
             |    CAST(sum(w * w) AS DOUBLE) /
             |    (CAST(sum(w) AS DOUBLE) * CAST(sum(w) AS DOUBLE)), 4)
             |    AS deff
             |FROM w""").stripMargin)),

    // Term-dispersion/burstiness profile (TextAnalysis
    // .termDispersion): Fano factor of per-doc counts over the whole
    // corpus — clumpy tokens (Fano ≫ 1) are the boilerplate/stuffing
    // candidates. Rank on the integer micro-snapped score.
    QueryDef("q285_term_dispersion",
      (s, dir) => TextAnalysis.termDispersion(
          t(s, dir, "documents"), "doc_id", "text", minDf = 5L, k = 20)
        .orderBy("token"),
      Some("""WITH tok AS (
             |  SELECT doc_id, unnest(list_filter(
             |    string_split_regex(text, ' +'), t -> t <> '')) AS token
             |  FROM documents),
             |pd AS (SELECT token, doc_id, count(*) AS c
             |  FROM tok GROUP BY 1, 2),
             |nn AS (SELECT count(*) AS nn FROM documents),
             |st AS (SELECT token, count(*) AS df, sum(c) AS cf,
             |    max(c) AS max_in_doc, sum(c * c) AS scc
             |  FROM pd GROUP BY 1 HAVING count(*) >= 5),
             |fn AS (SELECT token, df, cf, max_in_doc,
             |    CAST(round((CAST(scc AS DOUBLE) -
             |        CAST(cf AS DOUBLE) * CAST(cf AS DOUBLE) /
             |        CAST(nn AS DOUBLE)) /
             |      (CAST(nn AS DOUBLE) - 1.0) /
             |      (CAST(cf AS DOUBLE) / CAST(nn AS DOUBLE)) *
             |      1000000.0) AS BIGINT) AS fu
             |  FROM st CROSS JOIN nn),
             |rk AS (SELECT *, row_number() OVER (ORDER BY fu DESC,
             |    token) AS rk
             |  FROM fn)
             |SELECT token, CAST(df AS BIGINT) AS df,
             |  CAST(cf AS BIGINT) AS cf,
             |  CAST(max_in_doc AS BIGINT) AS max_in_doc,
             |  round(CAST(fu AS DOUBLE) / 1000000.0, 4) AS fano
             |FROM rk WHERE rk <= 20 ORDER BY token""".stripMargin)),

    // Cluster stability across thresholds (Components
    // .adjustedRandIndex, Hubert–Arabie): ARI between the 0.7- and
    // 0.8-Jaccard near-dup partitions — "how much does the
    // clustering move if I loosen the threshold", chance-corrected.
    // Exact integer pair binomials from the contingency table.
    QueryDef("q286_cluster_ari",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
        // ONE minhash run: the 0.8 partition's pairs are exactly the
        // 0.7 pairs filtered (the threshold cut is the pipeline's
        // LAST step), so the second pipeline is a free predicate on
        // the checkpointed pair frame. Remaining cost (~13 s at
        // sf0.1) is the TWO component iterations — the q61 round
        // floor, twice, which is the query's honest price.
        val pairs7 = Dedup.minhashNearDups(docs, "doc_id", "text",
          k = 64, bands = 8, threshold = 0.7).transform(Pin.shared)
        def clusters(pairs: DataFrame, as: String) =
          Components.dedupClusters(docs, "doc_id", pairs,
              "id_a", "id_b")
            .select(col("doc_id"), col("component").as(as))
        Components.adjustedRandIndex(
          clusters(pairs7, "ca"),
          clusters(pairs7.where(col("jaccard") >= 0.8), "cb"),
          "doc_id", "ca", "cb")
      },
      Some("WITH RECURSIVE " + minhashVerifiedCtes + ",\n" +
        """p7 AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.7),
          |e7 AS (SELECT id_a AS src, id_b AS dst FROM p7
          |  UNION ALL SELECT id_b, id_a FROM p7),
          |r7(id, lbl) AS (
          |  SELECT doc_id, doc_id FROM toks
          |  UNION
          |  SELECT e.dst, r.lbl FROM r7 r JOIN e7 e ON e.src = r.id),
          |c7 AS (SELECT id, min(lbl) AS ca FROM r7 GROUP BY 1),
          |p8 AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.8),
          |e8 AS (SELECT id_a AS src, id_b AS dst FROM p8
          |  UNION ALL SELECT id_b, id_a FROM p8),
          |r8(id, lbl) AS (
          |  SELECT doc_id, doc_id FROM toks
          |  UNION
          |  SELECT e.dst, r.lbl FROM r8 r JOIN e8 e ON e.src = r.id),
          |c8 AS (SELECT id, min(lbl) AS cb FROM r8 GROUP BY 1),
          |j AS (SELECT c7.id, ca, cb FROM c7
          |  JOIN c8 ON c7.id = c8.id),
          |cont AS (SELECT sum(nij * (nij - 1) // 2) AS sij
          |  FROM (SELECT ca, cb, count(*) AS nij FROM j GROUP BY 1, 2)),
          |ra AS (SELECT count(*) AS nca,
          |    sum(ai * (ai - 1) // 2) AS sa
          |  FROM (SELECT ca, count(*) AS ai FROM j GROUP BY 1)),
          |rb AS (SELECT count(*) AS ncb,
          |    sum(bj * (bj - 1) // 2) AS sb
          |  FROM (SELECT cb, count(*) AS bj FROM j GROUP BY 1)),
          |nt AS (SELECT count(*) AS n FROM j)
          |SELECT CAST(n AS BIGINT) AS n_nodes,
          |  CAST(nca AS BIGINT) AS n_clusters_a,
          |  CAST(ncb AS BIGINT) AS n_clusters_b,
          |  round((CAST(sij AS DOUBLE) -
          |      CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) /
          |      CAST(n * (n - 1) // 2 AS DOUBLE)) /
          |    ((CAST(sa AS DOUBLE) + CAST(sb AS DOUBLE)) / 2.0 -
          |      CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE) /
          |      CAST(n * (n - 1) // 2 AS DOUBLE)), 6) + 0.0 AS ari
          |FROM nt CROSS JOIN cont CROSS JOIN ra CROSS JOIN rb"""
          .stripMargin)),

    // Trailing rolling median (Rolling.rollingMedian): the robust
    // 7-day volume smoother — one outage day drags q79's mean for a
    // week, the median shrugs. Bounded shifted self-join, percentile
    // per (group, day).
    QueryDef("q287_rolling_median",
      (s, dir) => {
        val ev = t(s, dir, "events").withColumn("day",
          expr("unix_micros(cast(ts as timestamp)) div 86400000000"))
        Rolling.rollingMedian(ev, "event_type", "day", window = 7)
          .orderBy("g", "d")
      },
      Some(s"""$eventsDailyCtes
             |contrib AS (SELECT g, d + j AS d, x AS xp
             |  FROM daily,
             |    (SELECT unnest(generate_series(0, 6)) AS j) js),
             |ag AS (SELECT daily.g, daily.d, count(*) AS n,
             |    sum(xp) AS s,
             |    percentile_cont(0.5) WITHIN GROUP (ORDER BY xp) AS med
             |  FROM daily JOIN contrib
             |    ON daily.g = contrib.g AND daily.d = contrib.d
             |  GROUP BY 1, 2)
             |SELECT g, d,
             |  round(CAST(s AS DOUBLE) / CAST(n AS DOUBLE), 4)
             |    AS roll_mean,
             |  round(med, 4) AS roll_median
             |FROM ag WHERE n = 7 ORDER BY 1, 2""".stripMargin)),

    // Small-files compaction report (ops/FileAudit
    // .smallFilesReport): documents rewritten 8-way hash-partitioned
    // to a scratch dir, then audited by physical file via
    // input_file_name() — rows per file, imbalance, and the
    // compaction target. The oracle reads the SAME files with
    // DuckDB's filename=true scan.
    QueryDef("q288_small_files", {
      val tmp = sys.props("java.io.tmpdir") + "/graft_fileaudit"
      (s: SparkSession, dir: String) => {
        t(s, dir, "documents").repartition(8, col("doc_id"))
          .write.mode("overwrite").parquet(tmp)
        FileAudit.smallFilesReport(
          Seq(("documents_8way", s.read.parquet(tmp))),
          targetRows = 100L)
      }
    },
      Some {
        val tmp = sys.props("java.io.tmpdir") + "/graft_fileaudit"
        s"""WITH pf AS (SELECT filename AS f, count(*) AS n
             |  FROM read_parquet('$tmp/*.parquet', filename=true)
             |  GROUP BY 1),
             |ag AS (SELECT count(*) AS n_files, sum(n) AS n_rows,
             |    min(n) AS min_rows, max(n) AS max_rows,
             |    percentile_cont(0.5) WITHIN GROUP (ORDER BY n) AS med
             |  FROM pf)
             |SELECT 'documents_8way' AS table_name,
             |  CAST(n_files AS BIGINT) AS n_files,
             |  CAST(n_rows AS BIGINT) AS n_rows,
             |  CAST(min_rows AS BIGINT) AS min_rows,
             |  CAST(max_rows AS BIGINT) AS max_rows,
             |  round(med, 1) AS median_rows,
             |  CAST((max_rows * n_files * 1000000) // n_rows AS BIGINT)
             |    AS imbalance_ppm,
             |  CAST((n_rows + 99) // 100 AS BIGINT) AS target_files
             |FROM ag""".stripMargin
      }),

    // Wilson score interval on the daily purchase rate (Stats
    // .wilsonRate): the small-n-honest CI the naive ±z√(pq/n)
    // collapses on — a conversion monitor's per-day uncertainty.
    QueryDef("q289_wilson_rate", {
      val z = 1.959964
      (s: SparkSession, dir: String) => {
        val ev = t(s, dir, "events")
          .withColumn("day",
            expr("unix_micros(cast(ts as timestamp)) div 86400000000"))
          .withColumn("hit",
            (col("event_type") === "purchase").cast("int"))
        Stats.wilsonRate(ev, "day", "hit").orderBy("g")
      }
    },
      Some {
        val z = 1.959964
        val nD = "CAST(n AS DOUBLE)"
        val p = s"CAST(k AS DOUBLE) / $nD"
        val z2n = s"${z * z} / $nD"
        s"""WITH e AS (SELECT epoch_us(ts) // 86400000000 AS g,
             |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
             |      AS h
             |  FROM events),
             |a AS (SELECT g, count(*) AS n, sum(h) AS k
             |  FROM e GROUP BY 1)
             |SELECT g, CAST(n AS BIGINT) AS n, CAST(k AS BIGINT) AS k,
             |  round($p, 4) AS rate,
             |  round(($p + $z2n / 2.0) / (1.0 + $z2n) -
             |    ($z * sqrt($p * (1.0 - ($p)) / $nD +
             |      $z2n / (4.0 * $nD))) / (1.0 + $z2n), 4)
             |    AS wilson_lo,
             |  round(($p + $z2n / 2.0) / (1.0 + $z2n) +
             |    ($z * sqrt($p * (1.0 - ($p)) / $nD +
             |      $z2n / (4.0 * $nD))) / (1.0 + $z2n), 4)
             |    AS wilson_hi
             |FROM a ORDER BY 1""".stripMargin
      }),

    // Trained multinomial Naive Bayes (ops/NaiveBayes.evalSplit):
    // train on even doc_ids, score odd — the ONE-PASS classifier
    // (training is a count aggregate, no gradient rounds) every
    // fancier model must beat. Nano-snapped model weights make
    // inference an integer sum, replayed exactly by the oracle.
    QueryDef("q290_naive_bayes",
      (s, dir) => NaiveBayes.evalSplit(t(s, dir, "documents"),
          "doc_id", "lang", "text", col("doc_id") % 2 === 0)
        .orderBy("label"),
      Some("""WITH base AS (SELECT doc_id AS id, lang AS label, text,
             |    doc_id % 2 = 0 AS is_train
             |  FROM documents),
             |ttok AS (SELECT label, unnest(list_filter(
             |    string_split_regex(text, ' +'), t -> t <> '')) AS token
             |  FROM base WHERE is_train),
             |counts AS (SELECT label, token, count(*) AS c
             |  FROM ttok GROUP BY 1, 2),
             |cl AS (SELECT label, sum(c) AS cl FROM counts GROUP BY 1),
             |vocab AS (SELECT count(DISTINCT token) AS v FROM counts),
             |nt AS (SELECT count(*) AS nt FROM base WHERE is_train),
             |priors AS (SELECT label, CAST(round(ln(
             |    CAST(count(*) AS DOUBLE) / CAST(nt AS DOUBLE)) *
             |    1000000000.0) AS BIGINT) AS prior_n
             |  FROM base CROSS JOIN nt WHERE is_train
             |  GROUP BY label, nt),
             |model AS (SELECT counts.label, token, CAST(round(ln(
             |    (CAST(c AS DOUBLE) + 1.0) /
             |    (CAST(cl AS DOUBLE) + CAST(v AS DOUBLE))) *
             |    1000000000.0) AS BIGINT) AS w_n
             |  FROM counts JOIN cl ON counts.label = cl.label
             |  CROSS JOIN vocab),
             |defaults AS (SELECT label, CAST(round(ln(
             |    1.0 / (CAST(cl AS DOUBLE) + CAST(v AS DOUBLE))) *
             |    1000000000.0) AS BIGINT) AS def_n
             |  FROM cl CROSS JOIN vocab),
             |tt AS (SELECT id, label AS true_label, unnest(list_filter(
             |    string_split_regex(text, ' +'), t -> t <> '')) AS token
             |  FROM base WHERE NOT is_train),
             |cells AS (SELECT tt.id, dfl.label AS cand,
             |    coalesce(m.w_n, dfl.def_n) AS cell
             |  FROM tt CROSS JOIN defaults dfl
             |  LEFT JOIN model m
             |    ON m.label = dfl.label AND m.token = tt.token),
             |tsum AS (SELECT id, cand, sum(cell) AS toksum
             |  FROM cells GROUP BY 1, 2),
             |allc AS (SELECT id, base.label AS true_label,
             |    dfl.label AS cand
             |  FROM base CROSS JOIN defaults dfl WHERE NOT is_train),
             |sc AS (SELECT allc.id, allc.true_label, allc.cand,
             |    coalesce(ts.toksum, 0) + p.prior_n AS score
             |  FROM allc
             |  LEFT JOIN tsum ts
             |    ON ts.id = allc.id AND ts.cand = allc.cand
             |  JOIN priors p ON allc.cand = p.label),
             |preds AS (SELECT id, true_label, cand FROM (
             |    SELECT *, row_number() OVER (PARTITION BY id
             |      ORDER BY score DESC, cand) AS rk
             |    FROM sc)
             |  WHERE rk = 1)
             |SELECT true_label AS label, count(*) AS n_test,
             |  CAST(sum(CASE WHEN cand = true_label THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_correct,
             |  round(CAST(sum(CASE WHEN cand = true_label
             |      THEN 1 ELSE 0 END) AS DOUBLE) /
             |    CAST(count(*) AS DOUBLE), 4) AS accuracy
             |FROM preds GROUP BY 1 ORDER BY 1""".stripMargin)),

    // Zipf rank–frequency fit (TextAnalysis.zipfFit): ln-ln OLS over
    // the top-200 tokens — natural text sits near slope −1; flat
    // slopes flag templated/synthetic text. The frequency twin of
    // q254's Heaps exponent.
    QueryDef("q291_zipf_fit",
      (s, dir) => TextAnalysis.zipfFit(
        t(s, dir, "documents"), "text", topK = 200),
      Some("""WITH tok AS (
             |  SELECT unnest(list_filter(
             |    string_split_regex(text, ' +'), t -> t <> '')) AS tok
             |  FROM documents),
             |counts AS (SELECT tok, count(*) AS c FROM tok GROUP BY 1),
             |tot AS (SELECT sum(c) AS total_tokens, count(*) AS vocab
             |  FROM counts),
             |rk AS (SELECT c, row_number() OVER (ORDER BY c DESC, tok)
             |    AS r
             |  FROM counts),
             |pts AS (SELECT
             |    CAST(round(ln(CAST(r AS DOUBLE)) * 1000000.0)
             |      AS BIGINT) AS x,
             |    CAST(round(ln(CAST(c AS DOUBLE)) * 1000000.0)
             |      AS BIGINT) AS y
             |  FROM rk WHERE r <= 200),
             |fit AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy,
             |    sum(x * x) AS sxx, sum(x * y) AS sxy,
             |    sum(y * y) AS syy
             |  FROM pts)
             |SELECT CAST(total_tokens AS BIGINT) AS total_tokens,
             |  CAST(vocab AS BIGINT) AS vocab,
             |  CAST(n AS BIGINT) AS top_k,
             |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
             |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
             |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 4) + 0.0
             |    AS zipf_slope,
             |  round((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
             |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) *
             |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
             |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             |    ((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
             |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
             |     (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE) -
             |      CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 4)
             |    AS zipf_r2
             |FROM tot CROSS JOIN fit""".stripMargin)),

    // Post-stratified treatment effect (Experiment.postStratified):
    // per-event-type contrasts weighted by stratum share — unbiased
    // when arm balance differs across strata (q237 detects that
    // failure; this is the fix). Micro-snapped share-weighted terms.
    QueryDef("q292_post_stratified",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .where(col("value").isNotNull)
          .withColumn("arm", pmod(Hashing.portableHash(
            concat(col("user_id").cast("string"), lit(":ps"))),
            lit(2L)).cast("int"))
          .withColumn("cents", round(col("value") * 100).cast("long"))
        Experiment.postStratified(ev, "event_type", "arm", "cents")
          .orderBy("s")
      },
      Some(s"""WITH ev AS (
             |  SELECT event_type AS s,
             |    CASE WHEN ${Hashing.duckPortableHash(
                    "CAST(user_id AS VARCHAR) || ':ps'")} % 2 = 1
             |      THEN 1 ELSE 0 END AS arm,
             |    CAST(round(value * 100) AS BIGINT) AS x
             |  FROM events WHERE value IS NOT NULL),
             |cells AS (SELECT s, arm, count(*) AS n, sum(x) AS sx,
             |    sum(x * x) AS sxx
             |  FROM ev GROUP BY 1, 2),
             |per AS (SELECT s, arm, n,
             |    CAST(sx AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
             |    (CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *
             |        CAST(sx AS DOUBLE) / CAST(n AS DOUBLE)) /
             |      (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0))
             |      AS von
             |  FROM cells),
             |a0 AS (SELECT s, n AS n0, mean AS m0, von AS v0
             |  FROM per WHERE arm = 0),
             |a1 AS (SELECT s, n AS n1, mean AS m1, von AS v1
             |  FROM per WHERE arm = 1),
             |strata AS (SELECT a0.s, n0, m0, v0, n1, m1, v1,
             |    n0 + n1 AS n_s
             |  FROM a0 JOIN a1 ON a0.s = a1.s),
             |tot AS (SELECT sum(n_s) AS ntt FROM strata),
             |staged AS (SELECT *,
             |    m1 - m0 AS dd,
             |    CAST(round(CAST(n_s AS DOUBLE) / CAST(ntt AS DOUBLE) *
             |      (m1 - m0) * 1000000.0) AS BIGINT) AS wdn,
             |    CAST(round(CAST(n_s AS DOUBLE) / CAST(ntt AS DOUBLE) *
             |      (CAST(n_s AS DOUBLE) / CAST(ntt AS DOUBLE)) *
             |      (v0 + v1) * 1000000000.0) AS BIGINT) AS wvn
             |  FROM strata CROSS JOIN tot),
             |pl AS (SELECT sum(wdn) AS e, sum(wvn) AS v FROM staged)
             |SELECT s, CAST(n0 AS BIGINT) AS n0,
             |  CAST(n1 AS BIGINT) AS n1,
             |  CAST((n_s * 1000000) // ntt AS BIGINT) AS share_ppm,
             |  round(dd, 4) + 0.0 AS diff,
             |  round(CAST(e AS DOUBLE) / 1000000.0, 4) + 0.0 AS effect,
             |  round(sqrt(CAST(v AS DOUBLE) / 1000000000.0), 4) AS se
             |FROM staged CROSS JOIN pl ORDER BY s""".stripMargin)),

    // All-but-the-top whitening audit (Pca.whitenAudit): per-dim
    // variance before vs after q123's top-component removal — the
    // per-dimension evidence that the projection flattened the
    // dominant direction. Exact integer moments on snapped values.
    QueryDef("q293_whiten_audit",
      (s, dir) => Pca.whitenAudit(t(s, dir, "embeddings"),
          "vec_id", "embedding", dim = 64, iters = 3)
        .orderBy("pos"),
      Some("WITH " + pcaCtes(dim = 64, iters = 3) + ",\n" +
        """px AS (SELECT e.vec_id, e.embedding,
          |    list_sum(list_transform(e.embedding, (x, j) ->
          |      CAST(x AS DOUBLE) * v.vl[j]))
          |    - list_sum(list_transform(m.ml, (mm, j) -> mm * v.vl[j]))
          |      AS s
          |  FROM embeddings e CROSS JOIN pv3 v CROSS JOIN pml m
          |  WHERE len(e.embedding) = 64),
          |resid AS (SELECT ps.pos, CAST(round((round(
          |    CAST(p.embedding[CAST(ps.pos AS INT)] AS DOUBLE)
          |    - m.ml[CAST(ps.pos AS INT)]
          |    - p.s * v.vl[CAST(ps.pos AS INT)], 4) + 0.0) * 10000.0)
          |    AS BIGINT) AS xu
          |  FROM px p CROSS JOIN pml m CROSS JOIN pv3 v
          |  CROSS JOIN poss ps),
          |am AS (SELECT pos, count(*) AS na, sum(xu) AS sa,
          |    sum(xu * xu) AS ssa
          |  FROM resid GROUP BY 1),
          |braw AS (SELECT ps.pos, CAST(round(
          |    CAST(e.embedding[CAST(ps.pos AS INT)] AS DOUBLE) *
          |    1000000.0) AS BIGINT) AS xu
          |  FROM embeddings e CROSS JOIN poss ps
          |  WHERE len(e.embedding) = 64),
          |bm AS (SELECT pos, count(*) AS nb, sum(xu) AS sb,
          |    sum(xu * xu) AS ssb
          |  FROM braw GROUP BY 1),
          |vv AS (SELECT bm.pos, nb,
          |    (CAST(ssb AS DOUBLE) - CAST(sb AS DOUBLE) *
          |      CAST(sb AS DOUBLE) / CAST(nb AS DOUBLE)) /
          |     (CAST(nb AS DOUBLE) - 1.0) / 1000000000000.0 AS varb,
          |    (CAST(ssa AS DOUBLE) - CAST(sa AS DOUBLE) *
          |      CAST(sa AS DOUBLE) / CAST(na AS DOUBLE)) /
          |     (CAST(na AS DOUBLE) - 1.0) / 100000000.0 AS vara
          |  FROM bm JOIN am ON bm.pos = am.pos)
          |SELECT CAST(pos AS INT) AS pos, CAST(nb AS BIGINT) AS n,
          |  round(varb, 6) AS var_before,
          |  round(vara, 6) AS var_after,
          |  round(vara / varb, 4) AS ratio
          |FROM vv ORDER BY 1""".stripMargin)),

    // Similarity-weighted medoid per cluster (Components
    // .medoidPerCluster): keep the most CENTRAL copy (highest total
    // verified-pair similarity), not the oldest id — min-id can keep
    // an outlier hanging by one weak edge. Both keepers shown.
    QueryDef("q294_cluster_medoid",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
        // probes the shared persisted pairs table (same slice +
        // parameters as ensureNearDupIndex) instead of re-running
        // minhash per invocation (round 14, the q372 pattern)
        val pairs = ndPairs(s, dir).transform(Pin.shared)
        val clusters = Components.dedupClusters(docs, "doc_id",
          pairs, "id_a", "id_b")
        Components.medoidPerCluster(clusters, "doc_id",
            pairs, "id_a", "id_b", "jaccard")
          .orderBy("component")
      },
      Some("WITH RECURSIVE " + minhashVerifiedCtes + ",\n" +
        clusterChainCtes + ",\n" +
        """ends AS (SELECT id, sum(su) AS deg FROM (
          |    SELECT id_a AS id,
          |      CAST(round(jaccard * 10000.0) AS BIGINT) AS su
          |    FROM verified WHERE jaccard >= 0.8
          |    UNION ALL
          |    SELECT id_b,
          |      CAST(round(jaccard * 10000.0) AS BIGINT)
          |    FROM verified WHERE jaccard >= 0.8)
          |  GROUP BY 1),
          |cs AS (SELECT comp.id, comp.component, sizes.cluster_size,
          |    coalesce(deg, 0) AS deg
          |  FROM comp JOIN sizes USING (component)
          |  LEFT JOIN ends ON comp.id = ends.id
          |  WHERE cluster_size >= 2),
          |rk AS (SELECT *, row_number() OVER (PARTITION BY component
          |    ORDER BY deg DESC, id) AS rk,
          |    min(id) OVER (PARTITION BY component) AS mn
          |  FROM cs)
          |SELECT component, CAST(cluster_size AS BIGINT)
          |    AS cluster_size,
          |  id AS medoid_id,
          |  round(CAST(deg AS DOUBLE) / 10000.0, 4) AS medoid_sim_sum,
          |  mn AS minid_keeper
          |FROM rk WHERE rk = 1 ORDER BY component""".stripMargin)),

    // Exact histogram-intersection source overlap (SourceSim
    // .histIntersection): Σ min(p_a, p_b) over the shared
    // vocabulary — the exact twin of q169's KMV sketch matrix,
    // equi-joined on token (fan-out bounded by slices-per-token,
    // never |slices|²).
    QueryDef("q295_hist_intersection",
      (s, dir) => SourceSim.histIntersection(
          t(s, dir, "documents"), "source", "text", k = 10)
        .orderBy("src_a", "src_b"),
      Some("""WITH tok AS (
             |  SELECT source AS s, unnest(list_filter(
             |    string_split_regex(text, ' +'), t -> t <> '')) AS tok
             |  FROM documents),
             |counts AS (SELECT s, tok, count(*) AS c
             |  FROM tok GROUP BY 1, 2),
             |tot AS (SELECT s, sum(c) AS n FROM counts GROUP BY 1),
             |wp AS (SELECT counts.s, tok, c, n
             |  FROM counts JOIN tot ON counts.s = tot.s),
             |pr AS (SELECT a.s AS src_a, b.s AS src_b,
             |    CAST(round(least(
             |      CAST(a.c AS DOUBLE) / CAST(a.n AS DOUBLE),
             |      CAST(b.c AS DOUBLE) / CAST(b.n AS DOUBLE)) *
             |      1000000000.0) AS BIGINT) AS term
             |  FROM wp a JOIN wp b ON a.tok = b.tok AND a.s < b.s),
             |sc AS (SELECT src_a, src_b, count(*) AS n_common_tokens,
             |    sum(term) AS hi
             |  FROM pr GROUP BY 1, 2),
             |rk AS (SELECT *, row_number() OVER (ORDER BY hi DESC,
             |    src_a, src_b) AS rk
             |  FROM sc)
             |SELECT src_a, src_b,
             |  CAST(n_common_tokens AS BIGINT) AS n_common_tokens,
             |  round(CAST(hi AS DOUBLE) / 1000000000.0, 6)
             |    AS hist_intersection
             |FROM rk WHERE rk <= 10
             |ORDER BY src_a, src_b""".stripMargin)),

    // Session entry→exit matrix (Sessionize.entryExitMatrix): how
    // sessions begin vs how they end — landing/exit analytics at
    // event-type grain, deterministic min_by/max_by on the
    // (time, id) pair.
    QueryDef("q296_entry_exit",
      (s, dir) => Sessionize.entryExitMatrix(t(s, dir, "events"),
          Seq("user_id"), "ts", "event_id", "event_type",
          gapUs = 1800000000L)
        .orderBy("entry_type", "exit_type"),
      Some("""WITH sv AS (
             |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tu
             |  FROM events),
             |lg AS (SELECT user_id, tu, event_id, event_type,
             |    CASE WHEN lag(tu) OVER w IS NULL
             |      OR tu - lag(tu) OVER w > 1800000000
             |      THEN 1 ELSE 0 END AS nw
             |  FROM sv WINDOW w AS (PARTITION BY user_id
             |    ORDER BY tu, event_id)),
             |ss AS (SELECT user_id, tu, event_id, event_type,
             |    sum(nw) OVER (PARTITION BY user_id
             |      ORDER BY tu, event_id
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
             |      AS sid
             |  FROM lg),
             |fr AS (SELECT user_id, sid, event_type,
             |    row_number() OVER (PARTITION BY user_id, sid
             |      ORDER BY tu, event_id) AS a,
             |    row_number() OVER (PARTITION BY user_id, sid
             |      ORDER BY tu DESC, event_id DESC) AS z
             |  FROM ss),
             |per AS (SELECT user_id, sid,
             |    max(CASE WHEN a = 1 THEN event_type END)
             |      AS entry_type,
             |    max(CASE WHEN z = 1 THEN event_type END) AS exit_type
             |  FROM fr GROUP BY 1, 2),
             |m AS (SELECT entry_type, exit_type, count(*) AS n
             |  FROM per GROUP BY 1, 2),
             |tt AS (SELECT sum(n) AS tot FROM m)
             |SELECT entry_type, exit_type, CAST(n AS BIGINT)
             |    AS n_sessions,
             |  CAST((n * 1000000) // tot AS BIGINT) AS share_ppm
             |FROM m CROSS JOIN tt
             |ORDER BY 1, 2""".stripMargin)),

    // Bot-score composite: z(rate) − z(entropy) − z(burstiness) per
    // user over exact integer-snapped metrics — high-volume,
    // low-entropy, metronomic actors surface first. Composes q281's
    // entropy and q255's CV² at user grain; single-type users
    // (entropy null) coalesce to 0, the most bot-like value.
    QueryDef("q297_bot_score",
      (s, dir) => {
        val ev = t(s, dir, "events")
          .withColumn("tu", expr("unix_micros(cast(ts as timestamp))"))
          .withColumn("day", expr("tu DIV 86400000000"))
        val vol = ev.groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"),
            countDistinct("day").as("n_days"))
          .withColumn("r_u", expr("(n_events * 1000000) DIV n_days"))
        val ent = Behavior.entityEntropy(ev, "user_id", "event_type")
          .select(col("entity").as("user_id"), col("entropy_norm"))
        val ia = Seasonal.interarrivalProfile(ev, "user_id", "tu",
            "event_id")
          .select(col("g").as("user_id"), col("cv2"))
        val base = vol.join(ent, Seq("user_id")).join(ia, Seq("user_id"))
          .where(col("n_events") >= 5)
          .withColumn("e_u",
            coalesce(round(col("entropy_norm") * 1e4), lit(0.0))
              .cast("long"))
          .withColumn("c_u", round(col("cv2") * 1e4).cast("long"))
          .transform(Pin.shared)
        val mom = base.agg(count(lit(1)).as("nn"),
          sum("r_u").as("sr"), sum(col("r_u") * col("r_u")).as("srr"),
          sum("e_u").as("se"), sum(col("e_u") * col("e_u")).as("see"),
          sum("c_u").as("sc"), sum(col("c_u") * col("c_u")).as("scc"))
        def dd(c: String) = col(c).cast("double")
        def z(x: String, s: String, ss: String) =
          (col(x).cast("double") - dd(s) / dd("nn")) /
            sqrt((dd(ss) - dd(s) * dd(s) / dd("nn")) /
              (dd("nn") - lit(1.0)))
        val scored = base.crossJoin(broadcast(mom))
          .withColumn("_score_n", round(
            (z("r_u", "sr", "srr") - z("e_u", "se", "see") -
              z("c_u", "sc", "scc")) * lit(1e6)).cast("long"))
        scored
          // Explicit top-10 (TakeOrderedAndProject), not a rank
          // window over the full user frame.
          .orderBy(col("_score_n").desc, col("user_id").asc)
          .limit(10)
          .select(col("user_id"), col("n_events"),
            round(col("r_u").cast("double") / lit(1e6), 2)
              .as("events_per_day"),
            col("entropy_norm"), col("cv2"),
            round(col("_score_n").cast("double") / lit(1e6), 4)
              .as("bot_score"))
          .orderBy("user_id")
      },
      Some(s"""WITH ev AS (SELECT user_id, event_id, event_type,
             |    epoch_us(ts) AS tu, epoch_us(ts) // 86400000000 AS d
             |  FROM events),
             |vol AS (SELECT user_id, count(*) AS n_events,
             |    count(DISTINCT d) AS n_days
             |  FROM ev GROUP BY 1),
             |vr AS (SELECT user_id, n_events,
             |    (n_events * 1000000) // n_days AS r_u
             |  FROM vol),
             |ec AS (SELECT user_id, event_type, count(*) AS c
             |  FROM ev GROUP BY 1, 2),
             |en AS (SELECT user_id, c,
             |    sum(c) OVER (PARTITION BY user_id) AS n
             |  FROM ec),
             |eh AS (SELECT user_id, max(n) AS n, count(*) AS k,
             |    sum(CAST(round(-(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
             |      * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) *
             |      1000000000.0) AS BIGINT)) AS h
             |  FROM en GROUP BY 1),
             |ez AS (SELECT user_id, CASE WHEN k > 1 THEN
             |    CAST(round(round(CAST(h AS DOUBLE) / 1000000000.0 /
             |      ln(CAST(k AS DOUBLE)), 4) * 10000.0) AS BIGINT)
             |    ELSE 0 END AS e_u,
             |    CASE WHEN k > 1 THEN round(CAST(h AS DOUBLE) /
             |      1000000000.0 / ln(CAST(k AS DOUBLE)), 4)
             |      END AS entropy_norm
             |  FROM eh),
             |lg AS (SELECT user_id, tu, lag(tu) OVER (
             |    PARTITION BY user_id ORDER BY tu, event_id) AS prev
             |  FROM ev),
             |gg AS (SELECT user_id, (tu - prev) // 1000 AS gap
             |  FROM lg WHERE prev IS NOT NULL),
             |cvt AS (SELECT user_id,
             |    round((CAST(sum(gap * gap) AS DOUBLE) *
             |        CAST(count(*) AS DOUBLE) -
             |        CAST(sum(gap) AS DOUBLE) * CAST(sum(gap) AS DOUBLE))
             |      / (CAST(sum(gap) AS DOUBLE) *
             |         CAST(sum(gap) AS DOUBLE)), 4) AS cv2
             |  FROM gg GROUP BY 1),
             |base AS (SELECT vr.user_id, n_events, r_u, e_u,
             |    entropy_norm, cv2,
             |    CAST(round(cv2 * 10000.0) AS BIGINT) AS c_u
             |  FROM vr
             |  JOIN ez ON vr.user_id = ez.user_id
             |  JOIN cvt ON vr.user_id = cvt.user_id
             |  WHERE n_events >= 5),
             |mom AS (SELECT count(*) AS nn,
             |    sum(r_u) AS sr, sum(r_u * r_u) AS srr,
             |    sum(e_u) AS se, sum(e_u * e_u) AS see,
             |    sum(c_u) AS sc, sum(c_u * c_u) AS scc
             |  FROM base),
             |sc2 AS (SELECT base.*, CAST(round((
             |    (CAST(r_u AS DOUBLE) - CAST(sr AS DOUBLE) /
             |      CAST(nn AS DOUBLE)) /
             |    sqrt((CAST(srr AS DOUBLE) - CAST(sr AS DOUBLE) *
             |        CAST(sr AS DOUBLE) / CAST(nn AS DOUBLE)) /
             |      (CAST(nn AS DOUBLE) - 1.0)) -
             |    (CAST(e_u AS DOUBLE) - CAST(se AS DOUBLE) /
             |      CAST(nn AS DOUBLE)) /
             |    sqrt((CAST(see AS DOUBLE) - CAST(se AS DOUBLE) *
             |        CAST(se AS DOUBLE) / CAST(nn AS DOUBLE)) /
             |      (CAST(nn AS DOUBLE) - 1.0)) -
             |    (CAST(c_u AS DOUBLE) - CAST(sc AS DOUBLE) /
             |      CAST(nn AS DOUBLE)) /
             |    sqrt((CAST(scc AS DOUBLE) - CAST(sc AS DOUBLE) *
             |        CAST(sc AS DOUBLE) / CAST(nn AS DOUBLE)) /
             |      (CAST(nn AS DOUBLE) - 1.0))) * 1000000.0)
             |    AS BIGINT) AS score_n
             |  FROM base CROSS JOIN mom),
             |rk AS (SELECT *, row_number() OVER (ORDER BY score_n DESC,
             |    user_id) AS rk
             |  FROM sc2)
             |SELECT user_id, CAST(n_events AS BIGINT) AS n_events,
             |  round(CAST(r_u AS DOUBLE) / 1000000.0, 2)
             |    AS events_per_day,
             |  entropy_norm, cv2,
             |  round(CAST(score_n AS DOUBLE) / 1000000.0, 4)
             |    AS bot_score
             |FROM rk WHERE rk <= 10 ORDER BY user_id""".stripMargin)),

    // LSH band-count recall sweep (the OTHER tuning axis next to
    // q219's threshold sweep): k=64 signatures banded 2/4/8 ways
    // against the exhaustive ground truth on the bounded doc_id<200
    // eval sample (the q103 discipline) — more bands = more
    // candidates = higher recall, and here the curve is MEASURED.
    QueryDef("q298_bands_recall",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 200)
        val tk = Dedup.tokenIndex(docs, "doc_id", "text")
          .transform(Pin.shared)
        val a = tk.select(col("doc_id").as("id_a"),
          col("toks").as("ta"), col("n_toks").as("na"))
        val b = tk.select(col("doc_id").as("id_b"),
          col("toks").as("tb"), col("n_toks").as("nb"))
        val truth = a.join(b, col("id_a") < col("id_b"))
          .withColumn("inter",
            call_function("graft_overlap", col("ta"), col("tb")))
          .withColumn("j", round(col("inter").cast("double") /
            (col("na") + col("nb") - col("inter")), 4))
          .filter(col("j") >= 0.8)
          .agg(count(lit(1)).as("n_true"))
        Seq(2, 4, 8).map { bands =>
          val found = Dedup.minhashNearDups(docs, "doc_id", "text",
              k = 64, bands = bands, threshold = 0.8)
            .agg(count(lit(1)).as("n_found"))
          found.crossJoin(broadcast(truth))
            .select(lit(bands).as("bands"), col("n_true"),
              col("n_found"),
              expr("(n_found * 1000000) DIV n_true").as("recall_ppm"))
        }.reduce(_ unionByName _).orderBy("bands")
      },
      Some {
        def bandCte(b: Int) = {
          val r = 64 / b
          s"""bs$b AS (SELECT doc_id, bb.band_id,
             |    md5(array_to_string(list_transform(
             |      list_slice(sig, band_id * $r + 1, band_id * $r + $r),
             |      x -> CAST(x AS VARCHAR)), ',')) AS band_hash
             |  FROM sig, (SELECT unnest(generate_series(0, ${b - 1}))
             |    AS band_id) bb),
             |cd$b AS (SELECT DISTINCT l.doc_id AS id_a,
             |    r.doc_id AS id_b
             |  FROM bs$b l JOIN bs$b r
             |    ON l.band_id = r.band_id
             |    AND l.band_hash = r.band_hash
             |    AND l.doc_id < r.doc_id),
             |fd$b AS (SELECT count(*) AS n_found FROM (
             |    SELECT c.id_a FROM cd$b c
             |    JOIN toks a ON a.doc_id = c.id_a
             |    JOIN toks b2 ON b2.doc_id = c.id_b
             |    WHERE round(CAST(len(list_intersect(a.tk, b2.tk))
             |        AS DOUBLE) /
             |      len(list_distinct(list_concat(a.tk, b2.tk))), 4)
             |      >= 0.8))""".stripMargin
        }
        "WITH " + minhashSigCtes("", "doc_id < 200") + ",\n" +
          s"""tr AS (SELECT count(*) AS n_true
             |  FROM toks a JOIN toks b ON a.doc_id < b.doc_id
             |  WHERE round(CAST(len(list_intersect(a.tk, b.tk))
             |      AS DOUBLE) /
             |    len(list_distinct(list_concat(a.tk, b.tk))), 4)
             |    >= 0.8),
             |${bandCte(2)},
             |${bandCte(4)},
             |${bandCte(8)}
             |SELECT bands, CAST(n_true AS BIGINT) AS n_true,
             |  CAST(n_found AS BIGINT) AS n_found,
             |  CAST((n_found * 1000000) // n_true AS BIGINT)
             |    AS recall_ppm
             |FROM (
             |  SELECT 2 AS bands, n_true, n_found FROM fd2 CROSS JOIN tr
             |  UNION ALL
             |  SELECT 4, n_true, n_found FROM fd4 CROSS JOIN tr
             |  UNION ALL
             |  SELECT 8, n_true, n_found FROM fd8 CROSS JOIN tr)
             |ORDER BY bands""".stripMargin
      }),

    // Sketch-merge associativity, proven as data (the mergeability
    // contract every distributed sketch rests on): graft_hist built
    // on the even and odd halves, merged by elementwise addition,
    // must answer the same p50 as one sketch over everything.
    QueryDef("q299_sketch_merge",
      (s, dir) => {
        val docs = t(s, dir, "documents").where(col("n_chars").isNotNull)
        def sk(f: DataFrame) = f.groupBy("lang").agg(
          expr("graft_hist(CAST(n_chars AS DOUBLE), 0D, 1024D, 256)")
            .as("cts"))
        val merged = sk(docs.where(col("doc_id") % 2 === 0))
          .withColumnRenamed("cts", "ca")
          .join(sk(docs.where(col("doc_id") % 2 =!= 0))
            .withColumnRenamed("cts", "cb"), Seq("lang"))
          .select(col("lang"), zip_with(col("ca"), col("cb"),
            (x, y) => x + y).as("cts"))
        def crossing(f: DataFrame, out: String) = f
          .select(col("lang"), posexplode(col("cts")).as(Seq("b", "cnt")))
          .where(col("cnt") > 0)
          .withColumn("cum", sum("cnt").over(Window.partitionBy("lang")
            .orderBy("b")))
          .withColumn("total", sum("cnt").over(
            Window.partitionBy("lang")))
          .where(col("cum").cast("double") >=
            lit(0.5) * col("total").cast("double") &&
            (col("cum") - col("cnt")).cast("double") <
              lit(0.5) * col("total").cast("double"))
          .select(col("lang"), (round(lit(4.0) *
            (col("b").cast("double") +
              (lit(0.5) * col("total").cast("double") -
                (col("cum") - col("cnt")).cast("double")) /
                col("cnt").cast("double")), 4) + lit(0.0)).as(out))
        crossing(merged, "p50_merged")
          .join(crossing(sk(docs), "p50_whole"), Seq("lang"))
          .withColumn("equal",
            (col("p50_merged") === col("p50_whole")).cast("int"))
          .orderBy("lang")
      },
      Some("""WITH v AS (SELECT lang, doc_id,
             |    CAST(n_chars AS DOUBLE) AS v
             |  FROM documents WHERE n_chars IS NOT NULL),
             |b0 AS (SELECT lang, doc_id, CAST(least(greatest(
             |    floor(v / 4.0), 0), 255) AS BIGINT) AS b FROM v),
             |cm AS (SELECT lang, b, count(*) AS cnt
             |  FROM b0 GROUP BY 1, 2),
             |ccm AS (SELECT lang, b, cnt,
             |    sum(cnt) OVER (PARTITION BY lang ORDER BY b) AS cum,
             |    sum(cnt) OVER (PARTITION BY lang) AS total
             |  FROM cm),
             |pm AS (SELECT lang, round(4.0 * (CAST(b AS DOUBLE)
             |    + (0.5 * CAST(total AS DOUBLE) -
             |      CAST(cum - cnt AS DOUBLE)) / CAST(cnt AS DOUBLE)),
             |    4) + 0.0 AS p50
             |  FROM ccm
             |  WHERE CAST(cum AS DOUBLE) >= 0.5 * CAST(total AS DOUBLE)
             |    AND CAST(cum - cnt AS DOUBLE) <
             |      0.5 * CAST(total AS DOUBLE))
             |SELECT lang, p50 AS p50_merged, p50 AS p50_whole,
             |  1 AS equal
             |FROM pm ORDER BY lang""".stripMargin)),

    // q300 — release-readiness scorecard: five independent gates
    // (dup rate, dedup content shift, referential integrity,
    // k-anonymity, late-data exposure) composed from the library's
    // own operators into ONE pass/fail table — the "can we ship this
    // dataset" report a data-release process actually runs.
    QueryDef("q300_release_scorecard",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val row1 = docs
          .agg(count(lit(1)).as("_n"),
            countDistinct(md5(col("text"))).as("_d"))
          .select(lit("1_exact_dup_ppm").as("check"),
            expr("CAST(((_n - _d) * 1000000) DIV _n AS DOUBLE)")
              .as("value"),
            lit(100000.0).as("threshold"),
            expr("CAST(((_n - _d) * 1000000) DIV _n <= 100000 AS INT)")
              .as("pass"))
        val kept = docs.join(
          Dedup.exact(docs, "text", "doc_id")
            .select(col("keep_id").as("doc_id")), Seq("doc_id"),
          "left_semi")
        val row2 = Drift.jsTokenShift(docs, kept, "text")
          .select(lit("2_dedup_js_nats").as("check"),
            col("js_nats").as("value"), lit(0.05).as("threshold"),
            (col("js_nats") <= 0.05).cast("int").as("pass"))
        val li = t(s, dir, "lineitem"); val ord = t(s, dir, "orders")
        val cust = t(s, dir, "customer"); val pt = t(s, dir, "part")
        val sup = t(s, dir, "supplier"); val nat = t(s, dir, "nation")
        val row3 = {
          import graft.ops.Expectations.refIntegrity
          Seq(
            refIntegrity(li, "l_orderkey", ord, "o_orderkey", "a"),
            refIntegrity(li, "l_partkey", pt, "p_partkey", "b"),
            refIntegrity(li, "l_suppkey", sup, "s_suppkey", "c"),
            refIntegrity(ord, "o_custkey", cust, "c_custkey", "d"),
            refIntegrity(cust, "c_nationkey", nat, "n_nationkey", "e"))
            .reduce(_ unionByName _)
            .agg(sum("n_orphans").as("_o"))
            .select(lit("3_ref_orphans").as("check"),
              col("_o").cast("double").as("value"),
              lit(0.0).as("threshold"),
              (col("_o") === 0).cast("int").as("pass"))
        }
        val row4 = docs
          .groupBy(col("lang"), col("source"),
            expr("n_chars DIV 500").as("lb"))
          .agg(count(lit(1)).as("cs"))
          .agg(min("cs").as("_m"))
          .select(lit("4_k_anon_min_class").as("check"),
            col("_m").cast("double").as("value"),
            lit(5.0).as("threshold"),
            (col("_m") >= 5).cast("int").as("pass"))
        val ev = t(s, dir, "events")
          .withColumn("et", expr("unix_micros(cast(ts as timestamp))"))
          .withColumn("arr", col("et") +
            pmod(Hashing.portableHash(
              concat(col("event_id").cast("string"), lit(":arr"))),
              lit(14400000001L)) - lit(7200000000L))
        val row5 = Lateness.watermarkProfile(ev, "event_id", "et",
            "arr", bucketUs = 86400000000L, allowedUs = Seq(3600000000L))
          .select(lit("5_late_drop_ppm_1h").as("check"),
            col("drop_ppm").cast("double").as("value"),
            lit(10000.0).as("threshold"),
            (col("drop_ppm") <= 10000).cast("int").as("pass"))
        Seq(row1, row2, row3, row4, row5).reduce(_ unionByName _)
          .orderBy("check")
      },
      Some(s"""WITH r1 AS (SELECT '1_exact_dup_ppm' AS "check",
             |    CAST(((count(*) - count(DISTINCT md5(text))) *
             |      1000000) // count(*) AS DOUBLE) AS value,
             |    100000.0 AS threshold,
             |    CAST(((count(*) - count(DISTINCT md5(text))) *
             |      1000000) // count(*) <= 100000 AS INT) AS pass
             |  FROM documents),
             |$dedupTokenCountCtes
             |tta AS (SELECT sum(c_a) AS tokens_a FROM ca),
             |ttb AS (SELECT sum(c_b) AS tokens_b FROM cb),
             |jj AS (SELECT coalesce(c_a, 0) AS c_a,
             |    coalesce(c_b, 0) AS c_b
             |  FROM ca FULL JOIN cb USING (tok)),
             |terms AS (SELECT
             |$jsTermSql
             |  FROM jj CROSS JOIN tta CROSS JOIN ttb),
             |r2 AS (SELECT '2_dedup_js_nats' AS "check",
             |    round(CAST(sum(t) AS DOUBLE) / 1000000000.0, 6)
             |      AS value,
             |    0.05 AS threshold,
             |    CAST(round(CAST(sum(t) AS DOUBLE) / 1000000000.0, 6)
             |      <= 0.05 AS INT) AS pass
             |  FROM terms),
             |orp AS (SELECT
             |    (SELECT count(*) FROM lineitem
             |      WHERE l_orderkey IS NOT NULL AND l_orderkey NOT IN
             |        (SELECT DISTINCT o_orderkey FROM orders
             |         WHERE o_orderkey IS NOT NULL)) +
             |    (SELECT count(*) FROM lineitem
             |      WHERE l_partkey IS NOT NULL AND l_partkey NOT IN
             |        (SELECT DISTINCT p_partkey FROM part
             |         WHERE p_partkey IS NOT NULL)) +
             |    (SELECT count(*) FROM lineitem
             |      WHERE l_suppkey IS NOT NULL AND l_suppkey NOT IN
             |        (SELECT DISTINCT s_suppkey FROM supplier
             |         WHERE s_suppkey IS NOT NULL)) +
             |    (SELECT count(*) FROM orders
             |      WHERE o_custkey IS NOT NULL AND o_custkey NOT IN
             |        (SELECT DISTINCT c_custkey FROM customer
             |         WHERE c_custkey IS NOT NULL)) +
             |    (SELECT count(*) FROM customer
             |      WHERE c_nationkey IS NOT NULL AND c_nationkey NOT IN
             |        (SELECT DISTINCT n_nationkey FROM nation
             |         WHERE n_nationkey IS NOT NULL)) AS o),
             |r3 AS (SELECT '3_ref_orphans' AS "check",
             |    CAST(o AS DOUBLE) AS value, 0.0 AS threshold,
             |    CAST(o = 0 AS INT) AS pass
             |  FROM orp),
             |kan AS (SELECT min(cs) AS m FROM (
             |    SELECT count(*) AS cs FROM documents
             |    GROUP BY lang, source, n_chars // 500)),
             |r4 AS (SELECT '4_k_anon_min_class' AS "check",
             |    CAST(m AS DOUBLE) AS value, 5.0 AS threshold,
             |    CAST(m >= 5 AS INT) AS pass
             |  FROM kan),
             |le AS (SELECT event_id AS id, epoch_us(ts) AS et,
             |    epoch_us(ts) + ${Hashing.duckPortableHash(
                    "CAST(event_id AS VARCHAR) || ':arr'")}
             |      % 14400000001 - 7200000000 AS arr
             |  FROM events),
             |lw AS (SELECT id, et, arr,
             |    max(et) OVER (ORDER BY arr, id) AS wm
             |  FROM le),
             |ll AS (SELECT wm - et AS late_us FROM lw),
             |ld AS (SELECT count(*) AS n,
             |    sum(CASE WHEN late_us > 3600000000 THEN 1 ELSE 0 END)
             |      AS nd
             |  FROM ll),
             |r5 AS (SELECT '5_late_drop_ppm_1h' AS "check",
             |    CAST((nd * 1000000) // n AS DOUBLE) AS value,
             |    10000.0 AS threshold,
             |    CAST((nd * 1000000) // n <= 10000 AS INT) AS pass
             |  FROM ld)
             |SELECT * FROM r1 UNION ALL SELECT * FROM r2
             |UNION ALL SELECT * FROM r3 UNION ALL SELECT * FROM r4
             |UNION ALL SELECT * FROM r5
             |ORDER BY "check"""".stripMargin)),

    // Lead/lag cross-correlation (Seasonal.crossCorrelation): does
    // click volume LEAD purchase volume? r_k correlates clicks at t
    // with purchases at t+k over the shared day grid — the
    // two-series sibling of q228's ACF, same exact-integer
    // decomposition.
    QueryDef("q301_click_purchase_ccf",
      (s, dir) => {
        val ev = t(s, dir, "events").withColumn("day",
          expr("unix_micros(cast(ts as timestamp)) div 86400000000"))
        Seasonal.crossCorrelation(
            ev.where(col("event_type") === "click"),
            ev.where(col("event_type") === "purchase"),
            "day", maxLag = 7)
          .orderBy("lag")
      },
      Some("""WITH da AS (SELECT epoch_us(ts) // 86400000000 AS d,
             |    count(*) AS xa
             |  FROM events WHERE event_type = 'click' GROUP BY 1),
             |db AS (SELECT epoch_us(ts) // 86400000000 AS d,
             |    count(*) AS xb
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |j AS (SELECT coalesce(da.d, db.d) AS d,
             |    coalesce(xa, 0) AS xa, coalesce(xb, 0) AS xb
             |  FROM da FULL JOIN db ON da.d = db.d),
             |g AS (SELECT unnest(generate_series(
             |    (SELECT min(d) FROM j), (SELECT max(d) FROM j))) AS d),
             |se AS (SELECT g.d, coalesce(xa, 0) AS xa,
             |    coalesce(xb, 0) AS xb
             |  FROM g LEFT JOIN j ON g.d = j.d),
             |mom AS (SELECT count(*) AS nd, sum(xa) AS sa,
             |    sum(xa * xa) AS saa, sum(xb) AS sb,
             |    sum(xb * xb) AS sbb
             |  FROM se),
             |sh AS (SELECT lag, d - lag AS d, xb AS xbl
             |  FROM se,
             |    (SELECT unnest(generate_series(-7, 7)) AS lag) ll),
             |ag AS (SELECT lag, count(*) AS n_pairs,
             |    sum(xa * xbl) AS sxy, sum(xa) AS spa,
             |    sum(xbl) AS spb
             |  FROM se s JOIN sh ON s.d = sh.d GROUP BY 1)
             |SELECT CAST(lag AS INT) AS lag,
             |  CAST(n_pairs AS BIGINT) AS n_pairs,
             |  round((CAST(sxy AS DOUBLE) -
             |      CAST(sb AS DOUBLE) / CAST(nd AS DOUBLE) *
             |        CAST(spa AS DOUBLE) -
             |      CAST(sa AS DOUBLE) / CAST(nd AS DOUBLE) *
             |        CAST(spb AS DOUBLE) +
             |      CAST(n_pairs AS DOUBLE) *
             |        (CAST(sa AS DOUBLE) / CAST(nd AS DOUBLE)) *
             |        (CAST(sb AS DOUBLE) / CAST(nd AS DOUBLE))) /
             |    sqrt((CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) *
             |        CAST(sa AS DOUBLE) / CAST(nd AS DOUBLE)) *
             |      (CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) *
             |        CAST(sb AS DOUBLE) / CAST(nd AS DOUBLE))), 4)
             |    + 0.0 AS ccf
             |FROM ag CROSS JOIN mom
             |WHERE sqrt((CAST(saa AS DOUBLE) - CAST(sa AS DOUBLE) *
             |    CAST(sa AS DOUBLE) / CAST(nd AS DOUBLE)) *
             |  (CAST(sbb AS DOUBLE) - CAST(sb AS DOUBLE) *
             |    CAST(sb AS DOUBLE) / CAST(nd AS DOUBLE))) > 0
             |ORDER BY 1""".stripMargin)),

    // Seasonality-adjusted anomaly days (q240's decomposition ∘
    // robust MAD gate): the 3 most anomalous REMAINDER days per
    // event type, flagged when beyond 3·1.4826·MAD — "weird after
    // accounting for trend and weekday", which q181's raw-volume
    // gate can't say.
    QueryDef("q302_seasonal_anomalies",
      (s, dir) => {
        val ev = t(s, dir, "events").withColumn("day",
          expr("unix_micros(cast(ts as timestamp)) div 86400000000"))
        val dec = Seasonal.decompose(ev, "event_type", "day")
          .withColumn("ru", round(col("remainder") * 1e4).cast("long"))
        val med = dec.groupBy("g")
          .agg(expr("percentile(ru, 0.5)").as("med"))
        val dev = dec.join(broadcast(med), Seq("g"))
          .withColumn("dev", abs(col("ru").cast("double") - col("med")))
        val mad = dev.groupBy("g")
          .agg(expr("percentile(dev, 0.5)").as("mad"))
        dev.join(broadcast(mad), Seq("g"))
          .withColumn("_rk", row_number().over(
            Window.partitionBy("g")
              .orderBy(col("dev").desc, col("d").asc)))
          .where(col("_rk") <= 3)
          .select(col("g"), col("d"), col("x"), col("remainder"),
            // dev is an exact half-integer in 1e4 units: 5 decimals
            // is EXACT (a 4-dp round can land on a .5 boundary where
            // the engines' decimal conversions disagree).
            round(col("dev") / lit(1e4), 5).as("deviation"),
            (col("dev") > lit(3.0) * lit(1.4826) * col("mad"))
              .cast("int").as("flag"))
          .orderBy("g", "d")
      },
      Some(s"""$eventsDailyCtes
             |tw AS (SELECT g, d, x, sum(x) OVER w AS s7,
             |    count(*) OVER w AS n7
             |  FROM daily WINDOW w AS (PARTITION BY g ORDER BY d
             |    ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
             |tr AS (SELECT g, d, x,
             |    CAST(round((CAST(x AS DOUBLE) -
             |      CAST(s7 AS DOUBLE) / 7.0) * 1000000.0) AS BIGINT)
             |      AS detr_u,
             |    CAST((d + 3) % 7 + 1 AS INT) AS dow
             |  FROM tw WHERE n7 = 7),
             |se2 AS (SELECT g, dow, CAST(round(
             |    CAST(sum(detr_u) AS DOUBLE) / CAST(count(*) AS DOUBLE))
             |    AS BIGINT) AS seas_u
             |  FROM tr GROUP BY 1, 2),
             |rem AS (SELECT tr.g, tr.d, tr.x,
             |    round(CAST(detr_u - seas_u AS DOUBLE) / 1000000.0, 4)
             |      + 0.0 AS remainder
             |  FROM tr JOIN se2 ON tr.g = se2.g AND tr.dow = se2.dow),
             |ru AS (SELECT g, d, x, remainder,
             |    CAST(round(remainder * 10000.0) AS BIGINT) AS ru
             |  FROM rem),
             |md AS (SELECT g, percentile_cont(0.5)
             |    WITHIN GROUP (ORDER BY ru) AS med
             |  FROM ru GROUP BY 1),
             |dv AS (SELECT ru.g, d, x, remainder,
             |    abs(CAST(ru AS DOUBLE) - med) AS dev
             |  FROM ru JOIN md ON ru.g = md.g),
             |mad AS (SELECT g, percentile_cont(0.5)
             |    WITHIN GROUP (ORDER BY dev) AS mad
             |  FROM dv GROUP BY 1),
             |rk AS (SELECT dv.*, mad, row_number() OVER (
             |    PARTITION BY dv.g ORDER BY dev DESC, d) AS rk
             |  FROM dv JOIN mad ON dv.g = mad.g)
             |SELECT g, d, CAST(x AS BIGINT) AS x, remainder,
             |  round(dev / 10000.0, 5) AS deviation,
             |  CAST(dev > 3.0 * 1.4826 * mad AS INT) AS flag
             |FROM rk WHERE rk <= 3 ORDER BY g, d""".stripMargin)),

    // Conditional transition entropy (Markov.conditionalEntropy):
    // H(next|cur) vs H(next) — how much more predictable the next
    // action is GIVEN the current one; gain ≈ 0 would mean q248's
    // first-order chain adds nothing over base rates.
    QueryDef("q303_transition_entropy",
      (s, dir) => Markov.conditionalEntropy(t(s, dir, "events"),
          "user_id", "event_id", "event_type")
        .orderBy("state"),
      Some("""WITH tr AS (SELECT i, j, count(*) AS n_ij FROM (
             |    SELECT event_type AS j,
             |      lag(event_type) OVER (PARTITION BY user_id
             |        ORDER BY event_id) AS i
             |    FROM events)
             |  WHERE i IS NOT NULL GROUP BY 1, 2),
             |rws AS (SELECT i, n_ij,
             |    sum(n_ij) OVER (PARTITION BY i) AS n_i
             |  FROM tr),
             |hr AS (SELECT i AS state, max(n_i) AS n_out,
             |    sum(CAST(round(-(CAST(n_ij AS DOUBLE) /
             |      CAST(n_i AS DOUBLE)) * ln(CAST(n_ij AS DOUBLE) /
             |      CAST(n_i AS DOUBLE)) * 1000000000.0) AS BIGINT))
             |      AS h_row_n
             |  FROM rws GROUP BY 1),
             |tt AS (SELECT sum(n_out) AS nt FROM hr),
             |wtd AS (SELECT state, n_out, h_row_n,
             |    CAST(round(CAST(n_out AS DOUBLE) / CAST(nt AS DOUBLE) *
             |      (CAST(h_row_n AS DOUBLE) / 1000000000.0) *
             |      1000000000.0) AS BIGINT) AS w_n
             |  FROM hr CROSS JOIN tt),
             |hc AS (SELECT sum(w_n) AS hcn FROM wtd),
             |mg AS (SELECT sum(CAST(round(-(CAST(nj AS DOUBLE) /
             |      CAST(nt AS DOUBLE)) * ln(CAST(nj AS DOUBLE) /
             |      CAST(nt AS DOUBLE)) * 1000000000.0) AS BIGINT))
             |      AS hmn
             |  FROM (SELECT j, sum(n_ij) AS nj FROM tr GROUP BY 1)
             |  CROSS JOIN tt)
             |SELECT state, CAST(n_out AS BIGINT) AS n_out,
             |  round(CAST(h_row_n AS DOUBLE) / 1000000000.0, 4)
             |    AS h_row,
             |  round(CAST(hcn AS DOUBLE) / 1000000000.0, 4) AS h_cond,
             |  round(CAST(hmn AS DOUBLE) / 1000000000.0, 4)
             |    AS h_marginal,
             |  round((CAST(hmn AS DOUBLE) - CAST(hcn AS DOUBLE)) /
             |    1000000000.0, 4) + 0.0 AS info_gain
             |FROM wtd CROSS JOIN hc CROSS JOIN mg
             |ORDER BY state""".stripMargin)),

    // Tokenizer fertility by source (Bpe.train ∘ tokenCount): chars
    // per BPE token under the q106-trained vocab, per slice — the
    // "how expensive is this source to tokenize" readout that drives
    // per-domain token budgeting (high fertility = vocab mismatch).
    QueryDef("q304_bpe_fertility",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val rules = Bpe.train(docs, "text", merges = 6)
          .select("left", "right").collect()
          .map(r => (r.getString(0), r.getString(1))).toSeq
        docs.select(col("source"), length(col("text")).as("chars"),
            TextAnalysis.tokenCount(col("text")).cast("long").as("ws"),
            Bpe.tokenCount(col("text"), rules).as("bpe"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum("chars").as("n_chars"), sum("ws").as("n_ws_tokens"),
            sum("bpe").as("n_bpe_tokens"))
          .withColumn("fertility_bpe",
            round(col("n_chars").cast("double") /
              col("n_bpe_tokens").cast("double"), 4))
          .withColumn("bpe_per_word",
            round(col("n_bpe_tokens").cast("double") /
              col("n_ws_tokens").cast("double"), 4))
          .orderBy("source")
      },
      Some(s"""WITH ${bpeTrainCtes(6)},
             |${bpeEncodeCtes(6)}
             |SELECT d.source, count(*) AS n_docs,
             |  CAST(sum(length(d.text)) AS BIGINT) AS n_chars,
             |  CAST(sum(len(list_filter(
             |    string_split_regex(d.text, ' +'), t -> t <> '')))
             |    AS BIGINT) AS n_ws_tokens,
             |  CAST(sum(coalesce(b.n_tokens_bpe, 0)) AS BIGINT)
             |    AS n_bpe_tokens,
             |  round(CAST(sum(length(d.text)) AS DOUBLE) /
             |    CAST(sum(coalesce(b.n_tokens_bpe, 0)) AS DOUBLE), 4)
             |    AS fertility_bpe,
             |  round(CAST(sum(coalesce(b.n_tokens_bpe, 0)) AS DOUBLE) /
             |    CAST(sum(len(list_filter(
             |      string_split_regex(d.text, ' +'), t -> t <> '')))
             |      AS DOUBLE), 4) AS bpe_per_word
             |FROM documents d LEFT JOIN bpec b USING (doc_id)
             |GROUP BY d.source ORDER BY d.source""".stripMargin)),

    // Trend + weekday-seasonal 7-day forecast: ŷ(d) = OLS trend +
    // per-dow mean residual — the closed-form forecaster composed
    // from q249's fit and q240's seasonal means, extrapolated one
    // week past the horizon. Deterministic: exact moments, snapped
    // residual means, fixed-shape arithmetic.
    QueryDef("q305_volume_forecast",
      (s, dir) => {
        val ev = t(s, dir, "events").withColumn("day",
          expr("unix_micros(cast(ts as timestamp)) div 86400000000"))
        val counted = ev.groupBy(col("event_type").as("g"),
            col("day").as("d"))
          .agg(count(lit(1)).as("x"))
        val grid = counted.groupBy("g")
          .agg(min("d").as("_lo"), max("d").as("_hi"))
          .select(col("g"), col("_hi"),
            explode(sequence(col("_lo"), col("_hi"))).as("d"))
        val daily = grid.join(counted, Seq("g", "d"), "left")
          .withColumn("x", coalesce(col("x"), lit(0L)))
          .transform(Pin.shared)
        def dd(c: String) = col(c).cast("double")
        val fit = daily.groupBy("g").agg(
            max("_hi").as("hi"), count(lit(1)).as("n"),
            sum("d").as("sx"), sum("x").as("sy"),
            sum(col("d") * col("d")).as("sxx"),
            sum(col("d") * col("x")).as("sxy"))
          .withColumn("b", (dd("n") * dd("sxy") - dd("sx") * dd("sy")) /
            (dd("n") * dd("sxx") - dd("sx") * dd("sx")))
          .withColumn("a", (dd("sy") - col("b") * dd("sx")) / dd("n"))
        val seas = daily.join(broadcast(fit.select("g", "a", "b")),
            Seq("g"))
          .withColumn("_r_u",
            round((col("x").cast("double") - col("a") -
              col("b") * col("d").cast("double")) * lit(1e6))
              .cast("long"))
          .withColumn("dow",
            (pmod(col("d") + lit(3L), lit(7L)) + lit(1L)).cast("int"))
          .groupBy("g", "dow")
          .agg(expr("CAST(round(CAST(sum(_r_u) AS DOUBLE) / " +
            "CAST(count(1) AS DOUBLE)) AS BIGINT)").as("seas_u"))
        val future = fit
          .select(col("g"), col("a"), col("b"),
            explode(sequence(lit(1), lit(7))).as("k"),
            (col("hi") + col("k").cast("long")).as("d"))
          .withColumn("dow",
            (pmod(col("d") + lit(3L), lit(7L)) + lit(1L)).cast("int"))
        future.join(seas, Seq("g", "dow"))
          .select(col("g"), col("d"), col("dow"),
            round(col("a") + col("b") * col("d").cast("double") +
              col("seas_u").cast("double") / lit(1e6), 2)
              .as("forecast"))
          .orderBy("g", "d")
      },
      Some("""WITH counted AS (
             |  SELECT event_type AS g, epoch_us(ts) // 86400000000 AS d,
             |    count(*) AS x
             |  FROM events GROUP BY 1, 2),
             |lims AS (SELECT g, min(d) AS lo, max(d) AS hi
             |  FROM counted GROUP BY 1),
             |grid AS (SELECT g, hi, unnest(generate_series(lo, hi)) AS d
             |  FROM lims),
             |daily AS (SELECT grid.g, grid.hi, grid.d,
             |    coalesce(x, 0) AS x
             |  FROM grid LEFT JOIN counted
             |    ON grid.g = counted.g AND grid.d = counted.d),
             |fit AS (SELECT g, max(hi) AS hi, count(*) AS n,
             |    sum(d) AS sx, sum(x) AS sy, sum(d * d) AS sxx,
             |    sum(d * x) AS sxy
             |  FROM daily GROUP BY 1),
             |ab AS (SELECT g, hi,
             |    (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
             |     CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             |    (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
             |     CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS b,
             |    (CAST(sy AS DOUBLE) -
             |     (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) -
             |      CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE)) /
             |     (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) -
             |      CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) *
             |     CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE) AS a
             |  FROM fit),
             |seas AS (SELECT daily.g,
             |    CAST((daily.d + 3) % 7 + 1 AS INT) AS dow,
             |    CAST(round(CAST(sum(CAST(round((CAST(x AS DOUBLE) - a -
             |      b * CAST(daily.d AS DOUBLE)) * 1000000.0) AS BIGINT))
             |      AS DOUBLE) / CAST(count(*) AS DOUBLE)) AS BIGINT)
             |      AS seas_u
             |  FROM daily JOIN ab ON daily.g = ab.g
             |  GROUP BY 1, 2),
             |future AS (SELECT ab.g, a, b, hi + k AS d,
             |    CAST((hi + k + 3) % 7 + 1 AS INT) AS dow
             |  FROM ab, (SELECT unnest(generate_series(1, 7)) AS k) kk)
             |SELECT future.g, d, future.dow,
             |  round(a + b * CAST(d AS DOUBLE) +
             |    CAST(seas_u AS DOUBLE) / 1000000.0, 2) AS forecast
             |FROM future JOIN seas
             |  ON future.g = seas.g AND future.dow = seas.dow
             |ORDER BY 1, 2""".stripMargin)),

    // Persisted IVF+SQ8 index (Similarity.buildIvfSq8Index +
    // ivfSq8TopKFromIndex over a cell_id-bucketed table): q150's
    // search served OPERATIONALLY — the codes index is written once
    // (Layout.writeBucketed on cell_id, the vector mirror of q93's
    // persisted MinHash band index), read back from storage, and
    // probed with no re-training, no re-quantization, and no
    // index-side exchange (plan-asserted in LayoutSpec). Oracle is
    // q150's verbatim: the stored-index path must reproduce the
    // build-inline path bit for bit.
    QueryDef("q306_ivf_sq8_from_index",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        // Round 14: codebook and codes probe the shared persisted
        // tables (ensureAnnIndex) instead of re-training per run.
        Similarity.ivfSq8TopKFromIndex(
          emb, emb.filter(col("vec_id").between(100, 104)),
          annCents(s, dir), annCodes(s, dir), "vec_id", "embedding",
          k = 3, nProbe = 2, shortlist = 20)
          .orderBy("query_id", "rank")
      },
      Some("WITH " + kmeansCtes(k = 8, iters = 2) + ",\n" +
        ivfSearchCtes("cent2", nProbe = 2, qLo = 100, qHi = 104) + ",\n" +
        ivfSq8Ctes("", shortlist = 20) + "\n" +
        """SELECT query_id, neighbor_id, "rank", round(cos, 4) + 0.0 AS cos
          |FROM sqranked WHERE "rank" <= 3
          |ORDER BY query_id, "rank"""".stripMargin)),

    // Baseline-JPEG pixel decode (Multimodal.contentFeatures through
    // the JDK's javax.imageio DCT decoder — the last image format off
    // the stub list; only the MP4 payload remains codec-bound). The
    // q149 oracle trick adapted to a LOSSY codec: fixture pixels are
    // constant per 8×8 block (MediaFixtures.jpegBytes), so every
    // block is DC-only, quality-1.0 quantization is exact, and the
    // round trip is bit-exact — the oracle recomputes the channel
    // means from the block formula without owning a decoder.
    QueryDef("q307_jpeg_decode",
      (s, dir) => {
        import s.implicits._
        val ids = t(s, dir, "documents")
          .select(col("doc_id").cast("long").as("id")).as[Long]
        val media = ids.map { id =>
          (id, MediaFixtures.jpegBytes(id, 16, 16), "image")
        }.toDF("id", "bytes", "media_type")
        Multimodal.contentFeatures(s, media).orderBy("id")
      },
      Some("""WITH bm AS (
             |  SELECT doc_id AS id,
             |    round(list_sum(list_transform(generate_series(0, 3),
             |      i -> (doc_id * 7 + 13 * (i % 2) + 29 * (i // 2))
             |        % 256)) / 4.0, 4) + 0.0 AS m
             |  FROM documents)
             |SELECT id, 'jpeg' AS kind, m AS f1, m AS f2, m AS f3
             |FROM bm ORDER BY id""".stripMargin)),

    // Persisted BM25 postings index (Retrieval.bm25Postings +
    // bm25TopKFromIndex): the FULL (term, doc, dl, tf) inverted index
    // written once, bucketed on term, beside the 1-row corpus-stats
    // table; probes prune the stored postings to the query's terms
    // (bucket pruning — the corpus is never re-tokenized) and score
    // identically to q69's inline path. Completes the persisted-index
    // triad: MinHash bands (q93), IVF+SQ8 codes (q306), lexical
    // postings (here). Oracle is q69's verbatim.
    QueryDef("q308_bm25_from_index",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Layout.replaceBucketed(s,
          Retrieval.bm25Postings(docs, "doc_id", "text"),
          "graft_bm25_postings", "term", buckets = 8)
        Layout.replaceTable(s,
          Retrieval.bm25CorpusStats(docs, "doc_id", "text"),
          "graft_bm25_stats")
        Retrieval.bm25TopKFromIndex(
          Layout.table(s, "graft_bm25_postings"),
          Layout.table(s, "graft_bm25_stats"), "doc_id",
          queryTerms = Seq("spark", "join", "stream"), k = 10)
      },
      Some("WITH " + bm25RankedCtes(10) + "\n" +
        """SELECT doc_id, "rank", round(score, 4) AS score
          |FROM lexr ORDER BY "rank"""".stripMargin)),

    // PII scan (ops/Pii.scan): the release-gate scrub every public-web
    // corpus runs — email / E.164 phone / IPv4 / payment-card
    // detection, cards additionally Luhn-checked as a pure HOF
    // expression (valid vs failed reported separately). The synthetic
    // corpus carries no PII, so the query PLANTS it deterministically
    // from doc_id (the q149 fixture discipline) and the oracle replays
    // both the planting and every detector — including the mod-10
    // doubling — from the same closed forms.
    QueryDef("q309_pii_scan",
      (s, dir) => Pii.scan(piiAugmented(t(s, dir, "documents")),
          "doc_id", "text")
        .orderBy("doc_id"),
      Some("WITH " + piiAugCte() + ",\n" + piiScanCtes + "\n" +
        """SELECT doc_id,
          |  CAST(len(em) AS INT) AS n_emails,
          |  CAST(len(ph) AS INT) AS n_phones,
          |  CAST(len(ip) AS INT) AS n_ipv4,
          |  CAST(len(cdv) AS INT) AS n_cards_valid,
          |  CAST(len(cd) - len(cdv) AS INT) AS n_cards_invalid,
          |  len(em) + len(ph) + len(ip) + len(cd) > 0 AS has_pii
          |FROM scl ORDER BY doc_id""".stripMargin)),

    // PII redaction + per-source release report (Pii.redact /
    // sourceReport): the data-card table — per source, how many docs
    // carry PII and of which classes — plus the closed-loop residual
    // column: re-scanning the REDACTED text must find zero remaining
    // hits, proven per source inside the same query rather than
    // asserted in prose.
    QueryDef("q310_pii_redact_report",
      (s, dir) => {
        val aug = piiAugmented(t(s, dir, "documents"))
        val report = Pii.sourceReport(
          Pii.scan(aug, "doc_id", "text"), aug, "doc_id", "source")
        val residual = Pii.scan(
            Pii.redact(aug, "text").select(
              col("doc_id"), col("source"), col("redacted")),
            "doc_id", "redacted")
          .join(aug.select("doc_id", "source"), "doc_id")
          .groupBy("source")
          .agg(sum(when(col("has_pii"), 1L).otherwise(0L))
            .as("residual_docs"))
        report.join(residual, "source").orderBy("source")
      },
      Some("WITH " + piiAugCte() + ",\n" + piiScanCtes + ",\n" +
        s"""red AS (SELECT doc_id, source,
           |    regexp_replace(regexp_replace(regexp_replace(
           |      regexp_replace(t, '${Pii.emailRe}', '[EMAIL]', 'g'),
           |      '${Pii.ipv4Re}', '[IP]', 'g'),
           |      '${Pii.phoneRe}', '[PHONE]', 'g'),
           |      '${Pii.cardRe}', '[CARD]', 'g') AS rt
           |  FROM aug),
           |resid AS (SELECT source,
           |    CAST(sum(CASE WHEN
           |      len(regexp_extract_all(rt, '${Pii.emailRe}')) +
           |      len(regexp_extract_all(rt, '${Pii.phoneRe}')) +
           |      len(regexp_extract_all(rt, '${Pii.ipv4Re}')) +
           |      len(regexp_extract_all(rt, '${Pii.cardRe}')) > 0
           |      THEN 1 ELSE 0 END) AS BIGINT) AS residual_docs
           |  FROM red GROUP BY 1),
           |rep AS (SELECT aug.source,
           |    count(*) AS n_docs,
           |    CAST(sum(CASE WHEN len(em) + len(ph) + len(ip) + len(cd)
           |      > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_docs_with_pii,
           |    CAST(sum(len(em)) AS BIGINT) AS emails,
           |    CAST(sum(len(ph)) AS BIGINT) AS phones,
           |    CAST(sum(len(ip)) AS BIGINT) AS ipv4s,
           |    CAST(sum(len(cdv)) AS BIGINT) AS cards_valid
           |  FROM scl JOIN aug USING (doc_id) GROUP BY 1)
           |SELECT rep.source, n_docs, n_docs_with_pii,
           |  round(CAST(n_docs_with_pii AS DOUBLE) /
           |    CAST(n_docs AS DOUBLE), 4) AS pii_rate,
           |  emails, phones, ipv4s, cards_valid, residual_docs
           |FROM rep JOIN resid ON rep.source = resid.source
           |ORDER BY rep.source""".stripMargin)),

    // Exact KNN-Shapley data valuation (ops/Valuation.knnShapley, Jia
    // et al. VLDB'19): the closed-form Shapley value of every training
    // vector for a 5-NN classifier over a 20-point validation sample —
    // rank-ordered indicator deltas, nano-snapped, suffix-summed. The
    // principled form of "which training examples help" that the DSIR
    // and quality-score tiers approximate; per-val values sum to the
    // K-NN utility by construction.
    QueryDef("q311_knn_shapley",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Valuation.knnShapley(
          emb.filter(!col("vec_id").between(100, 119)),
          emb.filter(col("vec_id").between(100, 119)),
          "vec_id", "embedding", "label", k = 5)
          .orderBy("vec_id")
      },
      Some(s"""WITH tr AS (SELECT vec_id AS tid, embedding AS tv,
             |    label AS tl
             |  FROM embeddings WHERE vec_id NOT BETWEEN 100 AND 119),
             |va AS (SELECT vec_id AS vid, embedding AS vv, label AS vl
             |  FROM embeddings WHERE vec_id BETWEEN 100 AND 119),
             |p AS (SELECT tid, tl, vid, vl,
             |    ${duckCos("tv", "vv")} AS c
             |  FROM tr CROSS JOIN va),
             |rk AS (SELECT *, row_number() OVER (PARTITION BY vid
             |      ORDER BY c DESC, tid) AS j,
             |    count(*) OVER (PARTITION BY vid) AS n FROM p),
             |iv AS (SELECT *, CASE WHEN tl = vl THEN 1 ELSE 0 END
             |    AS ind FROM rk),
             |ld AS (SELECT *, lead(ind) OVER (PARTITION BY vid
             |    ORDER BY j) AS indn FROM iv),
             |tm AS (SELECT vid, tid, tl, j, CAST(CASE WHEN j = n
             |    THEN round(1000000000.0 * CAST(ind AS DOUBLE) /
             |      CAST(n AS DOUBLE))
             |    ELSE round(1000000000.0 *
             |      (CAST(ind AS DOUBLE) - CAST(indn AS DOUBLE)) *
             |      CAST(least(5, j) AS DOUBLE) /
             |      (5.0 * CAST(j AS DOUBLE))) END AS BIGINT) AS tu
             |  FROM ld),
             |sx AS (SELECT vid, tid, tl, sum(tu) OVER (
             |    PARTITION BY vid ORDER BY j
             |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
             |    AS su FROM tm)
             |SELECT tid AS vec_id, tl AS label,
             |  count(*) AS n_val,
             |  round(CAST(sum(su) AS DOUBLE) /
             |    CAST(count(*) AS DOUBLE) / 1000000000.0, 6) AS value
             |FROM sx GROUP BY 1, 2 ORDER BY vec_id""".stripMargin)),

    // Homoglyph-skeleton dedup (ops/Homoglyph.dupGroups): the
    // exact-dedup evasion catch — every fourth document gets a spoofed
    // twin with Latin→Cyrillic confusables swapped in and a zero-width
    // space appended (invisible to md5 dedup, q25), and the TR39-style
    // skeleton (one translate pass: confusables→Latin exemplars,
    // invisibles deleted) groups each spoof back with its original.
    QueryDef("q312_homoglyph_dedup",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val spoof = docs.filter(col("doc_id") % 4 === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(translate(col("text"), "aeopcx", "аеорсх"),
              lit("\u200B")).as("text"))
        Homoglyph.dupGroups(docs.unionByName(spoof), "doc_id", "text")
          .orderBy("skeleton_hash")
      },
      Some(s"""WITH spoof AS (
             |  SELECT doc_id + 1000000 AS doc_id,
             |    translate(text, 'aeopcx', 'аеорсх') || '​' AS text
             |  FROM documents WHERE doc_id % 4 = 0),
             |allr AS (SELECT doc_id, text FROM documents
             |  UNION ALL SELECT doc_id, text FROM spoof),
             |sk AS (SELECT doc_id, md5(lower(translate(text,
             |    '${graft.ops.Homoglyph.fromChars}',
             |    '${graft.ops.Homoglyph.toChars}'))) AS skeleton_hash
             |  FROM allr)
             |SELECT skeleton_hash, count(*) AS n,
             |  min(doc_id) AS min_id, max(doc_id) AS max_id
             |FROM sk GROUP BY 1 HAVING count(*) >= 2
             |ORDER BY skeleton_hash""".stripMargin)),

    // WAV periodicity by exact integer autocorrelation
    // (Multimodal.wavPeriodicity): R(L) = Σ s_k·s_{k+L} over int16
    // samples, argmax lag in [2, 16] (ties to the smallest), R/R(0)
    // normalization — pitch detection with no codec and no floating
    // transform, so the oracle replays every product from the
    // closed-form square-wave fixture (period 4 + 2·(id mod 6)).
    QueryDef("q313_wav_periodicity",
      (s, dir) => {
        import s.implicits._
        val ids = t(s, dir, "documents")
          .select(col("doc_id").cast("long").as("id")).as[Long]
        val media = ids.map(id =>
          (id, MediaFixtures.wavBytes(id, 64), "audio"))
          .toDF("id", "bytes", "media_type")
        Multimodal.wavPeriodicity(s, media, maxLag = 16).orderBy("id")
      },
      Some("""WITH w AS (SELECT doc_id AS id,
             |    4 + 2 * (doc_id % 6) AS p,
             |    1000 + 500 * (doc_id % 7) AS a
             |  FROM documents),
             |sm AS (SELECT id, list_transform(generate_series(0, 63),
             |    k -> CASE WHEN (k % p) * 2 < p THEN a ELSE -a END)
             |    AS s
             |  FROM w),
             |r0 AS (SELECT id,
             |    list_sum(list_transform(s, x -> x * x)) AS r0 FROM sm),
             |lg AS (SELECT unnest(generate_series(2, 16)) AS l),
             |rl AS (SELECT id, l,
             |    list_sum(list_transform(generate_series(1, 64 - l),
             |      j -> s[j] * s[j + l])) AS r
             |  FROM sm CROSS JOIN lg),
             |best AS (SELECT id, l, r, row_number() OVER (
             |    PARTITION BY id ORDER BY r DESC, l) AS rk FROM rl)
             |SELECT best.id, 'wav' AS kind, CAST(l AS INT) AS best_lag,
             |  round(CAST(r AS DOUBLE) / CAST(r0.r0 AS DOUBLE), 4) + 0.0
             |    AS periodicity
             |FROM best JOIN r0 USING (id) WHERE rk = 1
             |ORDER BY id""".stripMargin)),

    // Graded ranking evaluation (Retrieval.rankingEval): nDCG@10 and
    // MRR for the q69 BM25 run against the derived term-coverage
    // relevance oracle — the metric layer every IR system reports,
    // with nano-snapped DCG terms and the ideal ordering as a
    // TakeOrderedAndProject (never a corpus-wide window).
    QueryDef("q314_ranking_eval",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val terms = Seq("spark", "join", "stream")
        Retrieval.rankingEval(docs,
          Retrieval.bm25TopK(docs, "doc_id", "text", terms, k = 10),
          "doc_id", "text", terms, k = 10)
      },
      Some("WITH " + bm25RankedCtes(10) + ",\n" +
        """grade AS (SELECT tk.doc_id,
          |    CAST(len(list_intersect(list_distinct(tk),
          |      ['spark', 'join', 'stream'])) AS INT) AS grade
          |  FROM tk),
          |rdcg AS (SELECT
          |    coalesce(sum(CAST(round(1000000000.0 *
          |      (pow(2.0, CAST(grade AS DOUBLE)) - 1.0) /
          |      (ln(CAST("rank" AS DOUBLE) + 1.0) / ln(2.0)))
          |      AS BIGINT)), 0) AS dcg_u,
          |    coalesce(max(CASE WHEN grade > 0 THEN
          |      CAST(round(1000000000.0 / CAST("rank" AS DOUBLE))
          |        AS BIGINT) END), 0) AS rr_u
          |  FROM lexr JOIN grade USING (doc_id)),
          |ideal AS (SELECT grade, row_number() OVER (
          |    ORDER BY grade DESC, doc_id) AS irank
          |  FROM (SELECT doc_id, grade FROM grade WHERE grade > 0
          |        ORDER BY grade DESC, doc_id LIMIT 10)),
          |idcg AS (SELECT coalesce(sum(CAST(round(1000000000.0 *
          |      (pow(2.0, CAST(grade AS DOUBLE)) - 1.0) /
          |      (ln(CAST(irank AS DOUBLE) + 1.0) / ln(2.0)))
          |      AS BIGINT)), 0) AS idcg_u FROM ideal),
          |nrel AS (SELECT count(*) AS n_relevant FROM grade
          |  WHERE grade > 0)
          |SELECT 10 AS k, n_relevant,
          |  round(CAST(dcg_u AS DOUBLE) / 1000000000.0, 4) AS dcg,
          |  round(CAST(idcg_u AS DOUBLE) / 1000000000.0, 4) AS idcg,
          |  round(CASE WHEN idcg_u > 0 THEN CAST(dcg_u AS DOUBLE) /
          |    CAST(idcg_u AS DOUBLE) ELSE 0.0 END, 4) AS ndcg,
          |  round(CAST(rr_u AS DOUBLE) / 1000000000.0, 4) AS mrr
          |FROM nrel CROSS JOIN rdcg CROSS JOIN idcg""".stripMargin)),

    // IVF cell-occupancy report (over buildIvfSq8Index's assignment):
    // per-cell code counts, share, and the max/mean imbalance factor —
    // the operational metric that says when the frozen codebook has
    // drifted from the data and the q306 index needs a retrain (an
    // imbalanced index probes its hot cell at full fan-out).
    QueryDef("q315_ivf_occupancy",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val cents = Similarity.trainCentroids(
          emb, "vec_id", "embedding", k = 8, iters = 2)
        val occ = Similarity
          .buildIvfSq8Index(emb, cents, "vec_id", "embedding")
          .groupBy("cell_id").agg(count(lit(1)).as("n"))
        val tot = occ.agg(sum("n").as("_t"), count(lit(1)).as("_cells"),
          max("n").as("_mx"))
        occ.crossJoin(broadcast(tot))
          .select(col("cell_id"), col("n"),
            round(col("n").cast("double") / col("_t").cast("double"), 4)
              .as("share"),
            round(col("_mx").cast("double") * col("_cells").cast("double") /
              col("_t").cast("double"), 4).as("imbalance"))
          .orderBy("cell_id")
      },
      Some("WITH " + kmeansCtes(k = 8, iters = 2) + ",\n" +
        ivfSearchCtes("cent2", nProbe = 1, qLo = 0, qHi = -1) + ",\n" +
        """occ AS (SELECT cell_id, count(*) AS n FROM corpus GROUP BY 1),
          |tot AS (SELECT CAST(sum(n) AS BIGINT) AS t, count(*) AS cells,
          |    max(n) AS mx FROM occ)
          |SELECT cell_id, CAST(n AS BIGINT) AS n,
          |  round(CAST(n AS DOUBLE) / CAST(t AS DOUBLE), 4) AS share,
          |  round(CAST(mx AS DOUBLE) * CAST(cells AS DOUBLE) /
          |    CAST(t AS DOUBLE), 4) AS imbalance
          |FROM occ CROSS JOIN tot ORDER BY cell_id""".stripMargin)),

    // Kneser-Ney smoothed bigram NLL (LanguageModel.knBigramNll):
    // the Chen-Goodman benchmark smoothing — continuation counts as
    // the backoff distribution — trained on even doc_ids, scored on
    // odd, per language. Unscorable bigrams (P = 0) are counted, not
    // silently dropped; every -ln P is nano-snapped so the oracle
    // replays identical integers.
    QueryDef("q316_kneser_ney",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        LanguageModel.knBigramNll(
          docs.filter(col("doc_id") % 2 === 0),
          docs.filter(col("doc_id") % 2 === 1),
          "lang", "text", d = 0.75)
          .orderBy("lang")
      },
      Some("""WITH trtk AS (SELECT list_filter(
             |    string_split_regex(text, ' +'), t -> t <> '') AS tk
             |  FROM documents WHERE doc_id % 2 = 0),
             |trbg AS (SELECT tk[j - 1] AS prev, tk[j] AS cur FROM (
             |  SELECT tk, unnest(generate_series(2, len(tk))) AS j
             |  FROM trtk)),
             |bi AS (SELECT prev, cur, count(*) AS bcnt FROM trbg
             |  GROUP BY 1, 2),
             |ctx AS (SELECT prev, sum(bcnt) AS c1, count(*) AS n1fwd
             |  FROM bi GROUP BY 1),
             |cont AS (SELECT cur, count(*) AS ncont FROM bi GROUP BY 1),
             |bt AS (SELECT count(*) AS b FROM bi),
             |tetk AS (SELECT lang, list_filter(
             |    string_split_regex(text, ' +'), t -> t <> '') AS tk
             |  FROM documents WHERE doc_id % 2 = 1),
             |tebg AS (SELECT lang, tk[j - 1] AS prev, tk[j] AS cur
             |  FROM (SELECT lang, tk,
             |    unnest(generate_series(2, len(tk))) AS j FROM tetk)),
             |sc AS (SELECT lang,
             |    CASE WHEN c1 IS NOT NULL THEN
             |      greatest(CAST(coalesce(bcnt, 0) AS DOUBLE) - 0.75, 0.0)
             |        / CAST(c1 AS DOUBLE) +
             |      0.75 * CAST(n1fwd AS DOUBLE) / CAST(c1 AS DOUBLE) *
             |        (CAST(coalesce(ncont, 0) AS DOUBLE) /
             |         CAST(b AS DOUBLE))
             |    ELSE CAST(coalesce(ncont, 0) AS DOUBLE) /
             |      CAST(b AS DOUBLE) END AS p
             |  FROM tebg
             |  LEFT JOIN bi USING (prev, cur)
             |  LEFT JOIN ctx USING (prev)
             |  LEFT JOIN cont USING (cur)
             |  CROSS JOIN bt),
             |snl AS (SELECT lang, CASE WHEN p > 0 THEN
             |    CAST(round(-ln(p) * 1000000000.0) AS BIGINT) END AS nu
             |  FROM sc)
             |SELECT lang, count(*) AS n_bigrams,
             |  count(nu) AS n_scored,
             |  count(*) - count(nu) AS n_skipped,
             |  round(CAST(sum(nu) AS DOUBLE) / 1000000000.0 /
             |    CAST(count(nu) AS DOUBLE), 4) AS kn_nll
             |FROM snl GROUP BY 1 ORDER BY lang""".stripMargin)),

    // S-tier: XML sink + source round-trip (sources/Xml — Spark 4's
    // NATIVE xml data source, the spark-xml donation). Text crosses
    // the entity-escaping boundary (&, <, > in documents), so the
    // re-read aggregate hash-matching the oracle — which reads the
    // ORIGINAL parquet — proves escape/unescape and the declared
    // types survive the trip. Completes the boundary-format matrix:
    // CSV, JSONL, ORC, Excel, XML.
    QueryDef("q317_xml_roundtrip",
      (s, dir) => {
        val tmp = sys.props("java.io.tmpdir") + "/graft_xml_roundtrip"
        Xml.write(t(s, dir, "documents")
          .select("doc_id", "text", "lang", "source", "n_chars"), tmp)
        Xml.read(s, tmp, StructType.fromDDL(
            "doc_id BIGINT, text STRING, lang STRING, source STRING, " +
              "n_chars BIGINT"))
          .groupBy("lang", "source")
          .agg(count(lit(1)).as("n"),
            sum(length(col("text"))).as("chars"),
            sum("n_chars").as("n_chars_sum"))
          .orderBy("lang", "source")
      },
      Some("""SELECT lang, source, count(*) AS n,
             |  CAST(sum(length(text)) AS BIGINT) AS chars,
             |  CAST(sum(n_chars) AS BIGINT) AS n_chars_sum
             |FROM documents GROUP BY lang, source
             |ORDER BY lang, source""".stripMargin)),

    // Release manifest — the capstone composite over the round-12
    // governance tier, proving the ops compose into one data-card
    // row: raw count → exact-dup collapse (md5) → homoglyph-skeleton
    // collapse → near-dup cluster count (the q61 chain) → PII-bearing
    // docs (on the q309 planted fixture) → releasable keepers (one
    // min-id doc per near-dup cluster whose enriched text carries no
    // PII). Every stage reuses a proven operator and its proven
    // oracle CTEs; the manifest is where a real pipeline's stages
    // reconcile.
    QueryDef("q318_release_manifest",
      (s, dir) => {
        val full = t(s, dir, "documents").filter(col("doc_id") < 1000)
        val slice = full.select("doc_id", "text")
        val aug = piiAugmented(full)
        val pii = Pii.scan(aug, "doc_id", "text").transform(Pin.shared)
        // r13: probe the persisted cluster map (ensureNearDupIndex)
        // instead of re-running minhash + component iteration inline.
        val clusters = ndClusters(s, dir).transform(Pin.shared)
        val keepers = clusters.groupBy("component")
          .agg(min(col("doc_id")).as("doc_id"))
        val nRaw = slice.agg(count(lit(1)).as("n_raw"))
        val nExact = slice.agg(
          countDistinct(md5(col("text"))).as("n_exact_unique"))
        val nSkel = slice.agg(countDistinct(
          md5(Homoglyph.skeleton(col("text")))).as("n_skeleton_unique"))
        val nCl = clusters.agg(
          countDistinct(col("component")).as("n_clusters"))
        val nPii = pii.agg(sum(when(col("has_pii"), 1L).otherwise(0L))
          .as("n_pii_docs"))
        val nRel = keepers.join(pii, "doc_id")
          .where(!col("has_pii"))
          .agg(count(lit(1)).as("n_release_keepers"))
        nRaw.crossJoin(broadcast(nExact)).crossJoin(broadcast(nSkel))
          .crossJoin(broadcast(nCl)).crossJoin(broadcast(nPii))
          .crossJoin(broadcast(nRel))
      },
      Some("WITH RECURSIVE " + minhashVerifiedCtes + ",\n" +
        clusterChainCtes + ",\n" +
        piiAugCte("doc_id < 1000") + ",\n" + piiScanCtes + ",\n" +
        s"""raw AS (SELECT count(*) AS n_raw FROM documents
           |  WHERE doc_id < 1000),
           |ex AS (SELECT count(DISTINCT md5(text)) AS n_exact_unique
           |  FROM documents WHERE doc_id < 1000),
           |skx AS (SELECT count(DISTINCT md5(lower(translate(text,
           |    '${graft.ops.Homoglyph.fromChars}',
           |    '${graft.ops.Homoglyph.toChars}'))))
           |    AS n_skeleton_unique
           |  FROM documents WHERE doc_id < 1000),
           |ncl AS (SELECT count(DISTINCT component) AS n_clusters
           |  FROM comp),
           |keepers AS (SELECT component, min(id) AS doc_id FROM comp
           |  GROUP BY 1),
           |piid AS (SELECT CAST(sum(CASE WHEN
           |    len(em) + len(ph) + len(ip) + len(cd) > 0
           |    THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_docs FROM scl),
           |rel AS (SELECT count(*) AS n_release_keepers
           |  FROM keepers JOIN scl USING (doc_id)
           |  WHERE len(em) + len(ph) + len(ip) + len(cd) = 0)
           |SELECT n_raw, n_exact_unique, n_skeleton_unique, n_clusters,
           |  n_pii_docs, n_release_keepers
           |FROM raw CROSS JOIN ex CROSS JOIN skx CROSS JOIN ncl
           |CROSS JOIN piid CROSS JOIN rel""".stripMargin)),

    // Multi-source BFS contamination radius (Components.bfsDistance):
    // hop-distance rings around flagged seed documents over the
    // near-dup graph — membership says WHETHER a doc links to a seed,
    // hops says HOW CLOSE (delta-frontier rounds, one edges⋈frontier
    // shuffle each, unreachable docs reported as a null ring rather
    // than dropped). The oracle unrolls the same three frontiers.
    QueryDef("q319_bfs_contamination",
      (s, dir) => {
        val slice = t(s, dir, "documents")
          .filter(col("doc_id") < 1000).select("doc_id", "text")
        // probes the shared persisted pairs table (same slice +
        // parameters as ensureNearDupIndex) instead of re-running
        // minhash per invocation (round 14, the q372 pattern)
        val pairs = ndPairs(s, dir)
        Components.bfsDistance(slice, "doc_id", pairs, "id_a", "id_b",
            slice.filter(col("doc_id") % 100 === 0).select("doc_id"),
            maxHops = 3)
          .groupBy("hops").agg(count(lit(1)).as("n"))
          .orderBy(col("hops").asc_nulls_first)
      },
      Some("WITH " + minhashVerifiedCtes + ",\n" + pairsEdgesCtes + ",\n" +
        """d0 AS (SELECT DISTINCT doc_id AS id FROM documents
          |  WHERE doc_id < 1000 AND doc_id % 100 = 0),
          |f1 AS (SELECT DISTINCT e.dst AS id FROM edges e
          |  JOIN d0 ON e.src = d0.id
          |  WHERE e.dst NOT IN (SELECT id FROM d0)),
          |s1 AS (SELECT id FROM d0 UNION ALL SELECT id FROM f1),
          |f2 AS (SELECT DISTINCT e.dst AS id FROM edges e
          |  JOIN f1 ON e.src = f1.id
          |  WHERE e.dst NOT IN (SELECT id FROM s1)),
          |s2 AS (SELECT id FROM s1 UNION ALL SELECT id FROM f2),
          |f3 AS (SELECT DISTINCT e.dst AS id FROM edges e
          |  JOIN f2 ON e.src = f2.id
          |  WHERE e.dst NOT IN (SELECT id FROM s2)),
          |hopped AS (SELECT id, 0 AS hops FROM d0
          |  UNION ALL SELECT id, 1 FROM f1
          |  UNION ALL SELECT id, 2 FROM f2
          |  UNION ALL SELECT id, 3 FROM f3),
          |alln AS (SELECT doc_id AS id FROM documents
          |  WHERE doc_id < 1000)
          |SELECT CAST(hops AS INT) AS hops, count(*) AS n
          |FROM alln LEFT JOIN hopped USING (id)
          |GROUP BY 1 ORDER BY hops NULLS FIRST""".stripMargin)),

    // Isotonic calibration of the k-NN reliability diagram
    // (Isotonic.calibrate over q277's vote bins): PAV via its
    // closed-form minimax identity — interval averages from integer
    // prefix sums over the bounded bin frame, max-of-min per bin —
    // giving the monotone probability corrector (Zadrozny-Elkan)
    // without a sequential scan in either engine.
    QueryDef("q320_isotonic_calibration",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        val pred = Similarity.knnPredict(emb,
          emb.filter(col("vec_id") < 200), "vec_id", "embedding",
          "label", k = 5)
        val bins = pred.groupBy("n_votes").agg(
          sum(when(col("pred_label") === col("true_label"), 1L)
            .otherwise(0L)).as("n_correct"),
          count(lit(1)).as("n"))
        Isotonic.calibrate(bins, "n_votes", "n_correct", "n")
          .orderBy("n_votes")
      },
      Some("WITH " + knnCtes(200, 5) + ",\n" +
        """bins AS (SELECT n_votes, count(*) AS n,
          |    sum(CASE WHEN pred = t_label THEN 1 ELSE 0 END)
          |      AS n_correct
          |  FROM knp GROUP BY 1),
          |pre AS (SELECT CAST(n_votes AS DOUBLE) AS x,
          |    n_correct AS s, n AS t,
          |    row_number() OVER (ORDER BY n_votes) AS i,
          |    sum(n_correct) OVER (ORDER BY n_votes) AS cs,
          |    sum(n) OVER (ORDER BY n_votes) AS ct
          |  FROM bins),
          |iv AS (SELECT pj.i AS j, pk.i AS k,
          |    CAST(pk.cs - (pj.cs - pj.s) AS DOUBLE) /
          |    CAST(pk.ct - (pj.ct - pj.t) AS DOUBLE) AS iavg
          |  FROM pre pj JOIN pre pk ON pj.i <= pk.i),
          |mi AS (SELECT p.i, iv.j, min(iavg) AS m FROM pre p
          |  JOIN iv ON iv.j <= p.i AND iv.k >= p.i GROUP BY 1, 2),
          |ft AS (SELECT i, max(m) AS iso FROM mi GROUP BY 1)
          |SELECT x AS n_votes, CAST(t AS BIGINT) AS trials,
          |  round(CAST(s AS DOUBLE) / CAST(t AS DOUBLE), 6) AS rate,
          |  round(iso, 6) AS iso_rate
          |FROM pre JOIN ft USING (i) ORDER BY n_votes""".stripMargin))
  )
}
