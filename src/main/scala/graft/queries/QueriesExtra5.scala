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

/** Catalog section `extra5Defs` of the former monolithic GemQueries
  * (mechanical round-14 split; content unchanged).
  */
private[queries] object QueriesExtra5 {

  /** Round-13: mergeable HLL registers, sequential testing, product
    * quantization, coreset selection (q345+).
    */
  val defs: Seq[QueryDef] = Seq(

    // HyperLogLog distinct-token sketch (CardinalityEstimate
    // .hllReport, Flajolet 2007) per source, p=6 → 64 registers, with
    // the shard-merge law PROVEN in-query: the element-wise max of the
    // per-source register tables must equal the registers of the
    // ungrouped scan (merge_register_mismatches = 0) — the property
    // that lets a 1000-executor scan ship 64 longs per shard. The
    // exact distinct runs alongside so the estimator's error is
    // measured, not assumed (the q154 KMV discipline).
    QueryDef("q345_hll_distinct",
      (s, dir) => {
        val toks = t(s, dir, "documents").select(col("source"),
          explode(split(col("text"), " +")).as("token"))
          .where(col("token") =!= "")
        CardinalityEstimate.hllReport(toks, "source", "token", p = 6)
          .orderBy("source")
      },
      Some {
        import hllSql._
        s"""$hllCtes
           |ex AS (SELECT source, CAST(count(*) AS BIGINT) AS n_keys,
           |    CAST(count(DISTINCT token) AS BIGINT)
           |      AS n_distinct_exact
           |  FROM tok GROUP BY 1),
           |mrr AS (SELECT b, max(m) AS m FROM rr GROUP BY 1),
           |grr AS (SELECT h % 64 AS b, max($rho) AS m
           |  FROM hh GROUP BY 1),
           |mm AS (SELECT CAST(coalesce(sum(CASE WHEN mrr.m IS NULL
           |      OR grr.m IS NULL OR mrr.m <> grr.m THEN 1 ELSE 0
           |      END), 0) AS BIGINT) AS merge_register_mismatches
           |  FROM mrr FULL JOIN grr USING (b)),
           |$mergedEstCtes
           |SELECT ex.source, n_keys, n_distinct_exact, registers_used,
           |  zeros, sum_scaled, round(raw, 2) AS hll_raw,
           |  round(e, 2) AS hll_est,
           |  CAST(round((e / CAST(n_distinct_exact AS DOUBLE) - 1.0)
           |    * 1000000.0) AS BIGINT) AS err_ppm,
           |  merged_est, merge_register_mismatches
           |FROM ex JOIN est2 USING (source), mest, mm
           |ORDER BY source""".stripMargin
      }),

    // Wald SPRT rollout monitor (SequentialTest.sprtMonitor, Wald
    // 1945): walk the event log in (ts, event_id) order accumulating
    // the exact integer micro-nat LLR of purchase-rate H1 p=0.25 vs
    // H0 p=0.15, stop at the first Wald boundary crossing — the
    // minimal-expected-sample test, with the saved fraction of the
    // horizon reported. Constants are rounded ONCE on the driver and
    // inlined in both engines, so the walk replays bit-for-bit.
    QueryDef("q346_sprt_monitor",
      (s, dir) => SequentialTest.sprtMonitor(
        t(s, dir, "events"), Seq("ts", "event_id"),
        col("event_type") === "purchase",
        p0 = 0.15, p1 = 0.25, alpha = 0.05, beta = 0.05),
      Some {
        val (a, b) = SequentialTest.llrMicroNats(0.15, 0.25)
        val (lower, upper) = SequentialTest.boundariesMicroNats(0.05, 0.05)
        s"""WITH e AS (SELECT ts, event_id,
           |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS x
           |  FROM events),
           |r AS (SELECT x, row_number() OVER (ORDER BY ts, event_id)
           |      AS rk,
           |    CAST(x * $a + (1 - x) * ($b) AS BIGINT) AS llr
           |  FROM e),
           |c AS (SELECT rk, CAST(sum(llr) OVER (ORDER BY rk
           |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum
           |  FROM r),
           |fx AS (SELECT CAST(rk AS BIGINT) AS crossing_n,
           |    cum AS llr_at_crossing_micro
           |  FROM c WHERE cum >= $upper OR cum <= $lower
           |  ORDER BY rk LIMIT 1),
           |tot AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |    CAST(sum(x) AS BIGINT) AS n_success,
           |    CAST(sum(llr) AS BIGINT) AS llr_final_micro
           |  FROM r)
           |SELECT n, n_success,
           |  (n_success * 1000000) // n AS success_rate_ppm,
           |  llr_final_micro,
           |  CAST($lower AS BIGINT) AS lower_micro,
           |  CAST($upper AS BIGINT) AS upper_micro,
           |  crossing_n, llr_at_crossing_micro,
           |  CASE WHEN llr_at_crossing_micro >= $upper
           |      THEN 'accept_h1'
           |    WHEN llr_at_crossing_micro <= $lower THEN 'accept_h0'
           |    ELSE 'continue' END AS decision,
           |  CASE WHEN crossing_n IS NOT NULL
           |    THEN ((n - crossing_n) * 1000000) // n
           |    ELSE 0 END AS savings_ppm
           |FROM tot LEFT JOIN fx ON TRUE""".stripMargin
      }),

    // Product-quantization ADC search (Pq.adcTopK, Jégou TPAMI'11):
    // m=4 subspaces × ks=8 centroids trained with 2 deterministic
    // Lloyd rounds (the q65 discipline, L2 metric), corpus stored as
    // 4 codes/vector, queries answered by asymmetric distance — each
    // (query, sub, cell) distance snapped to integer micro-units ONCE
    // so candidate distances are exact order-free integer sums — with
    // recall@10 measured against the exact L2 top-10. The memory tier
    // below q150's SQ8: 64-dim floats become 4 codes.
    QueryDef("q347_pq_adc_search",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Pq.adcTopK(emb, emb.filter(col("vec_id").between(100, 104)),
          "vec_id", "embedding", m = 4, subDim = 16, ks = 8,
          iters = 2, k = 10)
          .orderBy("query_id", "rank")
      },
      Some("WITH " + pqCtes(m = 4, subDim = 16, ks = 8, iters = 2) + ",\n" +
        s"""pcodes AS (
           |  SELECT vec_id, sub, cell_id AS code FROM (
           |    SELECT s.vec_id, s.sub, c.cell_id,
           |      row_number() OVER (PARTITION BY s.vec_id, s.sub
           |        ORDER BY ${duckDist2("s.v", "c.centvec")} ASC,
           |          c.cell_id) AS rn
           |    FROM psv s JOIN pcent2 c ON s.sub = c.sub)
           |  WHERE rn = 1),
           |pqt AS (
           |  SELECT q.vec_id AS query_id, c.sub, c.cell_id AS code,
           |    CAST(round(${duckDist2("q.v", "c.centvec")}
           |      * 1000000.0) AS BIGINT) AS tm
           |  FROM (SELECT * FROM psv
           |        WHERE vec_id BETWEEN 100 AND 104) q
           |  JOIN pcent2 c ON q.sub = c.sub),
           |papprox AS (
           |  SELECT query_id, neighbor_id, adc_micro,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY adc_micro ASC, neighbor_id ASC) AS "rank"
           |  FROM (SELECT t.query_id, k.vec_id AS neighbor_id,
           |      CAST(sum(t.tm) AS BIGINT) AS adc_micro
           |    FROM pcodes k
           |    JOIN pqt t ON k.sub = t.sub AND k.code = t.code
           |    WHERE k.vec_id <> t.query_id
           |    GROUP BY 1, 2)),
           |ptop AS (SELECT * FROM papprox WHERE "rank" <= 10),
           |pexact AS (
           |  SELECT query_id, neighbor_id FROM (
           |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY CAST(round(
           |          ${duckDist2("e.embedding", "q.embedding")}
           |          * 1000000.0) AS BIGINT) ASC, e.vec_id) AS rn
           |    FROM embeddings e,
           |      (SELECT vec_id, embedding FROM embeddings
           |       WHERE vec_id BETWEEN 100 AND 104) q
           |    WHERE e.vec_id <> q.vec_id)
           |  WHERE rn <= 10),
           |prec AS (SELECT CAST(((SELECT count(*) FROM ptop a
           |      JOIN pexact e USING (query_id, neighbor_id))
           |    * 1000000) // ((SELECT count(DISTINCT query_id)
           |      FROM ptop) * 10) AS BIGINT) AS recall_ppm)
           |SELECT a.query_id, a."rank", a.neighbor_id, a.adc_micro,
           |  CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END
           |    AS exact_hit,
           |  recall_ppm
           |FROM ptop a LEFT JOIN pexact e
           |  USING (query_id, neighbor_id), prec
           |ORDER BY a.query_id, a."rank"""".stripMargin)
      ),

    // Greedy k-center coreset (Coreset.kCenter, Gonzalez 1985): the
    // 8 maximally-diverse embedding rows — farthest-point selection
    // with integer-micro L2² distances and hash-seeded start, the
    // annotation-batch / cluster-seed picker. Selection order is the
    // output (prefixes are themselves greedy solutions) and the final
    // coverage radius (the 2-approximated k-center objective) is
    // audited over the full frame.
    QueryDef("q348_kcenter_coreset",
      (s, dir) => Coreset.kCenter(
        t(s, dir, "embeddings"), "vec_id", "embedding", k = 8)
        .orderBy("rank"),
      Some {
        val k = 8
        val d2 = "CAST(round(" + duckDist2("e.embedding", "c.embedding") +
          " * 1000000.0) AS BIGINT)"
        val seed =
          s"""kcseed AS (SELECT vec_id FROM (SELECT vec_id,
             |    ${Hashing.duckPortableHash("CAST(vec_id AS VARCHAR)")} AS h
             |  FROM embeddings ORDER BY h, vec_id LIMIT 1)),
             |kcc0 AS (SELECT vec_id, 0 AS "rank",
             |    CAST(NULL AS BIGINT) AS gain_micro FROM kcseed)""".stripMargin
        val steps = (1 until k).map { i =>
          // MATERIALIZED: each kcc is referenced 3× by the next step
          // (two membership subqueries + the union) — inlined, the
          // chain goes exponential (the r12 btCtes lesson).
          s"""kcm$i AS MATERIALIZED (SELECT e.vec_id, min($d2) AS md
             |  FROM embeddings e, embeddings c
             |  WHERE c.vec_id IN (SELECT vec_id FROM kcc${i - 1})
             |    AND e.vec_id NOT IN (SELECT vec_id FROM kcc${i - 1})
             |  GROUP BY e.vec_id),
             |kcp$i AS MATERIALIZED (
             |  SELECT vec_id, $i AS "rank", md AS gain_micro
             |  FROM kcm$i ORDER BY md DESC, vec_id LIMIT 1),
             |kcc$i AS MATERIALIZED (SELECT * FROM kcc${i - 1}
             |  UNION ALL SELECT * FROM kcp$i)""".stripMargin
        }
        "WITH " + (seed +: steps).mkString(",\n") + ",\n" +
          s"""kcrad AS (SELECT max(md) AS coverage_radius_micro FROM (
             |    SELECT e.vec_id, min($d2) AS md
             |    FROM embeddings e, embeddings c
             |    WHERE c.vec_id IN (SELECT vec_id FROM kcc${k - 1})
             |    GROUP BY e.vec_id)),
             |kcn AS (SELECT CAST(count(*) AS BIGINT) AS n_points
             |  FROM embeddings)
             |SELECT "rank", vec_id, gain_micro, coverage_radius_micro,
             |  n_points
             |FROM kcc${k - 1}, kcrad, kcn ORDER BY "rank"""".stripMargin
      }),

    // LSH band-tuning table (Dedup.lshTuningTable): the S-curve
    // P(s) = 1 − (1 − s^r)^b for the four ways to spend a 64-hash
    // MinHash signature, with detection probability at the 0.8 dedup
    // threshold, false-positive / false-negative areas (the
    // shuffle-volume vs missed-dup tradeoff a band choice is made
    // on) and the curve midpoint — the planning dim behind q44/q61's
    // bands=8 choice. Powers are explicit multiplication chains and
    // P snaps to integer nanos per grid point, so both engines
    // produce identical integers.
    QueryDef("q349_lsh_tuning",
      (s, dir) => Dedup.lshTuningTable(s,
        configs = Seq((32, 2), (16, 4), (8, 8), (4, 16)),
        grid = 20, thresholdPermil = 800)
        .orderBy("rows_per_band"),
      Some {
        val grid = 20; val tIdx = 16
        val cfgs = Seq((32, 2), (16, 4), (8, 8), (4, 16))
        val parts = cfgs.map { case (b, r) =>
          val srChain = Seq.fill(r)("s").mkString(" * ")
          val qChain = Seq.fill(b)("onems").mkString(" * ")
          s"""SELECT $b AS bands, $r AS rows_per_band,
             |    ${b * r} AS k,
             |    max(CASE WHEN i = $tIdx THEN p_nano END)
             |      AS p_at_threshold_nano,
             |    CAST(sum(CASE WHEN i < $tIdx THEN p_nano ELSE 0 END)
             |      // $grid AS BIGINT) AS fp_area_nano,
             |    CAST(sum(CASE WHEN i >= $tIdx
             |        THEN 1000000000 - p_nano ELSE 0 END)
             |      // $grid AS BIGINT) AS fn_area_nano,
             |    CAST(min(CASE WHEN p_nano >= 500000000 THEN i END)
             |      * 1000 // $grid AS BIGINT) AS s50_permil
             |  FROM (
             |    SELECT i, CAST(round((1.0 - ($qChain))
             |        * 1000000000.0) AS BIGINT) AS p_nano
             |    FROM (
             |      SELECT i, 1.0 - ($srChain) AS onems
             |      FROM (SELECT i, CAST(i AS DOUBLE) / $grid.0 AS s
             |            FROM (SELECT unnest(generate_series(1,
             |              ${grid - 1})) AS i))))""".stripMargin
        }
        parts.mkString("", "\nUNION ALL\n", "\nORDER BY rows_per_band")
      }),

    // Active-learning batch selection (ActiveLearning
    // .uncertaintyBatch, Lewis & Gale '94 margin sampling): k-NN
    // classify every unlabeled pool vector against the labeled seed
    // set (vec_id < 100) and queue the 10 smallest-vote-margin rows
    // for annotation — the rows the current labels are least sure
    // about. Integer vote margins; the labeled side broadcasts, the
    // pool never shuffles beyond its per-row top-k.
    QueryDef("q350_active_learning",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        ActiveLearning.uncertaintyBatch(
          emb.where(col("vec_id") < 100),
          emb.where(col("vec_id") >= 100),
          "vec_id", "embedding", "label", k = 5, batch = 10)
          .orderBy("selection_rank")
      },
      Some(s"""WITH lab AS (SELECT vec_id AS lid, embedding AS lv,
             |    label AS lbl FROM embeddings WHERE vec_id < 100),
             |pool AS (SELECT vec_id AS pid, embedding AS pv
             |  FROM embeddings WHERE vec_id >= 100),
             |sc AS (SELECT pid, lid, lbl,
             |    ${duckCos("pv", "lv")} AS cos
             |  FROM pool, lab),
             |topk AS (SELECT pid, lbl FROM (
             |    SELECT pid, lbl, row_number() OVER (
             |      PARTITION BY pid ORDER BY cos DESC, lid ASC) AS rn
             |    FROM sc) WHERE rn <= 5),
             |v AS (SELECT pid, lbl, CAST(count(*) AS BIGINT) AS votes
             |  FROM topk GROUP BY 1, 2),
             |vr AS (SELECT pid, lbl, votes, row_number() OVER (
             |    PARTITION BY pid ORDER BY votes DESC, lbl ASC) AS r
             |  FROM v),
             |pp AS (SELECT pid,
             |    max(CASE WHEN r = 1 THEN lbl END) AS top_label,
             |    max(CASE WHEN r = 1 THEN votes END) AS top_votes,
             |    coalesce(max(CASE WHEN r = 2 THEN votes END),
             |      CAST(0 AS BIGINT)) AS second_votes
             |  FROM vr WHERE r <= 2 GROUP BY 1),
             |sel AS (SELECT pid, top_label, top_votes, second_votes,
             |    top_votes - second_votes AS margin
             |  FROM pp ORDER BY margin ASC, pid ASC LIMIT 10)
             |SELECT row_number() OVER (ORDER BY margin ASC, pid ASC)
             |    AS selection_rank,
             |  pid AS vec_id, top_label, top_votes, second_votes,
             |  margin
             |FROM sel ORDER BY selection_rank""".stripMargin)),

    // Seeded label spreading (Components.seededLabelSpread): plant
    // lang labels on every third doc, spread them 3 synchronous hops
    // over the 0.8-Jaccard near-dup graph — seeds clamped, unlabeled
    // docs adopt the modal labeled-neighbor label (ties smallest),
    // unreached docs stay null. The annotation amplifier: how far a
    // seed-label budget carries through duplication structure. The
    // adoption ROUND is emitted per doc, so the hop-by-hop frontier
    // is auditable.
    QueryDef("q351_label_spread",
      (s, dir) => {
        val slice = t(s, dir, "documents").filter(col("doc_id") < 1000)
        // probes the shared persisted pairs table (same slice +
        // parameters as ensureNearDupIndex) instead of re-running
        // minhash per invocation (round 14, the q372 pattern)
        val pairs = ndPairs(s, dir)
        val seeded = slice.select(col("doc_id"),
          when(col("doc_id") % 3L === 0L, col("lang")).as("seed_label"))
        Components.seededLabelSpread(seeded, "doc_id", "seed_label",
            pairs, "id_a", "id_b", rounds = 3)
          .orderBy("doc_id")
      },
      Some {
        val rounds = (1 to 3).map { r =>
          s"""sv$r AS (SELECT e.src AS id, l.lbl, count(*) AS c
             |  FROM edges e JOIN sl${r - 1} l ON l.id = e.dst
             |  WHERE l.lbl IS NOT NULL GROUP BY 1, 2),
             |sb$r AS (SELECT id, lbl AS cand FROM (
             |    SELECT id, lbl, row_number() OVER (PARTITION BY id
             |      ORDER BY c DESC, lbl) AS rk
             |    FROM sv$r) WHERE rk = 1),
             |sl$r AS MATERIALIZED (SELECT p.id,
             |    coalesce(p.lbl, b.cand) AS lbl,
             |    CASE WHEN p.lbl IS NULL AND b.cand IS NOT NULL
             |      THEN $r ELSE p.labeled_at END AS labeled_at
             |  FROM sl${r - 1} p LEFT JOIN sb$r b USING (id))"""
            .stripMargin
        }
        "WITH " + minhashVerifiedCtes + ",\n" + pairsEdgesCtes + ",\n" +
          """sl0 AS MATERIALIZED (SELECT doc_id AS id,
            |    CASE WHEN doc_id % 3 = 0 THEN lang END AS lbl,
            |    CASE WHEN doc_id % 3 = 0 THEN 0 END AS labeled_at
            |  FROM documents WHERE doc_id < 1000),""".stripMargin +
          "\n" + rounds.mkString(",\n") + "\n" +
          """SELECT id AS doc_id, lbl AS label,
            |  CAST(labeled_at AS INT) AS labeled_at,
            |  CASE WHEN labeled_at = 0 THEN 1 ELSE 0 END AS is_seed
            |FROM sl3 ORDER BY doc_id""".stripMargin
      }),

    // Matryoshka truncation audit (Quantize.matryoshkaRecall,
    // Kusupati '22): recall@10 of cosine search over the first
    // 8/16/32 embedding dims vs the full 64 — the dimensionality
    // half of the storage tradeoff next to q73's int8 and q347's PQ
    // codes. Exact integer recall; one broadcast-query pass per dim.
    QueryDef("q352_matryoshka_recall",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Quantize.matryoshkaRecall(emb,
          emb.filter(col("vec_id").between(100, 104)),
          "vec_id", "embedding", dims = Seq(8, 16, 32), k = 10)
          .orderBy("dim")
      },
      Some {
        def sliced(e: String, d: Int) = s"list_slice($e, 1, $d)"
        val dims = Seq(8, 16, 32)
        val perDim = dims.map { d =>
          s"""t$d AS (SELECT query_id, neighbor_id FROM (
             |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             |      row_number() OVER (PARTITION BY q.vec_id
             |        ORDER BY ${duckCos(sliced("e.embedding", d),
                       sliced("q.embedding", d))} DESC,
             |          e.vec_id) AS rn
             |    FROM embeddings e, fq q WHERE e.vec_id <> q.vec_id)
             |  WHERE rn <= 10),
             |r$d AS (SELECT $d AS dim,
             |    CAST(count(*) AS BIGINT) AS hits,
             |    (SELECT CAST(count(*) AS BIGINT) FROM fq)
             |      AS n_queries,
             |    CAST((count(*) * 1000000) //
             |      ((SELECT count(*) FROM fq) * 10) AS BIGINT)
             |      AS recall_ppm
             |  FROM t$d JOIN ffull USING (query_id, neighbor_id))"""
            .stripMargin
        }
        s"""WITH fq AS (SELECT vec_id, embedding FROM embeddings
           |  WHERE vec_id BETWEEN 100 AND 104),
           |ffull AS (SELECT query_id, neighbor_id FROM (
           |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${duckCos("e.embedding", "q.embedding")}
           |          DESC, e.vec_id) AS rn
           |    FROM embeddings e, fq q WHERE e.vec_id <> q.vec_id)
           |  WHERE rn <= 10),
           |""".stripMargin + perDim.mkString(",\n") + "\n" +
          dims.map(d => s"SELECT * FROM r$d").mkString("", "\nUNION ALL\n",
            "\nORDER BY dim")
      }),

    // Hard-negative mining (Contrastive.hardNegatives): for each of
    // the 10 anchor embeddings, the 5 most-similar OTHER-label
    // vectors (the negatives that move a contrastive loss), the
    // nearest same-label positive, and the margin-violation flag —
    // q109's random triplets pick easy negatives; this is the miner
    // that finds the hard ones.
    QueryDef("q353_hard_negatives",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Contrastive.hardNegatives(emb,
          emb.filter(col("vec_id") < 10),
          "vec_id", "embedding", "label", n = 5)
          .orderBy("anchor_id", "rank")
      },
      Some(s"""WITH ha AS (SELECT vec_id AS anchor_id, embedding AS av,
             |    label AS albl FROM embeddings WHERE vec_id < 10),
             |hsc AS (SELECT a.anchor_id, a.albl, e.vec_id AS cid,
             |    e.label AS clbl,
             |    ${duckCos("a.av", "e.embedding")} AS cos
             |  FROM embeddings e, ha a
             |  WHERE e.vec_id <> a.anchor_id),
             |hneg AS (SELECT anchor_id, albl AS anchor_label, "rank",
             |    cid AS neg_id, clbl AS neg_label,
             |    round(cos, 4) AS neg_cos
             |  FROM (SELECT anchor_id, albl, cid, clbl, cos,
             |      row_number() OVER (PARTITION BY anchor_id
             |        ORDER BY cos DESC, cid ASC) AS "rank"
             |    FROM hsc WHERE clbl <> albl)
             |  WHERE "rank" <= 5),
             |hpos AS (SELECT anchor_id, cid AS pos_id,
             |    round(cos, 4) AS pos_cos
             |  FROM (SELECT anchor_id, cid, cos,
             |      row_number() OVER (PARTITION BY anchor_id
             |        ORDER BY cos DESC, cid ASC) AS pr
             |    FROM hsc WHERE clbl = albl)
             |  WHERE pr = 1)
             |SELECT n.anchor_id, n.anchor_label, n."rank", n.neg_id,
             |  n.neg_label, n.neg_cos, p.pos_id, p.pos_cos,
             |  CASE WHEN p.pos_cos IS NOT NULL
             |      AND n.neg_cos >= p.pos_cos THEN 1 ELSE 0 END
             |    AS violation
             |FROM hneg n LEFT JOIN hpos p USING (anchor_id)
             |ORDER BY anchor_id, n."rank"""".stripMargin)),

    // IVF-PQ composite index (Pq.ivfPqTopK, the FAISS IVF8,PQ4
    // shape): a coarse 8-cell L2 quantizer (Pq.train with m=1 — both
    // levels share ONE verified Lloyd kernel) routes each query to
    // its 2 nearest cells, and only the PQ codes inside those cells
    // pay ADC. Recall@10 is judged against the exact L2 top-10 over
    // the FULL corpus, so probe misses count; n_candidates audits the
    // probe's selectivity.
    QueryDef("q354_ivfpq_search",
      (s, dir) => {
        val emb = t(s, dir, "embeddings")
        Pq.ivfPqTopK(emb, emb.filter(col("vec_id").between(100, 104)),
          "vec_id", "embedding", dim = 64, kCoarse = 8, nProbe = 2,
          m = 4, subDim = 16, ks = 8, iters = 2, k = 10)
          .orderBy("query_id", "rank")
      },
      Some("WITH " + pqCtes(1, 64, 8, 2, "c") + ",\n" +
        pqCtes(4, 16, 8, 2, "p") + ",\n" +
        s"""ccells AS (SELECT vec_id, cell_id AS cell FROM (
           |    SELECT s.vec_id, c.cell_id,
           |      row_number() OVER (PARTITION BY s.vec_id, s.sub
           |        ORDER BY ${duckDist2("s.v", "c.centvec")} ASC,
           |          c.cell_id) AS rn
           |    FROM csv s JOIN ccent2 c ON s.sub = c.sub)
           |  WHERE rn = 1),
           |pcodes AS (SELECT vec_id, sub, cell_id AS code FROM (
           |    SELECT s.vec_id, s.sub, c.cell_id,
           |      row_number() OVER (PARTITION BY s.vec_id, s.sub
           |        ORDER BY ${duckDist2("s.v", "c.centvec")} ASC,
           |          c.cell_id) AS rn
           |    FROM psv s JOIN pcent2 c ON s.sub = c.sub)
           |  WHERE rn = 1),
           |iprobe AS (SELECT query_id, cell FROM (
           |    SELECT q.vec_id AS query_id, c.cell_id AS cell,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY ${duckDist2("q.embedding", "c.centvec")}
           |          ASC, c.cell_id) AS rn
           |    FROM (SELECT vec_id, embedding FROM embeddings
           |          WHERE vec_id BETWEEN 100 AND 104) q
           |    JOIN ccent2 c ON c.sub = 0)
           |  WHERE rn <= 2),
           |iqt AS (SELECT s.vec_id AS query_id, s.sub,
           |    c.cell_id AS code,
           |    CAST(round(${duckDist2("s.v", "c.centvec")}
           |      * 1000000.0) AS BIGINT) AS tm
           |  FROM psv s JOIN pcent2 c ON s.sub = c.sub
           |  WHERE s.vec_id BETWEEN 100 AND 104),
           |iadm AS (SELECT pr.query_id, k.vec_id
           |  FROM ccells k JOIN iprobe pr ON k.cell = pr.cell
           |  WHERE k.vec_id <> pr.query_id),
           |inc AS (SELECT query_id,
           |    CAST(count(*) AS BIGINT) AS n_candidates
           |  FROM iadm GROUP BY 1),
           |iadc AS (SELECT a.query_id, a.vec_id AS neighbor_id,
           |    CAST(sum(t.tm) AS BIGINT) AS adc_micro
           |  FROM iadm a
           |  JOIN pcodes c2 ON c2.vec_id = a.vec_id
           |  JOIN iqt t ON t.query_id = a.query_id
           |    AND t.sub = c2.sub AND t.code = c2.code
           |  GROUP BY 1, 2),
           |itk AS (SELECT * FROM (
           |    SELECT query_id, neighbor_id, adc_micro,
           |      row_number() OVER (PARTITION BY query_id
           |        ORDER BY adc_micro ASC, neighbor_id ASC) AS "rank"
           |    FROM iadc) WHERE "rank" <= 10),
           |iexact AS (SELECT query_id, neighbor_id FROM (
           |    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           |      row_number() OVER (PARTITION BY q.vec_id
           |        ORDER BY CAST(round(
           |          ${duckDist2("e.embedding", "q.embedding")}
           |          * 1000000.0) AS BIGINT) ASC, e.vec_id) AS rn
           |    FROM embeddings e,
           |      (SELECT vec_id, embedding FROM embeddings
           |       WHERE vec_id BETWEEN 100 AND 104) q
           |    WHERE e.vec_id <> q.vec_id)
           |  WHERE rn <= 10),
           |irec AS (SELECT CAST(((SELECT count(*) FROM itk a
           |      JOIN iexact e USING (query_id, neighbor_id))
           |    * 1000000) // ((SELECT count(DISTINCT query_id)
           |      FROM itk) * 10) AS BIGINT) AS recall_ppm)
           |SELECT a.query_id, a."rank", a.neighbor_id, a.adc_micro,
           |  CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END
           |    AS exact_hit,
           |  n.n_candidates, recall_ppm
           |FROM itk a LEFT JOIN iexact e
           |  USING (query_id, neighbor_id)
           |JOIN inc n USING (query_id), irec
           |ORDER BY a.query_id, a."rank"""".stripMargin)
      ),

    // Exact two-sample KS (Drift.ksExact): src0-vs-src1 document
    // length distributions at full resolution — the sketch-free tier
    // above q257's binned KS, with D kept exact as the integer
    // max|cumA·nB − cumB·nA| over the value-distinct frame
    // (globalRowNumber + two prefixSum passes, never a single-task
    // window).
    QueryDef("q355_ks_exact",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Drift.ksExact(
          docs.where(col("source") === "src0").select(col("n_chars")),
          docs.where(col("source") === "src1").select(col("n_chars")),
          "n_chars")
      },
      Some("""WITH pool AS (
             |  SELECT v, CAST(sum(ca) AS BIGINT) AS na,
             |    CAST(sum(cb) AS BIGINT) AS nb
             |  FROM (
             |    SELECT n_chars AS v, 1 AS ca, 0 AS cb FROM documents
             |    WHERE source = 'src0' AND n_chars IS NOT NULL
             |    UNION ALL
             |    SELECT n_chars, 0, 1 FROM documents
             |    WHERE source = 'src1' AND n_chars IS NOT NULL)
             |  GROUP BY v),
             |cum AS (SELECT v,
             |    sum(na) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
             |      AS cuma,
             |    sum(nb) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING)
             |      AS cumb
             |  FROM pool),
             |tot AS (SELECT CAST(sum(na) AS BIGINT) AS n_a,
             |    CAST(sum(nb) AS BIGINT) AS n_b FROM pool),
             |ds AS (SELECT CAST(max(abs(cuma * n_b - cumb * n_a))
             |    AS BIGINT) AS d_star FROM cum, tot)
             |SELECT n_a, n_b, d_star,
             |  (d_star * 1000000) // (n_a * n_b) AS d_ppm,
             |  CAST(floor(CAST(d_star AS DOUBLE) /
             |    (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) *
             |    sqrt(CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE) /
             |      (CAST(n_a AS DOUBLE) + CAST(n_b AS DOUBLE))) *
             |    1000.0) AS BIGINT) AS lambda_milli
             |FROM ds, tot""".stripMargin)),

    // Dedup-threshold sensitivity sweep (the planning table BEHIND
    // q61's 0.8): candidate pairs are found ONCE at the loosest
    // threshold (the LSH candidate set does not depend on τ), then
    // the three clusterings run as ONE connected-components pass —
    // node ids are lifted into disjoint per-threshold planes
    // (τ·10⁷ + doc_id), so one iterative convergence covers all
    // thresholds instead of three sequential chains. At sf0.1 the
    // LSH pair search dominates (~10 s, the minhashNearDups band
    // join) so wall-clock is flat, but the iterative TAIL drops from
    // 3 chains of driver-synchronized rounds to 1 — the part that
    // matters at 100 TB, where every extra chain is another full set
    // of convergence shuffles. Pair counts, cluster counts and the
    // removed-doc fraction per τ: the aggressiveness-vs-loss curve a
    // dedup run is tuned on.
    QueryDef("q356_threshold_sweep",
      (s, dir) => {
        val slice = t(s, dir, "documents").filter(col("doc_id") < 1000)
        val pairs0 = Dedup.minhashNearDups(slice, "doc_id", "text",
          k = 64, bands = 8, threshold = 0.7).transform(Pin.shared)
        val taus = Seq(700, 800, 900)
        def lift(p: Int, c: Column): Column = lit(p.toLong) * 10000000L + c
        // ONE scan of the slice, exploded into the three threshold
        // planes (r20, VERDICT r19 item 5): the per-τ union scanned
        // documents once per threshold and tripled the plan subtree.
        val liftedNodes = slice.select(col("doc_id"),
            explode(typedlit(taus.map(_.toLong))).as("_tau"))
          .select((col("_tau") * 10000000L + col("doc_id")).as("doc_id"))
        val liftedPairs = taus.map(p =>
          pairs0.where(col("jaccard") >= p / 1000.0)
            .select(lift(p, col("id_a")).as("id_a"),
              lift(p, col("id_b")).as("id_b"))).reduce(_ unionByName _)
        val cl = Components.dedupClusters(liftedNodes, "doc_id",
            liftedPairs, "id_a", "id_b")
          .where(col("cluster_size") >= 2L)
          .withColumn("threshold_permil",
            expr("CAST(doc_id DIV 10000000L AS INT)"))
          .groupBy("threshold_permil")
          .agg(countDistinct("component").as("n_clusters"),
            count(lit(1)).as("n_docs_in_clusters"))
        // One conditional aggregate over the checkpointed pair frame
        // instead of three scans-plus-union (r20): same three counts
        // (coalesce keeps the empty-frame case at 0 like count did).
        val pcAggs = taus.map(p => coalesce(sum(when(
          col("jaccard") >= p / 1000.0, 1L).otherwise(0L)), lit(0L))
          .as(s"_n$p"))
        val pc = pairs0.agg(pcAggs.head, pcAggs.tail: _*)
          .select(expr(s"stack(${taus.size}, " +
            taus.map(p => s"$p, _n$p").mkString(", ") +
            ") AS (threshold_permil, n_pairs)"))
        val n = slice.agg(count(lit(1)).as("_n"))
        // LEFT join: a threshold whose clustering is empty still
        // reports its row (0 clusters), never vanishes.
        pc.join(cl, Seq("threshold_permil"), "left")
          .select(col("threshold_permil"), col("n_pairs"),
            coalesce(col("n_clusters"), lit(0L)).as("n_clusters"),
            coalesce(col("n_docs_in_clusters"), lit(0L))
              .as("n_docs_in_clusters"))
          .crossJoin(broadcast(n))
          .select(col("threshold_permil"), col("n_pairs"),
            col("n_clusters"), col("n_docs_in_clusters"),
            (col("n_docs_in_clusters") - col("n_clusters"))
              .as("n_removed"),
            expr("((n_docs_in_clusters - n_clusters) * 1000000)" +
              " DIV _n").as("removed_ppm"))
          .orderBy("threshold_permil")
      },
      Some {
        val chains = Seq(700 -> "t7", 800 -> "t8", 900 -> "t9")
        val rs = chains.map { case (p, f) =>
          val thr = s"0.${p / 100}"
          s"""r$f AS (SELECT $p AS threshold_permil,
             |    (SELECT CAST(count(*) AS BIGINT) FROM verified
             |     WHERE jaccard >= $thr) AS n_pairs,
             |    (SELECT CAST(count(*) AS BIGINT) FROM ${f}sizes
             |     WHERE cluster_size >= 2) AS n_clusters,
             |    (SELECT CAST(coalesce(sum(cluster_size), 0)
             |       AS BIGINT) FROM ${f}sizes
             |     WHERE cluster_size >= 2) AS n_docs_in_clusters)"""
            .stripMargin
        }
        "WITH RECURSIVE " + minhashVerifiedCtes + ",\n" +
          chains.map { case (p, f) =>
            clusterChainCtesAt(s"0.${p / 100}", f)
          }.mkString(",\n") + ",\n" +
          rs.mkString(",\n") + "\n" +
          """SELECT threshold_permil, n_pairs, n_clusters,
            |  n_docs_in_clusters,
            |  n_docs_in_clusters - n_clusters AS n_removed,
            |  ((n_docs_in_clusters - n_clusters) * 1000000) //
            |    (SELECT count(*) FROM toks) AS removed_ppm
            |FROM (SELECT * FROM rt7 UNION ALL SELECT * FROM rt8
            |      UNION ALL SELECT * FROM rt9)
            |ORDER BY threshold_permil""".stripMargin
      }),

    // Flesch readability per source (TextAnalysis.readability):
    // reading-ease + Flesch–Kincaid grade from three exact integer
    // run counts (words, [.!?]+ sentence runs floored at 1/doc,
    // [aeiouy]+ vowel-group syllables) summed map-side — the classic
    // difficulty signal beside q85's surface-ratio quality tiers.
    QueryDef("q357_readability",
      (s, dir) => TextAnalysis.readability(
        t(s, dir, "documents"), "source", "text")
        .orderBy("source"),
      Some("""WITH perdoc AS (
             |  SELECT source,
             |    CAST(len(list_filter(string_split_regex(text, ' +'),
             |      x -> x <> '')) AS BIGINT) AS w,
             |    greatest(CAST(len(regexp_extract_all(text, '[.!?]+'))
             |      AS BIGINT), 1) AS st,
             |    CAST(len(regexp_extract_all(lower(text), '[aeiouy]+'))
             |      AS BIGINT) AS y
             |  FROM documents),
             |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |    CAST(sum(w) AS BIGINT) AS words,
             |    CAST(sum(st) AS BIGINT) AS sentences,
             |    CAST(sum(y) AS BIGINT) AS syllables
             |  FROM perdoc GROUP BY 1)
             |SELECT source, n_docs, words, sentences, syllables,
             |  round(CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE),
             |    4) AS wps,
             |  CASE WHEN words > 0 THEN
             |    round(CAST(syllables AS DOUBLE) /
             |      CAST(words AS DOUBLE), 4) END AS spw,
             |  CASE WHEN words > 0 THEN round(206.835
             |    - 1.015 * (CAST(words AS DOUBLE) /
             |        CAST(sentences AS DOUBLE))
             |    - 84.6 * (CAST(syllables AS DOUBLE) /
             |        CAST(words AS DOUBLE)), 4) END AS flesch,
             |  CASE WHEN words > 0 THEN round(0.39
             |    * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
             |    + 11.8 * (CAST(syllables AS DOUBLE) /
             |        CAST(words AS DOUBLE))
             |    - 15.59, 4) END AS fk_grade
             |FROM g ORDER BY source""".stripMargin)),

    // HLL sketch as a PERSISTED index (the q306/q308 stored-index
    // tier for q345's registers): the per-(source, bucket) register
    // table is written once at build time, and the distinct-count
    // question — per source AND corpus-wide via register-max merge —
    // is answered from the stored 64-longs-per-source table without
    // re-reading a byte of raw text. The oracle recomputes from raw,
    // proving the index path loses nothing.
    QueryDef("q358_hll_from_index",
      (s, dir) => {
        val toks = t(s, dir, "documents").select(col("source"),
          explode(split(col("text"), " +")).as("token"))
          .where(col("token") =!= "")
        Layout.replaceTable(s,
          CardinalityEstimate.hllRegisters(toks, "source", "token",
            p = 6),
          "graft_hll_registers")
        CardinalityEstimate.hllFromRegisters(
          Layout.table(s, "graft_hll_registers"), "source", p = 6)
          .orderBy("source")
      },
      Some {
        import hllSql._
        s"""$hllCtes
           |mrr AS (SELECT b, max(m) AS m FROM rr GROUP BY 1),
           |$mergedEstCtes
           |SELECT source, registers_used, zeros, sum_scaled,
           |  round(e, 2) AS hll_est, merged_est
           |FROM est2, mest
           |ORDER BY source""".stripMargin
      }),

    // Exact grouped quantiles at scale (Rank.groupedQuantiles):
    // p50/p90/p99 of event value per event_type WITHOUT a skewed
    // per-group window — few-huge-groups is exactly where
    // Window.partitionBy(group) funnels each group through one task;
    // here ONE distributed range-partitioned sort ranks everything
    // and the order statistics are a broadcast semi-join on rank.
    // Exact disc (type-1) semantics, no sketch, no interpolation.
    QueryDef("q359_exact_quantiles",
      (s, dir) => Rank.groupedQuantiles(
        t(s, dir, "events"), "event_type", "value", "event_id",
        qsPermil = Seq(500, 900, 990))
        .orderBy("event_type", "q_permil"),
      Some("""WITH v AS (SELECT event_type, value, event_id
             |  FROM events WHERE value IS NOT NULL),
             |r AS (SELECT event_type, value, row_number() OVER (
             |    PARTITION BY event_type ORDER BY value, event_id)
             |      AS rk
             |  FROM v),
             |n AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n
             |  FROM v GROUP BY 1),
             |q AS (SELECT * FROM (VALUES (500), (900), (990))
             |  t(q_permil)),
             |w AS (SELECT n.event_type, q.q_permil, n.n,
             |    (q.q_permil * (n.n - 1)) // 1000 + 1 AS rk
             |  FROM n, q)
             |SELECT w.event_type, CAST(w.q_permil AS INT) AS q_permil,
             |  w.n, r.value
             |FROM w JOIN r ON r.event_type = w.event_type
             |  AND r.rk = w.rk
             |ORDER BY w.event_type, w.q_permil""".stripMargin)),

    // The persisted near-dup cluster map probed as a first-class
    // query (Components.writeClusterIndex + clustersFromIndex): q61's
    // clusters served from the doc_id-bucketed stored table — the
    // fourth index beside bands (q93), codes (q306), postings (q308).
    // The probe is a per-doc min resolve (exchange-free on the bucket
    // layout) + one size aggregate; no minhash fold, no component
    // iteration anywhere in the returned plan (LayoutSpec-asserted).
    // Oracle is q61's verbatim recursive chain: the stored-map path
    // must reproduce the inline path bit for bit.
    QueryDef("q360_clusters_from_index",
      (s, dir) => ndClusters(s, dir).orderBy("doc_id"),
      Some("WITH RECURSIVE " + minhashVerifiedCtes + ",\n" +
        clusterChainCtes + "\n" +
        """SELECT comp.id AS doc_id, comp.component, sizes.cluster_size
          |FROM comp JOIN sizes USING (component)
          |ORDER BY doc_id""".stripMargin)),

    // Incremental cluster maintenance on append
    // (Components.mergeClusterIndex): the corpus is split — the first
    // half builds the stored map, the second half arrives as an
    // INGEST BATCH whose pairs (batch-internal + batch↔corpus, same
    // banding) MERGE into the map via union-find over the touched
    // components only, appending relabel rows (labels only shrink, so
    // the min-resolve probe absorbs stale generations). The oracle is
    // the FULL-REBUILD chain over the whole slice: maintenance must
    // be indistinguishable from rebuilding — that equivalence is the
    // actual 100 TB dedup story, clusters surviving ingest without
    // ever re-pairing the corpus against itself.
    QueryDef("q361_cluster_merge",
      (s, dir) => {
        buildAndMergeClusterMap(s, dir, "graft_cluster_map_m")
        Components
          .clustersFromIndex(Layout.table(s, "graft_cluster_map_m"))
          .orderBy("doc_id")
      },
      Some("WITH RECURSIVE " + minhashVerifiedCtes + ",\n" +
        clusterChainCtes + "\n" +
        """SELECT comp.id AS doc_id, comp.component, sizes.cluster_size
          |FROM comp JOIN sizes USING (component)
          |ORDER BY doc_id""".stripMargin)),

    // Cluster-map generation compaction (Components
    // .compactClusterIndex): q361's build+merge leaves relabel
    // generations in the stored table (every probe min-resolves
    // them); compaction rewrites the table as the resolved
    // one-row-per-doc view on the same bucket layout. The query
    // compacts, AUDITS the row-per-doc invariant in-plan (n_rows,
    // n_docs, generations collapsed to equality), and returns the
    // probed clusters — which must STILL match the full-rebuild
    // oracle bit for bit. Plain Layout.compactBucketed cannot do
    // this (distinct keeps stale labels); the index-specific heal is
    // resolve-then-rewrite, which commutes with the probe.
    QueryDef("q362_cluster_compaction",
      (s, dir) => {
        buildAndMergeClusterMap(s, dir, "graft_cluster_map_c")
        Components.compactClusterIndex(s, "graft_cluster_map_c",
          buckets = 8)
        val idx = Layout.table(s, "graft_cluster_map_c")
        val audit = broadcast(idx.agg(
          count(lit(1)).as("n_rows"),
          countDistinct(col("doc_id")).as("n_docs")))
        Components.clustersFromIndex(idx)
          .crossJoin(audit)
          .orderBy("doc_id")
      },
      Some("WITH RECURSIVE " + minhashVerifiedCtes + ",\n" +
        clusterChainCtes + "\n" +
        """SELECT comp.id AS doc_id, comp.component, sizes.cluster_size,
          |  (SELECT count(*) FROM comp) AS n_rows,
          |  (SELECT count(*) FROM comp) AS n_docs
          |FROM comp JOIN sizes USING (component)
          |ORDER BY doc_id""".stripMargin)),

    // Persisted quantile-sketch index (Stats.histPartials +
    // histPercentilesFromIndex): per-(lang, shard) histogram partial
    // rows stored lang-bucketed; the probe folds shards with one
    // combinable integer sum — bit-identical to a single-pass build,
    // counts are sums — then answers q151's percentiles by the same
    // crossing interpolation WITHOUT touching a corpus row. The whole
    // probe (merge, cum window, crossing) rides the lang bucket
    // layout: hashpartitioning(lang) satisfies every stage's
    // clustering, so the stored path plans no index-side exchange.
    // Oracle is q151's analytic rebuild verbatim — shard-merge
    // exactness is the claim under test (the monitoring-index answer
    // a 100 TB pipeline serves instead of re-scanning data).
    QueryDef("q363_quantiles_from_index",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Layout.replaceBucketed(s,
          Stats.histPartials(
            docs.withColumn("shard", pmod(col("doc_id"), lit(4L))),
            "lang", "shard", "n_chars",
            lo = 0.0, hi = 1024.0, nbins = 256),
          "graft_hist_idx", "lang", buckets = 8)
        Stats.histPercentilesFromIndex(
          Layout.table(s, "graft_hist_idx"), "lang",
          lo = 0.0, hi = 1024.0, nbins = 256,
          ps = Seq(0.25, 0.5, 0.9, 0.99))
          .orderBy("lang", "p")
      },
      Some(nCharsHistPercentilesSql)),

    // Corpus ↔ index synchronization audit (Reconcile.indexSync) —
    // the operational health check incremental maintenance makes
    // necessary: the cluster map is built on the doc_id < 300 slice,
    // then audited against a DRIFTED corpus (docs 50–499: 300–499
    // appended but never ingested = missing; 0–49 deleted from the
    // corpus but still indexed = orphaned). Both sides dedup to doc
    // grain (the map may hold relabel generations), one full-outer
    // join + one combinable aggregate; the oracle recomputes the
    // same set algebra from the documents table — the index's
    // CONTENTS are its build slice's ids by construction.
    QueryDef("q364_index_sync",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val indexed = docs.filter(col("doc_id") < 300)
        val pairs = Dedup.minhashNearDups(indexed, "doc_id", "text",
          k = 64, bands = 8, threshold = 0.8)
        Components.writeClusterIndex(s, indexed, "doc_id", pairs,
          "id_a", "id_b", "graft_cluster_map_s", buckets = 8)
        val corpus = t(s, dir, "documents")
          .filter(col("doc_id") >= 50 && col("doc_id") < 500)
        Reconcile.indexSync(corpus, "doc_id",
          Layout.table(s, "graft_cluster_map_s"), "doc_id")
      },
      Some("""WITH c AS (SELECT DISTINCT doc_id FROM documents
             |  WHERE doc_id >= 50 AND doc_id < 500),
             |i AS (SELECT DISTINCT doc_id FROM documents
             |  WHERE doc_id < 300),
             |j AS (SELECT c.doc_id AS cid, i.doc_id AS iid
             |  FROM c FULL OUTER JOIN i ON c.doc_id = i.doc_id)
             |SELECT CAST(count(cid) AS BIGINT) AS n_corpus,
             |  CAST(count(iid) AS BIGINT) AS n_indexed,
             |  CAST(sum(CASE WHEN iid IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_missing,
             |  CAST(sum(CASE WHEN cid IS NULL THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_orphaned,
             |  CAST((count(cid) - sum(CASE WHEN iid IS NULL THEN 1
             |    ELSE 0 END)) * 1000000 // greatest(count(cid), 1)
             |    AS BIGINT) AS sync_ppm
             |FROM j""".stripMargin)),

    // Right-to-be-forgotten, closed loop (Layout.forgetKeys +
    // Reconcile.indexSync): deletion from a persisted index is only
    // DONE when an audit proves it. The cluster map is built on the
    // doc_id < 300 slice, every 50th doc is deleted from the CORPUS,
    // and the pre-forget audit shows them as orphaned index entries
    // (still probe-able — the residual risk); Layout.forgetKeys then
    // rewrites the index minus those keys and the post-forget audit
    // certifies zero orphans, zero missing. The pre row is pinned
    // (Pin.shared) BEFORE the forget mutates the table — the
    // lazy-evaluation trap every read-then-rewrite composition must
    // dodge. Oracle is pure set algebra on the documents table.
    QueryDef("q365_forget_audit",
      (s, dir) => {
        val docs = t(s, dir, "documents").select("doc_id", "text")
        val indexed = docs.filter(col("doc_id") < 300)
        // Round 14: the audit fixture is the doc_id < 300 MEMBERSHIP
        // slice of the persisted corpus cluster map — indexSync reads
        // membership only (labels ride along), so slicing the stored
        // index replaces the per-run minhash + component rebuild with
        // one bucket-layout copy of 300 rows.
        ensureNearDupIndex(s, dir)
        Layout.replaceBucketed(s,
          Layout.table(s, "graft_cluster_map")
            .filter(col("doc_id") < 300),
          "graft_cluster_map_f", "doc_id", buckets = 8)
        val deleted = indexed
          .filter(col("doc_id") % 50L === 0L).select("doc_id")
        val remaining = indexed
          .join(deleted, Seq("doc_id"), "left_anti")
        val pre = Reconcile.indexSync(remaining, "doc_id",
            Layout.table(s, "graft_cluster_map_f"), "doc_id")
          .withColumn("phase", lit("pre_forget"))
          .transform(Pin.shared)
        Layout.forgetKeys(s, "graft_cluster_map_f", "doc_id",
          "doc_id", deleted, buckets = 8)
        val post = Reconcile.indexSync(remaining, "doc_id",
            Layout.table(s, "graft_cluster_map_f"), "doc_id")
          .withColumn("phase", lit("post_forget"))
        pre.unionByName(post)
          .select("phase", "n_corpus", "n_indexed", "n_missing",
            "n_orphaned", "sync_ppm")
          .orderBy("phase")
      },
      Some("""WITH idx AS (SELECT DISTINCT doc_id FROM documents
             |  WHERE doc_id < 300),
             |d AS (SELECT count(*) AS nd FROM idx WHERE doc_id % 50 = 0),
             |r AS (SELECT count(*) AS nr FROM idx WHERE doc_id % 50 <> 0)
             |SELECT 'pre_forget' AS phase,
             |  CAST(nr AS BIGINT) AS n_corpus,
             |  CAST(nr + nd AS BIGINT) AS n_indexed,
             |  CAST(0 AS BIGINT) AS n_missing,
             |  CAST(nd AS BIGINT) AS n_orphaned,
             |  CAST(1000000 AS BIGINT) AS sync_ppm
             |FROM d, r
             |UNION ALL
             |SELECT 'post_forget', CAST(nr AS BIGINT),
             |  CAST(nr AS BIGINT), CAST(0 AS BIGINT),
             |  CAST(0 AS BIGINT), CAST(1000000 AS BIGINT)
             |FROM d, r
             |ORDER BY phase""".stripMargin)),

    // Mojibake (UTF-8-as-Latin-1) detection + bounded-table repair
    // (Encoding.signatureHits / repairCommon): damage is PLANTED on a
    // deterministic quarter of the corpus (the q333 pattern — both
    // engines corrupt identically, so detection/repair is checked on
    // known ground truth), then the audit reports per source how many
    // docs were flagged, total signature hits, how many docs still
    // carry signatures after repair (must be 0), and how many rows
    // exactly match the expected repaired text. Per-row scalar
    // expressions + one map-side-combinable groupBy — the hygiene
    // pass rides the corpus scan, no extra shuffle at any scale.
    QueryDef("q366_mojibake_repair",
      (s, dir) => {
        val hit = pmod(Hashing.portableHash(
          col("doc_id").cast("string")), lit(4)) === 0
        val planted = t(s, dir, "documents")
          .select(col("source"),
            when(hit, replace(
                replace(col("text"), lit(" the "), lit(" thÃ© ")),
                lit(" is "), lit(" â€™is ")))
              .otherwise(col("text")).as("corrupt"),
            when(hit, replace(
                replace(col("text"), lit(" the "), lit(" thé ")),
                lit(" is "), lit(" ’is ")))
              .otherwise(col("text")).as("expected"))
          .withColumn("sig", Encoding.signatureHits(col("corrupt")))
          .withColumn("fixed", Encoding.repairCommon(col("corrupt")))
          .withColumn("sig_after", Encoding.signatureHits(col("fixed")))
        planted.groupBy("source").agg(
            count(lit(1)).as("n_docs"),
            sum(when(col("sig") > 0, 1L).otherwise(0L)).as("n_flagged"),
            sum(col("sig")).as("sig_hits"),
            sum(when(col("sig_after") > 0, 1L).otherwise(0L))
              .as("n_dirty_after"),
            sum(when(col("fixed") === col("expected"), 1L).otherwise(0L))
              .as("n_restored"))
          .orderBy("source")
      },
      Some {
        val h = Hashing.duckPortableHash("CAST(doc_id AS VARCHAR)")
        def sig(c: String) = Encoding.signatures.map { case (k, _) =>
          s"(length($c) - length(replace($c, '$k', ''))) // ${k.length}"
        }.mkString("(", " + ", ")")
        val fix = Encoding.signatures.foldLeft("corrupt") {
          case (acc, (k, v)) => s"replace($acc, '$k', '$v')"
        }
        s"""WITH pl AS (
           |  SELECT source,
           |    CASE WHEN $h % 4 = 0 THEN replace(replace(text,
           |        ' the ', ' thÃ© '), ' is ', ' â€™is ')
           |      ELSE text END AS corrupt,
           |    CASE WHEN $h % 4 = 0 THEN replace(replace(text,
           |        ' the ', ' thé '), ' is ', ' ’is ')
           |      ELSE text END AS expected
           |  FROM documents),
           |rp AS (SELECT source, expected,
           |    ${sig("corrupt")} AS sig, $fix AS fixed
           |  FROM pl),
           |rp2 AS (SELECT source, expected, sig, fixed,
           |    ${sig("fixed")} AS sig_after
           |  FROM rp)
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(CASE WHEN sig > 0 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_flagged,
           |  CAST(sum(sig) AS BIGINT) AS sig_hits,
           |  CAST(sum(CASE WHEN sig_after > 0 THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_dirty_after,
           |  CAST(sum(CASE WHEN fixed = expected THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_restored
           |FROM rp2 GROUP BY source ORDER BY source""".stripMargin
      }),

    // INDEX-ONLY corpus health dashboard
    // (CorpusPipeline.healthFromIndexes): the nightly report a 100 TB
    // pipeline serves without touching a corpus row. The build half
    // persists four indexes on the governance slice (cluster map via
    // ensureNearDupIndex, doc_id-bucketed docstore dimension, HLL
    // register table, histogram partials); the RETURNED plan's only
    // leaves are those stored tables (LayoutSpec-asserted — no
    // testdata scan anywhere). Per source: doc counts + near-dup
    // exposure from the cluster map, distinct-token HLL estimate
    // (+ the merged all-source estimate, the register-max merge law),
    // p50/p90 length from the histogram sketch. Oracle recomputes all
    // three sketch families from the raw slice — index fidelity
    // end-to-end in one row-hash.
    QueryDef("q367_index_dashboard",
      (s, dir) => {
        ensureNearDupIndex(s, dir)
        val slice = t(s, dir, "documents").filter(col("doc_id") < 1000)
        Layout.replaceBucketed(s, slice.select("doc_id", "source"),
          "graft_dash_docstore", "doc_id", buckets = 8)
        val toks = slice.select(col("source"),
          explode(split(col("text"), " +")).as("token"))
          .where(col("token") =!= "")
        Layout.replaceTable(s,
          CardinalityEstimate.hllRegisters(toks, "source", "token",
            p = 6),
          "graft_dash_hll")
        Layout.replaceBucketed(s,
          Stats.histPartials(slice.withColumn("_shard", lit(0L)),
            "source", "_shard", "n_chars", lo = 0.0, hi = 1024.0,
            nbins = 256),
          "graft_dash_hist", "source", buckets = 8)
        // ONE manifest snapshot resolves all four indexes — a
        // mid-refresh reader cannot mix cluster-map v2 with HLL v1
        // (round-14 task 8; pinned in LayoutSpec).
        val snap = Layout.snapshot(s)
        CorpusPipeline.healthFromIndexes(
          snap.table("graft_cluster_map"),
          snap.table("graft_dash_docstore"),
          snap.table("graft_dash_hll"),
          snap.table("graft_dash_hist"),
          "source", p = 6, lo = 0.0, hi = 1024.0, nbins = 256)
          .orderBy("source")
      },
      Some {
        import hllSql._
        "WITH RECURSIVE " + minhashVerifiedCtes + ",\n" +
        clusterChainCtes + ",\n" +
        s"""sl AS (SELECT * FROM documents WHERE doc_id < 1000),
           |dup AS (SELECT d.source,
           |    CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(sum(CASE WHEN z.cluster_size > 1 THEN 1 ELSE 0
           |      END) AS BIGINT) AS n_dup_docs
           |  FROM comp c JOIN sizes z USING (component)
           |  JOIN sl d ON d.doc_id = c.id
           |  GROUP BY 1),
           |tok AS (SELECT source, unnest(list_filter(
           |    string_split_regex(text, ' +'), t -> t <> '')) AS token
           |  FROM sl),
           |hh AS (SELECT source, token, $h AS h FROM tok),
           |rr AS (SELECT source, h % 64 AS b, max($rho) AS m
           |  FROM hh GROUP BY 1, 2),
           |sg AS (SELECT source,
           |    CAST(count(*) AS BIGINT) AS ru,
           |    64 - CAST(count(*) AS BIGINT) AS zeros,
           |    CAST(sum(CAST(1 AS BIGINT) << CAST(55 - m AS INT))
           |      AS BIGINT) +
           |      (64 - CAST(count(*) AS BIGINT)) * $two55 AS ss
           |  FROM rr GROUP BY 1),
           |est AS (SELECT source, round(CASE WHEN raw <= 2.5 * 64.0
           |      AND zeros > 0
           |      THEN 64.0 * ln(64.0 / CAST(zeros AS DOUBLE))
           |      ELSE raw END, 2) AS distinct_tokens_est
           |  FROM (SELECT source, zeros,
           |      $alpha * 64.0 * 64.0 * CAST($two55 AS DOUBLE) /
           |        CAST(ss AS DOUBLE) AS raw
           |    FROM sg)),
           |mrr AS (SELECT b, max(m) AS m FROM rr GROUP BY 1),
           |mest AS (SELECT round(CASE WHEN raw <= 2.5 * 64.0
           |      AND zeros > 0
           |      THEN 64.0 * ln(64.0 / CAST(zeros AS DOUBLE))
           |      ELSE raw END, 2) AS corpus_distinct_est
           |  FROM (SELECT 64 - CAST(count(*) AS BIGINT) AS zeros,
           |      $alpha * 64.0 * 64.0 * CAST($two55 AS DOUBLE) /
           |        CAST(CAST(sum(CAST(1 AS BIGINT) <<
           |            CAST(55 - m AS INT)) AS BIGINT) +
           |          (64 - CAST(count(*) AS BIGINT)) * $two55
           |          AS DOUBLE) AS raw
           |    FROM mrr)),
           |vv AS (SELECT source, CAST(n_chars AS DOUBLE) AS v
           |  FROM sl WHERE n_chars IS NOT NULL),
           |bkt AS (SELECT source, CAST(least(greatest(
           |    floor(v / 4.0), 0), 255) AS BIGINT) AS b FROM vv),
           |cb AS (SELECT source, b, count(*) AS cnt
           |  FROM bkt GROUP BY 1, 2),
           |cc2 AS (SELECT source, b, cnt,
           |    sum(cnt) OVER (PARTITION BY source ORDER BY b) AS cum,
           |    sum(cnt) OVER (PARTITION BY source) AS total
           |  FROM cb),
           |pp AS (SELECT CAST(unnest([0.5, 0.9]) AS DOUBLE) AS p),
           |qrows AS (SELECT source, p,
           |    round(4.0 * (CAST(b AS DOUBLE)
           |      + (p * CAST(total AS DOUBLE)
           |         - CAST(cum - cnt AS DOUBLE))
           |        / CAST(cnt AS DOUBLE)), 4) + 0.0 AS est
           |  FROM cc2, pp
           |  WHERE CAST(cum AS DOUBLE) >= p * CAST(total AS DOUBLE)
           |    AND CAST(cum - cnt AS DOUBLE) < p * CAST(total AS DOUBLE)),
           |qp AS (SELECT source,
           |    max(CASE WHEN p = 0.5 THEN est END) AS p50_chars,
           |    max(CASE WHEN p = 0.9 THEN est END) AS p90_chars
           |  FROM qrows GROUP BY 1)
           |SELECT dup.source, dup.n_docs, dup.n_dup_docs,
           |  dup.n_dup_docs * 1000000 // dup.n_docs AS dup_ppm,
           |  est.distinct_tokens_est, mest.corpus_distinct_est,
           |  qp.p50_chars, qp.p90_chars
           |FROM dup
           |JOIN est USING (source)
           |JOIN qp USING (source), mest
           |ORDER BY dup.source""".stripMargin
      }),

    // Entropic optimal transport per source (Drift.sinkhornToReference,
    // Cuturi '13): OT distance from each source's length distribution
    // to the pooled corpus reference — the metric-aware drift number
    // KS/PSI can't express (a uniform one-bin shift is cheap under OT,
    // saturating under PSI). One corpus pass builds the histogram;
    // the 8 Sinkhorn rounds run on model-sized frames (B² kernel
    // literal, groups × B scalings, pinned every 4th round). The oracle
    // unrolls the rounds as materialized CTEs (q118's GD-loop
    // precedent); only the emitted cost is rounded.
    QueryDef("q368_sinkhorn_ot",
      (s, dir) => Drift.sinkhornToReference(
          t(s, dir, "documents"), "source", "n_chars",
          lo = 0.0, hi = 1024.0, nbins = 16, eps = 0.1, iters = 8)
        .orderBy("source"),
      Some {
        val iters = 8
        val rounds = (1 to iters).map { i =>
          s"""u$i AS (SELECT p.g, p.i,
             |    CASE WHEN p.m > 0 THEN p.m / kv.s ELSE 0.0 END AS uu
             |  FROM pm p JOIN (
             |    SELECT v.g, k.i, sum(k.k * v.vv) AS s
             |    FROM v${i - 1} v JOIN kk k ON k.j = v.j
             |    GROUP BY 1, 2) kv
             |    ON kv.g = p.g AND kv.i = p.i),
             |v$i AS MATERIALIZED (SELECT ktu.g, ktu.j,
             |    CASE WHEN qm.qm > 0 THEN qm.qm / ktu.s2
             |      ELSE 0.0 END AS vv
             |  FROM (SELECT u.g, k.j, sum(k.k * u.uu) AS s2
             |    FROM u$i u JOIN kk k ON k.i = u.i
             |    GROUP BY 1, 2) ktu
             |  JOIN qm ON qm.j = ktu.j)""".stripMargin
        }.mkString(",\n")
        s"""WITH bb AS (
           |  SELECT source AS g, CAST(least(greatest(
           |    floor((CAST(n_chars AS DOUBLE) - 0.0) / 64.0),
           |    0), 15) AS BIGINT) AS b
           |  FROM documents WHERE n_chars IS NOT NULL),
           |cn AS MATERIALIZED (
           |  SELECT g, b, count(*) AS cnt FROM bb GROUP BY 1, 2),
           |pm AS MATERIALIZED (SELECT g, b AS i,
           |    CAST(cnt AS DOUBLE) /
           |      CAST(sum(cnt) OVER (PARTITION BY g) AS DOUBLE) AS m
           |  FROM cn),
           |qm AS MATERIALIZED (SELECT b AS j,
           |    CAST(sum(cnt) AS DOUBLE) /
           |      (SELECT CAST(sum(cnt) AS DOUBLE) FROM cn) AS qm
           |  FROM cn GROUP BY 1),
           |kk AS MATERIALIZED (SELECT i.i, j.j,
           |    exp(-(abs(i.i - j.j) / 15.0) / 0.1) AS k,
           |    abs(i.i - j.j) / 15.0 AS c
           |  FROM (SELECT unnest(generate_series(0, 15)) AS i) i,
           |       (SELECT unnest(generate_series(0, 15)) AS j) j),
           |v0 AS MATERIALIZED (SELECT gs.g, qm.j, 1.0 AS vv
           |  FROM (SELECT DISTINCT g FROM cn) gs, qm),
           |$rounds,
           |uf AS (SELECT p.g, p.i,
           |    CASE WHEN p.m > 0 THEN p.m / kv.s ELSE 0.0 END AS uu
           |  FROM pm p JOIN (
           |    SELECT v.g, k.i, sum(k.k * v.vv) AS s
           |    FROM v$iters v JOIN kk k ON k.j = v.j
           |    GROUP BY 1, 2) kv
           |    ON kv.g = p.g AND kv.i = p.i),
           |cost AS (SELECT u.g, sum(u.uu * k.k * v.vv * k.c) AS cost
           |  FROM uf u
           |  JOIN kk k ON k.i = u.i
           |  JOIN v$iters v ON v.g = u.g AND v.j = k.j
           |  GROUP BY 1),
           |ns AS (SELECT g, CAST(count(*) AS BIGINT) AS n
           |  FROM bb GROUP BY 1)
           |SELECT ns.g AS source, ns.n,
           |  round(cost.cost, 6) + 0.0 AS ot_cost
           |FROM ns JOIN cost ON cost.g = ns.g
           |ORDER BY source""".stripMargin
      }),

    // Entropic Wasserstein barycenter of the per-source length
    // distributions (Drift.sinkhornBarycenter, Benamou et al. '15
    // iterative Bregman projections, equal weights): the principled
    // TARGET profile for mixture rebalancing — the distribution
    // closest in transport cost to every source at once, where the
    // naive pooled histogram (emitted beside it) just mirrors the
    // biggest source. Same scale shape as q368: one corpus pass,
    // then dense model-sized (groups × bins) rounds. Oracle unrolls
    // the u/φ/b/v projections as materialized CTEs.
    QueryDef("q369_ot_barycenter",
      (s, dir) => Drift.sinkhornBarycenter(
          t(s, dir, "documents"), "source", "n_chars",
          lo = 0.0, hi = 1024.0, nbins = 16, eps = 0.1, iters = 8)
        .orderBy("b"),
      Some {
        s"""WITH ${otBaryCtes(8)},
           |pc AS (SELECT b, count(*) AS c FROM bb GROUP BY 1),
           |pt AS (SELECT CAST(count(*) AS DOUBLE) AS t FROM bb)
           |SELECT bins.b,
           |  round(coalesce(bf.bm, 0.0), 6) + 0.0 AS bary,
           |  round(CAST(coalesce(pc.c, 0) AS DOUBLE) / pt.t, 6) + 0.0
           |    AS pooled
           |FROM bins
           |LEFT JOIN b8 bf ON bf.j = bins.b
           |LEFT JOIN pc ON pc.b = bins.b, pt
           |ORDER BY bins.b""".stripMargin
      }),

    // Per-source OT distance TO the barycenter (sinkhornBarycenter →
    // sinkhornFromHists): the mixture-planning loop closed — q369
    // plans the target profile, this ranks the sources by how much
    // transport each needs to reach it (the rebalancing priority
    // order). The ROUNDED barycenter (round 6, exactly as q369 emits
    // it) is the reference on both engines, so the second Sinkhorn
    // block starts from bit-identical masses. Oracle = q369's IBP
    // chain + q368's distance rounds against the normalized b8.
    QueryDef("q371_ot_to_barycenter",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val bary = Drift.sinkhornBarycenter(docs, "source", "n_chars",
            lo = 0.0, hi = 1024.0, nbins = 16, eps = 0.1, iters = 8)
          .select(col("b").as("_b"), col("bary").as("_cnt"))
        val hist = Drift.binCounts(docs, "source", "n_chars",
          lo = 0.0, hi = 1024.0, nbins = 16)
        Drift.sinkhornFromHists(hist, bary, nbins = 16,
            eps = 0.1, iters = 8)
          .withColumnRenamed("_g", "source")
          .orderBy("source")
      },
      Some {
        val iters = 8
        val rounds = (1 to iters).map { i =>
          s"""du$i AS (SELECT p.g, p.i,
             |    CASE WHEN p.m > 0 THEN p.m / kv.s ELSE 0.0 END AS uu
             |  FROM pm p JOIN (
             |    SELECT v.g, k.i, sum(k.k * v.vv) AS s
             |    FROM dv${i - 1} v JOIN kd k ON k.j = v.j
             |    GROUP BY 1, 2) kv
             |    ON kv.g = p.g AND kv.i = p.i),
             |dv$i AS MATERIALIZED (SELECT ktu.g, ktu.j,
             |    CASE WHEN bq.qm > 0 THEN bq.qm / ktu.s2
             |      ELSE 0.0 END AS vv
             |  FROM (SELECT u.g, k.j, sum(k.k * u.uu) AS s2
             |    FROM du$i u JOIN kd k ON k.i = u.i
             |    GROUP BY 1, 2) ktu
             |  JOIN bq ON bq.j = ktu.j)""".stripMargin
        }.mkString(",\n")
        s"""WITH ${otBaryCtes(8)},
           |bq AS MATERIALIZED (SELECT j,
           |    (round(bm, 6) + 0.0) /
           |      (SELECT sum(round(bm, 6) + 0.0) FROM b8) AS qm
           |  FROM b8),
           |kd AS MATERIALIZED (SELECT i.i, j.j,
           |    exp(-(abs(i.i - j.j) / 15.0) / 0.1) AS k,
           |    abs(i.i - j.j) / 15.0 AS c
           |  FROM (SELECT unnest(generate_series(0, 15)) AS i) i,
           |       (SELECT unnest(generate_series(0, 15)) AS j) j),
           |dv0 AS MATERIALIZED (SELECT gs.g, bins.b AS j, 1.0 AS vv
           |  FROM gs CROSS JOIN bins),
           |$rounds,
           |duf AS (SELECT p.g, p.i,
           |    CASE WHEN p.m > 0 THEN p.m / kv.s ELSE 0.0 END AS uu
           |  FROM pm p JOIN (
           |    SELECT v.g, k.i, sum(k.k * v.vv) AS s
           |    FROM dv$iters v JOIN kd k ON k.j = v.j
           |    GROUP BY 1, 2) kv
           |    ON kv.g = p.g AND kv.i = p.i),
           |dcost AS (SELECT u.g, sum(u.uu * k.k * v.vv * k.c) AS cost
           |  FROM duf u
           |  JOIN kd k ON k.i = u.i
           |  JOIN dv$iters v ON v.g = u.g AND v.j = k.j
           |  GROUP BY 1),
           |dns AS (SELECT g, CAST(sum(cnt) AS BIGINT) AS n
           |  FROM cn GROUP BY 1)
           |SELECT dns.g AS source, dns.n,
           |  round(dcost.cost, 6) + 0.0 AS ot_cost
           |FROM dns JOIN dcost ON dcost.g = dns.g
           |ORDER BY source""".stripMargin
      }),

    // EXIF GPS audit + scrub (Multimodal.exifScan / stripApp1) — the
    // multimodal face of the PII tier: per-row the fixture JPEG is
    // BUILT (Exif/TIFF GPS IFD on the doc_id % 3 == 0 third), its GPS
    // parsed back from real TIFF bytes, APP1 stripped, and the
    // stripped bytes RE-PARSED (q365's closed-loop pattern: the scrub
    // is proven by the auditor that would catch it failing). The
    // oracle predicts every number arithmetically from the seeding
    // rule — including the 114 bytes each APP1 removal saves — so the
    // whole byte walk is hash-checked. One mapPartitions + one
    // combinable aggregate; no driver traffic, no codec dependency.
    QueryDef("q370_exif_gps_scrub",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        Multimodal.exifScan(s, docs, "doc_id", "text").toDF()
          .withColumnRenamed("id", "doc_id")
          .join(docs.select("doc_id", "source"), "doc_id")
          .groupBy("source").agg(
            count(lit(1)).as("n_images"),
            sum(when(col("hasGps"), 1L).otherwise(0L)).as("n_gps"),
            sum(when(col("hasGps"), col("latArcMs")).otherwise(0L))
              .as("sum_lat_arc_ms"),
            sum(when(col("hasGps"), col("lonArcMs")).otherwise(0L))
              .as("sum_lon_arc_ms"),
            sum(when(col("gpsAfterStrip"), 1L).otherwise(0L))
              .as("n_gps_after_scrub"),
            sum(col("nBytes") - col("strippedBytes")).as("bytes_saved"))
          .orderBy("source")
      },
      Some("""WITH e AS (SELECT source,
             |    CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS g,
             |    (doc_id % 90) * 3600000 + (doc_id % 60) * 60000
             |      + (doc_id * 7) % 60000 AS la,
             |    (doc_id % 180) * 3600000 + ((doc_id * 3) % 60) * 60000
             |      + (doc_id * 11) % 60000 AS lo
             |  FROM documents)
             |SELECT source, CAST(count(*) AS BIGINT) AS n_images,
             |  CAST(sum(g) AS BIGINT) AS n_gps,
             |  CAST(sum(CASE WHEN g = 1 THEN la ELSE 0 END) AS BIGINT)
             |    AS sum_lat_arc_ms,
             |  CAST(sum(CASE WHEN g = 1 THEN lo ELSE 0 END) AS BIGINT)
             |    AS sum_lon_arc_ms,
             |  CAST(0 AS BIGINT) AS n_gps_after_scrub,
             |  CAST(sum(g) * 114 AS BIGINT) AS bytes_saved
             |FROM e GROUP BY source ORDER BY source""".stripMargin)),

    // TrustRank over the near-dup graph (PageRank.personalized,
    // Gyöngyi et al. '04): restart mass confined to a vetted seed
    // sample (doc_id % 17 == 0), so rank becomes propagated TRUST —
    // documents unreachable from any seed score exact 0, the
    // spam-demotion signal uniform PageRank (q83) structurally lifts
    // off the floor. Same scale shape as q83: only edge endpoints
    // iterate, isolated seeds ride a scalar recurrence, one shuffle
    // join + one combinable sum per round.
    QueryDef("q372_trustrank",
      (s, dir) => {
        val docs = t(s, dir, "documents").filter(col("doc_id") < 1000)
        // Round 14: the trust graph's edges probe the persisted
        // verified-pairs table (same slice + parameters) instead of
        // re-running minhash — only the 5 pinned rank rounds remain.
        val pairs = ndPairs(s, dir)
        PageRank.personalized(docs, "doc_id", pairs, "id_a", "id_b",
            docs.filter(col("doc_id") % 17 === 0).select("doc_id"),
            "doc_id", damping = 0.85, iters = 5)
          .withColumnRenamed("id", "doc_id")
          .orderBy("doc_id")
      },
      Some("WITH " + minhashVerifiedCtes + ",\n" +
        """prpairs AS (SELECT id_a, id_b FROM verified
          |  WHERE jaccard >= 0.8),
          |prnodes AS (SELECT doc_id AS id FROM toks),
          |predges AS (SELECT id_a AS src, id_b AS dst FROM prpairs
          |            UNION SELECT id_b, id_a FROM prpairs),
          |prseeds AS (SELECT id FROM prnodes WHERE id % 17 = 0),
          |""".stripMargin +
        trustRankCtes(d = 0.85, iters = 5) + "\n" +
        """SELECT nd.id AS doc_id,
          |  round(coalesce(p.pr, CASE WHEN s.id IS NOT NULL
          |    THEN isoS5.pr ELSE 0.0 END), 6) AS pr
          |FROM prnodes nd
          |LEFT JOIN pre5 p USING (id)
          |LEFT JOIN prseeds s ON s.id = nd.id
          |CROSS JOIN isoS5
          |ORDER BY doc_id""".stripMargin)),

    // Round 14. Eval-set decontamination served FROM the standing
    // index (Dedup.incrementalNearDupsFromIndex over the persisted
    // graft_nd_bands/graft_nd_toks): the benchmark suite arrives as
    // NEW documents (here: every 97th doc truncated by its last two
    // tokens — near-dup to its source by construction, so both
    // engines derive identical eval texts), probes the stored band
    // index exactly like a crawl batch, and every corpus doc whose
    // verified jaccard ≥ 0.8 against ANY eval doc is flagged. Per
    // source: corpus size, contaminated count, ppm. At 100 TB this is
    // the only viable shape — the corpus is never re-signed; the eval
    // set (thousands of docs) pays one batch-sized probe against
    // bucket-pruned bands.
    QueryDef("q373_decontaminate_from_index",
      (s, dir) => {
        ensureNearDupIndex(s, dir)
        val docs = t(s, dir, "documents")
        val tkraw = filter(split(col("text"), " +"), t => t =!= "")
        val bench = docs
          .filter(col("doc_id") % 97 === 0 && col("doc_id") < 1000)
          .select((col("doc_id") + 10000L).as("doc_id"),
            array_join(slice(tkraw, lit(1),
              greatest(size(tkraw) - 2, lit(1))), " ").as("text"))
        val hits = Dedup.incrementalNearDupsFromIndex(
          bench, "doc_id", "text",
          Layout.table(s, "graft_nd_bands"),
          Layout.table(s, "graft_nd_toks"),
          k = 64, bands = 8, threshold = 0.8)
        val contaminated = hits
          .select(col("index_id").as("doc_id")).distinct()
          .withColumn("hit", lit(1L))
        docs.filter(col("doc_id") < 1000)
          .join(contaminated, Seq("doc_id"), "left")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("hit").isNotNull, 1L).otherwise(0L))
              .as("n_contaminated"))
          .withColumn("contaminated_ppm",
            expr("n_contaminated * 1000000 DIV n_docs"))
          .orderBy("source")
      },
      Some("WITH b0 AS (SELECT doc_id, list_filter(\n" +
        "    string_split_regex(text, ' +'), t -> t <> '') AS tkraw\n" +
        "  FROM documents WHERE doc_id % 97 = 0 AND doc_id < 1000),\n" +
        "benchsrc AS (SELECT doc_id + 10000 AS doc_id,\n" +
        "    array_to_string(list_slice(tkraw, 1,\n" +
        "      greatest(len(tkraw) - 2, 1)), ' ') AS text FROM b0),\n" +
        minhashSigCtes("i", "doc_id < 1000") + ",\n" +
        minhashSigCtes("b", "1 = 1", from = "benchsrc") + ",\n" +
        """dcand AS (
          |  SELECT DISTINCT l.doc_id AS batch_id, r.doc_id AS index_id
          |  FROM bbands l JOIN ibands r ON l.band_hash = r.band_hash),
          |dver AS (
          |  SELECT c.batch_id, c.index_id,
          |    round(CAST(len(list_intersect(a.tk, t2.tk)) AS DOUBLE) /
          |      (len(a.tk) + len(t2.tk) -
          |       len(list_intersect(a.tk, t2.tk))), 4) AS jaccard
          |  FROM dcand c
          |  JOIN btoks a ON a.doc_id = c.batch_id
          |  JOIN itoks t2 ON t2.doc_id = c.index_id),
          |cont AS (SELECT DISTINCT index_id AS doc_id FROM dver
          |         WHERE jaccard >= 0.8)
          |SELECT d.source, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_contaminated,
          |  CAST(sum(CASE WHEN c.doc_id IS NOT NULL THEN 1 ELSE 0 END)
          |    * 1000000 // count(*) AS BIGINT) AS contaminated_ppm
          |FROM documents d LEFT JOIN cont c USING (doc_id)
          |WHERE d.doc_id < 1000
          |GROUP BY d.source ORDER BY d.source""".stripMargin)),

    // Round 14. Canary leak detection: deterministic canary markers
    // are planted on every 97th doc (id-derived canary class, the
    // q333/q366 planted-ground-truth pattern), then detection reads
    // ONLY the text — a regex scan for the canary shape — and reports
    // per source: docs carrying a canary, distinct canary classes
    // seen, total marker hits. The eval-governance loop ("did our
    // held-out canaries leak into the training mix?") as a pure
    // narrow pass riding the corpus scan — no shuffle beyond the
    // source rollup at any scale.
    QueryDef("q374_canary_leak",
      (s, dir) => {
        val planted = t(s, dir, "documents")
          .select(col("doc_id"), col("source"),
            when(col("doc_id") % 97 === 0,
              concat(col("text"), lit(" CANARY-"),
                (col("doc_id") % 7).cast("string"), lit("-END")))
              .otherwise(col("text")).as("text"))
        planted
          .select(col("source"),
            regexp_extract(col("text"), "CANARY-([0-9]+)-END", 1)
              .as("canary"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("canary") =!= "", 1L).otherwise(0L))
              .as("n_leaked"),
            countDistinct(when(col("canary") =!= "", col("canary")))
              .as("n_canary_classes"))
          .orderBy("source")
      },
      Some("""WITH planted AS (
             |  SELECT source,
             |    CASE WHEN doc_id % 97 = 0 THEN text || ' CANARY-' ||
             |      CAST(doc_id % 7 AS VARCHAR) || '-END'
             |    ELSE text END AS text
             |  FROM documents),
             |det AS (SELECT source,
             |    regexp_extract(text, 'CANARY-([0-9]+)-END', 1) AS canary
             |  FROM planted)
             |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(CASE WHEN canary <> '' THEN 1 ELSE 0 END)
             |    AS BIGINT) AS n_leaked,
             |  CAST(count(DISTINCT CASE WHEN canary <> '' THEN canary END)
             |    AS BIGINT) AS n_canary_classes
             |FROM det GROUP BY source ORDER BY source""".stripMargin)),

    // Round 14. Family-wide right-to-be-forgotten: one deletion set
    // removed from EVERY member of the persisted index family — band
    // rows (bucket layout kept), token arrays, and the cluster map —
    // with a per-(table, phase) audit proving total rows and
    // deleted-key rows before/after. Each forget is an atomic
    // versioned rewrite (Layout.forgetKeys post-r14: the pre-forget
    // version stays live until the manifest commit, so a crash
    // mid-erasure can never lose an index — it re-runs). Fixtures are
    // doc_id < 300 slices COPIED from the stored index family
    // (bucket-layout copies, no minhash rebuild), so sibling queries
    // probing the shared tables are untouched. Oracle = band/token
    // set algebra over the same slice.
    QueryDef("q375_forget_family",
      (s, dir) => {
        ensureNearDupIndex(s, dir)
        Layout.replaceBucketed(s,
          Layout.table(s, "graft_nd_bands").filter(col("doc_id") < 300),
          "graft_nd_bands_f", "band_hash", buckets = 8)
        Layout.replaceBucketed(s,
          Layout.table(s, "graft_nd_toks").filter(col("doc_id") < 300),
          "graft_nd_toks_f", "doc_id", buckets = 8)
        Layout.replaceBucketed(s,
          Layout.table(s, "graft_cluster_map")
            .filter(col("doc_id") < 300),
          "graft_cluster_map_g", "doc_id", buckets = 8)
        val deleted = t(s, dir, "documents")
          .filter(col("doc_id") < 300 && col("doc_id") % 50 === 0)
          .select("doc_id").transform(Pin.shared)
        val family = Seq(
          ("bands", "graft_nd_bands_f", "band_hash"),
          ("toks", "graft_nd_toks_f", "doc_id"),
          ("cluster_map", "graft_cluster_map_g", "doc_id"))
        def audit(phase: String) = family.map { case (nm, tb, _) =>
          Layout.table(s, tb)
            .join(deleted.withColumn("del", lit(1L)), Seq("doc_id"),
              "left")
            .agg(count(lit(1)).as("n_rows"),
              sum(when(col("del").isNotNull, 1L).otherwise(0L))
                .as("n_deleted_rows"))
            .select(lit(nm).as("idx"), lit(phase).as("phase"),
              col("n_rows"), col("n_deleted_rows"))
        }.reduce(_ unionByName _)
        val pre = audit("pre_forget").transform(Pin.shared)
        family.foreach { case (_, tb, bucketCol) =>
          Layout.forgetKeys(s, tb, bucketCol, "doc_id", deleted,
            buckets = 8)
        }
        pre.unionByName(audit("post_forget"))
          .orderBy("idx", "phase")
      },
      Some("WITH " + minhashSigCtes("f", "doc_id < 300") + ",\n" +
        """del AS (SELECT doc_id FROM documents
          |  WHERE doc_id < 300 AND doc_id % 50 = 0),
          |rows_per AS (
          |  SELECT 'bands' AS idx,
          |    CAST(count(*) AS BIGINT) AS n_rows,
          |    CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0
          |      END) AS BIGINT) AS n_del
          |  FROM fbands b LEFT JOIN del d USING (doc_id)
          |  UNION ALL
          |  SELECT 'toks', CAST(count(*) AS BIGINT),
          |    CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0
          |      END) AS BIGINT)
          |  FROM ftoks t2 LEFT JOIN del d USING (doc_id)
          |  UNION ALL
          |  SELECT 'cluster_map', CAST(count(*) AS BIGINT),
          |    CAST(sum(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0
          |      END) AS BIGINT)
          |  FROM (SELECT DISTINCT doc_id FROM documents
          |        WHERE doc_id < 300) c
          |  LEFT JOIN del d USING (doc_id))
          |SELECT idx, 'pre_forget' AS phase, n_rows,
          |  n_del AS n_deleted_rows
          |FROM rows_per
          |UNION ALL
          |SELECT idx, 'post_forget', n_rows - n_del,
          |  CAST(0 AS BIGINT)
          |FROM rows_per
          |ORDER BY idx, phase""".stripMargin))
  )
}
