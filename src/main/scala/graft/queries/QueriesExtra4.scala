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

/** Catalog section `extra4Defs` of the former monolithic GemQueries
  * (mechanical round-14 split; content unchanged).
  */
private[queries] object QueriesExtra4 {

  /** Round-12 session 2, wave 3: interpretable split training,
    * checksum PII, duplication locality (q332–q334).
    */
  val defs: Seq[QueryDef] = Seq(

    // Information-gain decision stump (DecisionStump.fit): which
    // single signal and threshold best separate long documents —
    // the interpretable counterpart of the q118 trained logreg gate.
    // Label = n_chars ≥ 300, so the stump must FIND the n_chars
    // boundary and rank the correlated token count just behind it.
    QueryDef("q332_decision_stump",
      (s, dir) => {
        val tok = TextAnalysis.tokenCount(col("text"))
        val base = t(s, dir, "documents").select(
          col("n_chars"),
          tok.cast("long").as("n_tokens"),
          size(array_distinct(TextAnalysis.tokens(col("text"))))
            .cast("long").as("n_types"),
          when(col("n_chars") >= 300, 1L).otherwise(0L).as("y"))
        DecisionStump.fit(base, "y",
          Seq(("n_chars", 100L), ("n_tokens", 10L), ("n_types", 5L)))
          .orderBy("feature")
      },
      Some("""WITH base AS (
             |  SELECT n_chars,
             |    CAST(len(list_filter(string_split_regex(text, ' +'),
             |      x -> x <> '')) AS BIGINT) AS n_toks,
             |    CAST(len(list_distinct(list_filter(
             |      string_split_regex(text, ' +'), x -> x <> '')))
             |      AS BIGINT) AS n_types,
             |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y
             |  FROM documents),
             |f AS (
             |  SELECT 'n_chars' AS feature,
             |    (n_chars // 100 + 1) * 100 - 1 AS t, y FROM base
             |  UNION ALL SELECT 'n_tokens',
             |    (n_toks // 10 + 1) * 10 - 1, y FROM base
             |  UNION ALL SELECT 'n_types',
             |    (n_types // 5 + 1) * 5 - 1, y FROM base),
             |b AS (SELECT feature, t, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(y) AS BIGINT) AS p
             |  FROM f GROUP BY 1, 2),
             |tot AS (SELECT feature, CAST(sum(n) AS BIGINT) AS nt,
             |    CAST(sum(p) AS BIGINT) AS pt
             |  FROM b GROUP BY 1),
             |sc AS (SELECT feature, t,
             |    CAST(sum(n) OVER (PARTITION BY feature ORDER BY t
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS n_le,
             |    CAST(sum(p) OVER (PARTITION BY feature ORDER BY t
             |      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS pos_le
             |  FROM b),
             |g AS (SELECT s.feature, s.t, s.n_le, s.pos_le,
             |    tot.nt - s.n_le AS n_gt, tot.pt - s.pos_le AS pos_gt,
             |    tot.nt, tot.pt
             |  FROM sc s JOIN tot USING (feature)
             |  WHERE s.n_le < tot.nt),
             |gg AS (SELECT feature, t, n_le, pos_le, n_gt, pos_gt,
             |""".stripMargin +
        s"    ${duckH("pt", "nt")} -\n" +
        s"    (CAST(n_le AS DOUBLE) / CAST(nt AS DOUBLE)) *\n" +
        s"      ${duckH("pos_le", "n_le")} -\n" +
        s"    (CAST(n_gt AS DOUBLE) / CAST(nt AS DOUBLE)) *\n" +
        s"      ${duckH("pos_gt", "n_gt")} AS gain\n" +
        """  FROM g),
          |bf AS (SELECT *, row_number() OVER (PARTITION BY feature
          |    ORDER BY round(gain, 6) DESC, t ASC) AS rk FROM gg),
          |ov AS (SELECT *, row_number() OVER (
          |    ORDER BY round(gain, 6) DESC, feature ASC) AS ork
          |  FROM bf WHERE rk = 1)
          |SELECT feature, t AS threshold, n_le, pos_le, n_gt, pos_gt,
          |  round(gain, 6) AS gain,
          |  CASE WHEN ork = 1 THEN 1 ELSE 0 END AS is_best
          |FROM ov ORDER BY feature""".stripMargin)),

    // IBAN detection with EXACT ISO 7064 mod-97 validation
    // (Pii.ibanScan): the checksum class q309's Luhn cards started —
    // fixed-format DE IBANs planted from doc_id closed forms (the
    // q149/q309 fixture discipline), correct check digits on the
    // doc_id % 8 slice, off-by-one otherwise, so BOTH branches of the
    // stepwise int64 mod-97 chain are exercised. Oracle replays the
    // planting closed forms.
    QueryDef("q333_pii_iban",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val bbanNum = (col("doc_id") * 2654435761L) %
          1000000000000000000L
        val bban = lpad(bbanNum.cast("string"), 18, "0")
        val mm = (((bbanNum % 97L) * 10000L + 1314L) % 97L * 100L) % 97L
        val ccGood = lit(98L) - mm
        val cc = when(col("doc_id") % 8 === 0, ccGood)
          .otherwise(ccGood + 1L)
        val planted = docs.select(col("doc_id"), col("source"),
          when(col("doc_id") % 4 === 0,
            concat(col("text"), lit(" pay DE"),
              lpad(cc.cast("string"), 2, "0"), bban))
            .otherwise(col("text")).as("text"))
        Pii.ibanScan(planted, "doc_id", "text")
          .join(docs.select("doc_id", "source"), "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("n_iban_cands") > 0, 1L).otherwise(0L))
              .as("n_docs_with_iban"),
            sum("n_iban_cands").as("cands"),
            sum("n_iban_valid").as("valid"),
            sum("n_iban_invalid").as("invalid"))
          .orderBy("source")
      },
      Some("""WITH plant AS (
             |  SELECT doc_id, source,
             |    CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS cand,
             |    CASE WHEN doc_id % 4 = 0 AND doc_id % 8 = 0
             |      THEN 1 ELSE 0 END AS ok
             |  FROM documents)
             |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(cand) AS BIGINT) AS n_docs_with_iban,
             |  CAST(sum(cand) AS BIGINT) AS cands,
             |  CAST(sum(ok) AS BIGINT) AS valid,
             |  CAST(sum(cand - ok) AS BIGINT) AS invalid
             |FROM plant GROUP BY source ORDER BY source""".stripMargin)),

    // Duplication locality (query-level composition over q44's
    // verified pairs): near-dup pairs classified same-source vs
    // cross-source — intra-source boilerplate asks for a source-level
    // fix, cross-source syndication for corpus-level dedup. The
    // answer decides WHERE the dedup budget goes.
    QueryDef("q334_dup_locality",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // r13: stored verified-pairs probe (see ensureNearDupIndex).
        val pairs = ndPairs(s, dir)
        pairs
          .join(docs.select(col("doc_id").as("id_a"),
            col("source").as("src_a")), "id_a")
          .join(docs.select(col("doc_id").as("id_b"),
            col("source").as("src_b")), "id_b")
          .groupBy((col("src_a") === col("src_b")).cast("int")
            .as("same_source"))
          .agg(count(lit(1)).as("n_pairs"),
            round(avg("jaccard"), 4).as("mean_jaccard"),
            min("jaccard").as("min_jaccard"))
          .orderBy("same_source")
      },
      Some("WITH " + minhashVerifiedCtes + "\n" +
        """SELECT CASE WHEN a.source = b.source THEN 1 ELSE 0 END
          |    AS same_source,
          |  CAST(count(*) AS BIGINT) AS n_pairs,
          |  round(avg(jaccard), 4) AS mean_jaccard,
          |  min(jaccard) AS min_jaccard
          |FROM (SELECT id_a, id_b, jaccard FROM verified
          |      WHERE jaccard >= 0.8) pr
          |JOIN documents a ON a.doc_id = pr.id_a
          |JOIN documents b ON b.doc_id = pr.id_b
          |GROUP BY 1 ORDER BY 1""".stripMargin)),

    // 1-D Wasserstein drift (Drift.emdFromHists) on q160's exact
    // setup: where KS reports only the worst single CDF gap, EMD
    // integrates |ΔCDF| over the grid — the +100-char shift costs
    // ~100 char-units of mass transport per language, which is the
    // number a re-balancing job actually pays. Same two graft_hist
    // sketches; neither sample ships a row.
    QueryDef("q335_emd_drift",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val a = docs.filter(col("doc_id") % 2 === 0)
        val b = docs.filter(col("doc_id") % 2 =!= 0)
          .withColumn("n_chars", col("n_chars") + lit(100L))
        Drift.emdFromHists(a, b, "lang", "n_chars",
          lo = 0.0, hi = 1024.0, nbins = 256)
          .orderBy("lang")
      },
      Some(s"""$nCharsCdfCtes
             |SELECT lang, CAST(n_a AS BIGINT) AS n_a,
             |  CAST(n_b AS BIGINT) AS n_b,
             |  round(sum(abs(CAST(cum_a AS DOUBLE) / CAST(n_a AS DOUBLE)
             |    - CAST(cum_b AS DOUBLE) / CAST(n_b AS DOUBLE))) * 4.0, 4)
             |    + 0.0 AS emd
             |FROM cum WHERE n_a > 0 AND n_b > 0
             |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin)),

    // TextRank keyword extraction (Mihalcea & Tarau, EMNLP'04) by
    // pure op composition: adjacency bigrams → distinct undirected
    // word graph (tokens keyed by portable hash) → the q83 PageRank
    // kernel → top-10 by stationary score. The graph-centrality
    // counterpart of q114's TF-IDF keywords: TF-IDF scores terms by
    // rarity, TextRank by how central they sit in the co-occurrence
    // structure.
    QueryDef("q336_textrank_keywords",
      (s, dir) => {
        // Adjacent pairs straight off the token array (r20): the old
        // posexplode + (doc_id, pos+1) self-join shuffled the exploded
        // token frame twice and tokenized per side; transform() emits
        // the same (tk[i], tk[i+1]) multiset in one projection. The
        // token frame is checkpointed once for its two consumers
        // (pairs + names); Par.spread as in r19 (guide §2.5).
        val toks = graft.ops.Par.spread(t(s, dir, "documents"),
            col("doc_id"))
          .select(col("doc_id"), TextAnalysis.tokens(col("text")).as("tk"))
          .transform(Pin.shared)
        val bg = when(size(col("tk")) >= 2,
          transform(sequence(lit(2), size(col("tk"))), i =>
            struct(element_at(col("tk"), i - 1).as("wa"),
              element_at(col("tk"), i).as("wb"))))
        val pairs = toks.select(explode(bg).as("p"))
          .where(col("p.wa") =!= col("p.wb"))
          .select(Hashing.portableHash(col("p.wa")).as("src"),
            Hashing.portableHash(col("p.wb")).as("dst"))
          .distinct()
        val names = toks.select(explode(col("tk")).as("w")).distinct()
          .select(col("w"), Hashing.portableHash(col("w")).as("id"))
        PageRank.run(names.select("id"), "id", pairs, "src", "dst",
            damping = 0.85, iters = 5)
          .join(names, "id")
          .select(col("w").as("token"), col("pr"))
          .orderBy(col("pr").desc, col("token")).limit(10)
          .orderBy(col("pr").desc, col("token"))
      },
      Some("WITH tkz AS (\n" +
        """  SELECT doc_id, list_filter(
          |    string_split_regex(text, ' +'), x -> x <> '') AS tk
          |  FROM documents),
          |bgs AS (SELECT unnest(list_transform(
          |    generate_series(1, len(tk) - 1),
          |    i -> tk[i] || chr(1) || tk[i + 1])) AS bg FROM tkz),
          |spl AS (SELECT string_split(bg, chr(1))[1] AS wa,
          |    string_split(bg, chr(1))[2] AS wb FROM bgs),
          |""".stripMargin +
        s"""ed AS (SELECT DISTINCT
           |    ${Hashing.duckPortableHash("wa")} AS src,
           |    ${Hashing.duckPortableHash("wb")} AS dst
           |  FROM spl WHERE wa <> wb),
           |names AS (SELECT w, ${Hashing.duckPortableHash("w")} AS id
           |  FROM (SELECT DISTINCT unnest(tk) AS w FROM tkz)),
           |prnodes AS (SELECT id FROM names),
           |predges AS (SELECT src, dst FROM ed
           |            UNION SELECT dst, src FROM ed),
           |""".stripMargin +
        pageRankCtes(d = 0.85, iters = 5) + "\n" +
        """SELECT n.w AS token,
          |  round(coalesce(p.pr, iso5.pr), 6) AS pr
          |FROM prnodes nd
          |LEFT JOIN pre5 p USING (id) CROSS JOIN iso5
          |JOIN names n ON n.id = nd.id
          |ORDER BY pr DESC, token LIMIT 10""".stripMargin)),

    // t-closeness audit (Anonymity.tCloseness, Li et al. ICDE'07) on
    // q326's customer extract: classes that PASS l-diversity can
    // still leak when their sensitive distribution sits far from the
    // global one — closeness is the 1-D EMD over the ordered acctbal
    // buckets (q335's integral at governance grain). The worst-15
    // classes are the disclosure surface; the summary counts classes
    // above t = 0.35.
    QueryDef("q337_t_closeness",
      (s, dir) => {
        val cust = t(s, dir, "customer").select(
          col("c_nationkey"), col("c_mktsegment"),
          floor(col("c_acctbal") / 2000.0).cast("long").as("band"),
          floor(col("c_acctbal") / 1000.0).cast("long").as("sens"))
        Anonymity.tCloseness(cust,
          Seq("c_nationkey", "c_mktsegment", "band"), "sens",
          t = 0.35, topN = 15)
          .orderBy("risk_rank")
      },
      Some("""WITH cust AS (
             |  SELECT c_nationkey, c_mktsegment,
             |    CAST(floor(c_acctbal / 2000.0) AS BIGINT) AS band,
             |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS sens
             |  FROM customer),
             |cells AS (SELECT c_nationkey, c_mktsegment, band, sens,
             |    CAST(count(*) AS BIGINT) AS n
             |  FROM cust GROUP BY 1, 2, 3, 4),
             |dom AS (SELECT DISTINCT sens FROM cells),
             |gdist AS (SELECT sens, CAST(sum(n) AS BIGINT) AS gn
             |  FROM cells GROUP BY 1),
             |gt AS (SELECT CAST(sum(gn) AS BIGINT) AS gt FROM gdist),
             |cls AS (SELECT c_nationkey, c_mktsegment, band,
             |    CAST(sum(n) AS BIGINT) AS class_size
             |  FROM cells GROUP BY 1, 2, 3),
             |grid AS (SELECT c.c_nationkey, c.c_mktsegment, c.band,
             |    c.class_size, d.sens, coalesce(ce.n, 0) AS n, g.gn
             |  FROM cls c CROSS JOIN dom d
             |  LEFT JOIN cells ce ON ce.c_nationkey = c.c_nationkey
             |    AND ce.c_mktsegment = c.c_mktsegment
             |    AND ce.band = c.band AND ce.sens = d.sens
             |  JOIN gdist g ON g.sens = d.sens),
             |cum AS (SELECT *, sum(n) OVER w AS cc, sum(gn) OVER w AS cg
             |  FROM grid, gt
             |  WINDOW w AS (PARTITION BY c_nationkey, c_mktsegment, band
             |    ORDER BY sens ROWS UNBOUNDED PRECEDING)),
             |emd AS (SELECT c_nationkey, c_mktsegment, band, class_size,
             |    round(sum(abs(CAST(cc AS DOUBLE) / CAST(class_size AS DOUBLE)
             |      - CAST(cg AS DOUBLE) / CAST(gt AS DOUBLE))), 4) AS emd
             |  FROM cum GROUP BY 1, 2, 3, 4),
             |summ AS (SELECT CAST(count(*) AS BIGINT) AS n_classes,
             |    CAST(sum(CASE WHEN emd > 0.35 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_above_t,
             |    max(emd) AS max_emd
             |  FROM emd),
             |top AS (SELECT *, row_number() OVER (
             |      ORDER BY emd DESC, c_nationkey ASC,
             |        c_mktsegment ASC, band ASC) AS risk_rank
             |  FROM emd
             |  ORDER BY emd DESC, c_nationkey ASC, c_mktsegment ASC,
             |    band ASC
             |  LIMIT 15)
             |SELECT risk_rank, c_nationkey, c_mktsegment, band,
             |  class_size, emd, n_classes, n_above_t, max_emd
             |FROM top, summ ORDER BY risk_rank""".stripMargin)),

    // Per-language fairness audit of the quality gate
    // (Fairness.selectionParity + equalizedOdds): does
    // `qualityScore >= 0.5` keep each language at comparable rates
    // (four-fifths rule), and are its ERRORS balanced against the
    // long-document ground truth? The per-group corpus-governance
    // table a multilingual data card publishes.
    QueryDef("q338_fairness_audit",
      (s, dir) => {
        val q = TextAnalysis.qualityScore(col("text"))
        val docs = t(s, dir, "documents").select(col("lang"),
          (q >= 0.5).cast("int").as("kept"),
          (col("n_chars") >= 300L).cast("int").as("y"))
        Fairness.selectionParity(docs, "lang", "kept")
          .join(Fairness.equalizedOdds(docs, "lang", "kept", "y"),
            Seq("lang"))
          .orderBy("lang")
      },
      Some("""WITH tkq AS (
             |  SELECT lang, n_chars, list_filter(
             |    string_split_regex(text, ' +'), x -> x <> '') AS tk
             |  FROM documents),
             |base AS (
             |  SELECT lang,
             |    CASE WHEN round((
             |        CASE WHEN len(tk) BETWEEN 5 AND 10000
             |          THEN 1.0 ELSE 0.0 END
             |        + CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)
             |        + CASE WHEN len(list_filter(tk, x -> x IN
             |            ('the','a','an','of','and','to','in','is'))) > 0
             |          THEN 1.0 ELSE 0.0 END) / 3.0, 4) >= 0.5
             |      THEN 1 ELSE 0 END AS kept,
             |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y
             |  FROM tkq),
             |per AS (SELECT lang, CAST(count(*) AS BIGINT) AS n,
             |    CAST(sum(kept) AS BIGINT) AS n_selected,
             |    CAST(sum(y) AS BIGINT) AS n_pos,
             |    CAST(count(*) - sum(y) AS BIGINT) AS n_neg,
             |    CAST(sum(CASE WHEN y = 1 AND kept = 1 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS tp,
             |    CAST(sum(CASE WHEN y = 0 AND kept = 1 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS fp
             |  FROM base GROUP BY 1),
             |rates AS (SELECT *,
             |    (n_selected * 1000000) // n AS sel_rate_ppm,
             |    CASE WHEN n_pos > 0
             |      THEN (tp * 1000000) // n_pos END AS tpr_ppm,
             |    CASE WHEN n_neg > 0
             |      THEN (fp * 1000000) // n_neg END AS fpr_ppm
             |  FROM per),
             |best AS (SELECT max(sel_rate_ppm) AS best FROM rates),
             |ov AS (SELECT
             |    (CAST(sum(tp) AS BIGINT) * 1000000) //
             |      CAST(sum(n_pos) AS BIGINT) AS otpr,
             |    (CAST(sum(fp) AS BIGINT) * 1000000) //
             |      CAST(sum(n_neg) AS BIGINT) AS ofpr
             |  FROM per)
             |SELECT lang, n, n_selected, sel_rate_ppm,
             |  round(CAST(sel_rate_ppm AS DOUBLE) /
             |    CAST(best AS DOUBLE), 4) AS ratio_to_best,
             |  CASE WHEN sel_rate_ppm * 5 < best * 4 THEN 1 ELSE 0 END
             |    AS four_fifths_flag,
             |  n_pos, n_neg, tpr_ppm, fpr_ppm,
             |  tpr_ppm - otpr AS tpr_gap_ppm,
             |  fpr_ppm - ofpr AS fpr_gap_ppm
             |FROM rates, best, ov ORDER BY lang""".stripMargin)),

    // ε-DP noisy-count release rehearsal (Anonymity.dpNoisyCounts,
    // Ghosh–Roughgarden–Sundararajan geometric mechanism) over the
    // q266/q337 governance grain: nation × mktsegment customer counts
    // at ε = ln 2 (alphaPpm 500000), noise from per-trial INDEPENDENT
    // md5-seeded Bernoulli draws (integer-exact, so DuckDB replays the
    // exact draw), small cells suppressed below 5. The utility audit a
    // data steward reads before choosing ε.
    QueryDef("q339_dp_release",
      (s, dir) =>
        Anonymity.dpNoisyCounts(t(s, dir, "customer"),
          Seq("c_nationkey", "c_mktsegment"), alphaPpm = 500000L,
          trials = 30, suppressBelow = 5L, seed = "r12")
          .orderBy("c_nationkey", "c_mktsegment"),
      Some {
        val h = s"(${graft.functions.Hashing.duckSeededHash("s", "k")})" +
          s" % ${graft.functions.Hashing.P31}"
        val thresh = 500000L * graft.functions.Hashing.P31 / 1000000L
        s"""WITH cnt AS (
           |  SELECT c_nationkey, c_mktsegment,
           |    CAST(count(*) AS BIGINT) AS n,
           |    'r12:' || CAST(c_nationkey AS VARCHAR) || ':' ||
           |      c_mktsegment AS k
           |  FROM customer GROUP BY 1, 2),
           |tr AS (SELECT c_nationkey, c_mktsegment, n, k,
           |    unnest(generate_series(0, 59)) AS s FROM cnt),
           |hh AS (SELECT c_nationkey, c_mktsegment, n, s,
           |    $h AS h FROM tr),
           |gg AS (SELECT c_nationkey, c_mktsegment, n,
           |    coalesce(min(CASE WHEN s < 30 AND h >= $thresh
           |      THEN s END), 30) AS g1,
           |    coalesce(min(CASE WHEN s >= 30 AND h >= $thresh
           |      THEN s - 30 END), 30) AS g2
           |  FROM hh GROUP BY 1, 2, 3),
           |nz AS (SELECT c_nationkey, c_mktsegment, n,
           |    CAST(g1 - g2 AS BIGINT) AS noise,
           |    greatest(n + g1 - g2, 0) AS rel
           |  FROM gg),
           |fl AS (SELECT c_nationkey, c_mktsegment, n, noise,
           |    CASE WHEN rel < 5 THEN 1 ELSE 0 END AS suppressed,
           |    CASE WHEN rel >= 5 THEN CAST(rel AS BIGINT) END
           |      AS released
           |  FROM nz),
           |summ AS (SELECT CAST(count(*) AS BIGINT) AS n_groups,
           |    CAST(sum(suppressed) AS BIGINT) AS n_suppressed,
           |    CAST(sum(abs(noise)) AS BIGINT) AS l1_noise
           |  FROM fl)
           |SELECT c_nationkey, c_mktsegment, n, noise, released,
           |  suppressed, n_groups, n_suppressed, l1_noise
           |FROM fl, summ
           |ORDER BY c_nationkey, c_mktsegment""".stripMargin
      }),

    // Temporal-leakage audit (TextAnalysis.temporalLeakage): per
    // source, documents mentioning ISO dates AFTER the training
    // cutoff — snapshot-claim contamination for time-split evals.
    // Dates are planted deterministically from doc_id (the q333 IBAN
    // pattern): %5 past dates, %7 future dates past the 2025-12-31
    // cutoff, %11 a calendar-invalid 2024-13-41 the validator must
    // reject; the oracle recomputes the expected counts analytically
    // from the plant arithmetic, never running the regex.
    QueryDef("q340_temporal_leakage",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val mm = lpad(((col("doc_id") % 12L) + 1L).cast("string"), 2, "0")
        val dd = lpad(((col("doc_id") % 28L) + 1L).cast("string"), 2, "0")
        val past = concat(lit(" archived "),
          (lit(2020L) + col("doc_id") % 4L).cast("string"),
          lit("-"), mm, lit("-"), dd)
        val fut = concat(lit(" scheduled "),
          (lit(2027L) + col("doc_id") % 3L).cast("string"),
          lit("-"), mm, lit("-"), dd)
        val planted = docs.select(col("source"), concat(col("text"),
          when(col("doc_id") % 5L === 0L, past).otherwise(lit("")),
          when(col("doc_id") % 7L === 0L, fut).otherwise(lit("")),
          when(col("doc_id") % 11L === 0L, lit(" v2024-13-41"))
            .otherwise(lit(""))).as("text"))
        TextAnalysis.temporalLeakage(planted, "text", "source",
          cutoff = "2025-12-31")
          .orderBy("source")
      },
      Some("""WITH d AS (
             |  SELECT source,
             |    CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END AS hp,
             |    CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END AS hf,
             |    CAST(2020 + doc_id % 4 AS VARCHAR) || '-' ||
             |      lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') ||
             |      '-' ||
             |      lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
             |      AS pd,
             |    CAST(2027 + doc_id % 3 AS VARCHAR) || '-' ||
             |      lpad(CAST(doc_id % 12 + 1 AS VARCHAR), 2, '0') ||
             |      '-' ||
             |      lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
             |      AS fd
             |  FROM documents),
             |per AS (SELECT source, hp + hf AS nd, hf AS nf,
             |    CASE WHEN hf = 1 THEN fd WHEN hp = 1 THEN pd END
             |      AS mx
             |  FROM d)
             |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(CASE WHEN nd > 0 THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_docs_dated,
             |  CAST(sum(nd) AS BIGINT) AS n_dates,
             |  CAST(sum(nf) AS BIGINT) AS n_future_dates,
             |  CAST(sum(nf) AS BIGINT) AS n_leaking_docs,
             |  (CAST(sum(nf) AS BIGINT) * 1000000) // count(*)
             |    AS leak_ppm,
             |  max(mx) AS max_date
             |FROM per GROUP BY source ORDER BY source""".stripMargin)),

    // Truncation-waste curve (TextAnalysis.truncationWaste): the cost
    // of a per-document token cap at each candidate context length —
    // the planning table behind q91's packing bin size. Exact integer
    // token accounting at every cap.
    QueryDef("q341_truncation_waste",
      (s, dir) =>
        TextAnalysis.truncationWaste(t(s, dir, "documents"), "text",
          Seq(32L, 64L, 128L, 256L))
          .orderBy("cap"),
      Some("""WITH tk AS (
             |  SELECT len(list_filter(string_split_regex(text, ' +'),
             |    x -> x <> '')) AS nt
             |  FROM documents),
             |caps AS (SELECT unnest([32, 64, 128, 256]) AS cap),
             |x AS (SELECT cap, nt FROM tk CROSS JOIN caps)
             |SELECT CAST(cap AS BIGINT) AS cap,
             |  CAST(count(*) AS BIGINT) AS n_docs,
             |  CAST(sum(CASE WHEN nt > cap THEN 1 ELSE 0 END) AS BIGINT)
             |    AS n_truncated,
             |  CAST(sum(nt) AS BIGINT) AS total_tokens,
             |  CAST(sum(least(nt, cap)) AS BIGINT) AS kept_tokens,
             |  CAST(sum(greatest(nt - cap, 0)) AS BIGINT)
             |    AS lost_tokens,
             |  (CAST(sum(greatest(nt - cap, 0)) AS BIGINT) * 1000000)
             |    // CAST(sum(nt) AS BIGINT) AS waste_ppm
             |FROM x GROUP BY cap ORDER BY cap""".stripMargin)),

    // IPF raking (Mixing.ipfRake, Deming–Stephan 1940): rebalance the
    // lang × source composition to a UNIFORM language marginal while
    // preserving the observed source marginal — the minimum-KL
    // reweighting, 4 alternating scaling rounds in exact ppb integer
    // arithmetic so the oracle replays every floor. Targets are
    // derived from the data (uniform langs / observed sources), the
    // corpus is touched once (the grid count); all iterations ride
    // the grid with marginal-sized broadcasts.
    QueryDef("q342_ipf_rake",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        val langs = docs.select("lang").distinct().orderBy("lang")
          .collect().map(_.getString(0)).toSeq
        val rowT = langs.map(_ -> 1000000000L / langs.length)
        val total = docs.count()
        val colT = docs.groupBy("source").count().collect()
          .map(r => r.getString(0) ->
            r.getLong(1) * 1000000000L / total).toSeq
        Mixing.ipfRake(docs, "lang", "source", rowT, colT, rounds = 4)
          .orderBy("lang", "source")
      },
      Some(s"""WITH ${ipfCtes(4)},
             |dr AS (SELECT max(abs(am - coalesce(t, 0))) AS row_dev
             |  FROM (SELECT lang, sum(w) AS am FROM w4 GROUP BY 1) a
             |  LEFT JOIN rt USING (lang)),
             |dc AS (SELECT max(abs(am - coalesce(t, 0))) AS col_dev
             |  FROM (SELECT source, sum(w) AS am FROM w4 GROUP BY 1) a
             |  LEFT JOIN ct USING (source))
             |SELECT lang, source, n, CAST(nb AS BIGINT) AS n_ppb,
             |  CAST(w AS BIGINT) AS w_ppb,
             |  CAST(row_dev AS BIGINT) AS row_dev_ppb,
             |  CAST(col_dev AS BIGINT) AS col_dev_ppb
             |FROM w4, dr, dc ORDER BY lang, source""".stripMargin)),

    // License propagation over near-dup clusters
    // (Components.licensePropagation): a permissively-labeled doc
    // with a restricted near-identical twin is NOT releasable — the
    // effective license is the cluster max. Rides q325's verified
    // cluster chain; license ranks derived deterministically from
    // doc_id (0 permissive / 1 attribution / 2 restricted).
    QueryDef("q343_license_propagation",
      (s, dir) => {
        val docs = t(s, dir, "documents")
        // r13: stored cluster map probe (see ensureNearDupIndex).
        val clusters = ndClusters(s, dir)
        val ranked = docs.withColumn("own",
          when(col("doc_id") % 10L === 9L, 2L)
            .when(col("doc_id") % 10L >= 6L, 1L).otherwise(0L))
        Components.licensePropagation(ranked, "doc_id", "source",
            "own", clusters, restrictedRank = 2L)
          .orderBy("source")
      },
      Some("WITH RECURSIVE " + minhashVerifiedCtes + ",\n" +
        clusterChainCtes + ",\n" +
        """lic AS (SELECT doc_id, source,
          |    CASE WHEN doc_id % 10 = 9 THEN 2
          |         WHEN doc_id % 10 >= 6 THEN 1 ELSE 0 END AS own
          |  FROM documents),
          |cm AS (SELECT c.component, max(l.own) AS cmax
          |  FROM comp c JOIN lic l ON l.doc_id = c.id GROUP BY 1),
          |eff AS (SELECT l.source, l.own,
          |    CASE WHEN c.id IS NOT NULL THEN 1 ELSE 0 END AS incl,
          |    CASE WHEN c.id IS NOT NULL THEN greatest(l.own, cm.cmax)
          |         ELSE l.own END AS eff
          |  FROM lic l LEFT JOIN comp c ON c.id = l.doc_id
          |  LEFT JOIN cm ON cm.component = c.component)
          |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
          |  CAST(sum(incl) AS BIGINT) AS n_in_clusters,
          |  CAST(sum(CASE WHEN eff > own THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_upgraded,
          |  (CAST(sum(CASE WHEN eff > own THEN 1 ELSE 0 END)
          |      AS BIGINT) * 1000000) // count(*) AS upgraded_ppm,
          |  CAST(max(eff - own) AS BIGINT) AS max_upgrade,
          |  CAST(sum(CASE WHEN own >= 2 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_own_restricted,
          |  CAST(sum(CASE WHEN eff >= 2 THEN 1 ELSE 0 END) AS BIGINT)
          |    AS n_eff_restricted
          |FROM eff GROUP BY source ORDER BY source""".stripMargin)),

    // ROC operating table + exact tie-corrected AUC
    // (Classifier.rocAuc, Mann–Whitney grouped form) for the quality
    // score against the long-document label — q338 judged ONE
    // operating point for fairness; this sweeps the threshold and
    // prices each choice in exact confusion counts. The cumulative
    // tie term rides Rank.globalRowNumber + prefixSum, so the
    // score-distinct frame never meets a single-task window.
    QueryDef("q344_roc_auc",
      (s, dir) => {
        val q = TextAnalysis.qualityScore(col("text"))
        val scored = t(s, dir, "documents").select(q.as("score"),
          (col("n_chars") >= 300L).cast("int").as("y"))
        Classifier.rocAuc(scored, "score", "y",
          Seq(0.3, 0.5, 0.7, 0.9))
          .orderBy("thr")
      },
      Some("""WITH tkq AS (
             |  SELECT n_chars, list_filter(
             |    string_split_regex(text, ' +'), x -> x <> '') AS tk
             |  FROM documents),
             |base AS (
             |  SELECT round((
             |      CASE WHEN len(tk) BETWEEN 5 AND 10000
             |        THEN 1.0 ELSE 0.0 END
             |      + CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)
             |      + CASE WHEN len(list_filter(tk, x -> x IN
             |          ('the','a','an','of','and','to','in','is'))) > 0
             |        THEN 1.0 ELSE 0.0 END) / 3.0, 4) AS s,
             |    CASE WHEN n_chars >= 300 THEN 1 ELSE 0 END AS y
             |  FROM tkq),
             |bys AS (SELECT s, CAST(sum(y) AS BIGINT) AS pos,
             |    CAST(sum(1 - y) AS BIGINT) AS neg
             |  FROM base GROUP BY 1),
             |cum AS (SELECT *, CAST(sum(neg) OVER (ORDER BY s
             |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cneg
             |  FROM bys),
             |auc AS (SELECT
             |    CAST(sum(2 * (cneg - neg) * pos + neg * pos)
             |      AS BIGINT) AS a2,
             |    CAST(sum(pos) AS BIGINT) AS n_pos,
             |    CAST(sum(neg) AS BIGINT) AS n_neg
             |  FROM cum),
             |th AS (SELECT CAST(unnest([0.3, 0.5, 0.7, 0.9]) AS DOUBLE)
             |    AS thr),
             |tab AS (SELECT thr,
             |    CAST(sum(CASE WHEN s >= thr THEN pos ELSE 0 END)
             |      AS BIGINT) AS tp,
             |    CAST(sum(CASE WHEN s >= thr THEN neg ELSE 0 END)
             |      AS BIGINT) AS fp
             |  FROM bys CROSS JOIN th GROUP BY 1)
             |SELECT thr, tp, fp, n_pos - tp AS fn, n_neg - fp AS tn,
             |  CASE WHEN tp + fp > 0
             |    THEN (tp * 1000000) // (tp + fp) END AS precision_ppm,
             |  (tp * 1000000) // n_pos AS recall_ppm,
             |  (fp * 1000000) // n_neg AS fpr_ppm,
             |  CASE WHEN 2 * tp + fp + (n_pos - tp) > 0
             |    THEN (2 * tp * 1000000) // (2 * tp + fp + (n_pos - tp))
             |    END AS f1_ppm,
             |  round(CAST(a2 AS DOUBLE) /
             |    ((2.0 * n_pos) * n_neg), 6) AS auc,
             |  n_pos, n_neg
             |FROM tab, auc ORDER BY thr""".stripMargin))
  )
}
