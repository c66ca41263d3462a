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

/** Helpers shared by the catalog section files (`QueriesCore` …
  * `QueriesExtra5`): the per-table reader, the session-memoized
  * near-dup index build, and the DuckDB-oracle CTE generators. Moved
  * out of the former 16k-line `GemQueries.scala` verbatim (round-14
  * task 5 — pure mechanical split; see VERDICT.md r13).
  */
private[queries] object Shared {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    Graft.table(s, dir, name)

  /** Session-memoized build of the SHARED near-dup index pair over the
    * governance slice (`doc_id < 1000`, k=64/bands=8/thr=0.8 — the
    * exact parameters q61 established): `graft_nd_pairs` (verified
    * pairs with jaccard, `id_a`-bucketed) and `graft_cluster_map` (the
    * persisted `doc_id → component` map,
    * [[Components.writeClusterIndex]] — the fourth stored index beside
    * bands/codes/postings). Until round 13 every release-governance
    * query (q318 manifest, q325/q329 soft-dedup, q334 locality, q343
    * license propagation) re-ran minhash + component iteration INLINE —
    * at 100 TB that is a full-corpus pair rebuild per review query.
    * Now the build runs once per session+dir and the queries PROBE the
    * stored tables; their returned plans contain no minhash signature
    * fold and no component iteration (plan-asserted in LayoutSpec).
    * Cache key includes the warehouse dir so two sessions in one JVM
    * (the test harness) never cross-write.
    */
  val ndIdxBuilt = scala.collection.mutable.Set[String]()

  def ensureNearDupIndex(s: SparkSession, dir: String): Unit =
    ndIdxBuilt.synchronized {
      val key = s.conf.get("spark.sql.warehouse.dir") + "|" + dir
      if (!ndIdxBuilt.contains(key)) {
        val slice = t(s, dir, "documents")
          .filter(col("doc_id") < 1000).select("doc_id", "text")
        val pairs = Dedup.minhashNearDups(slice, "doc_id", "text",
          k = 64, bands = 8, threshold = 0.8).transform(Pin.shared)
        Layout.replaceBucketed(s, pairs, "graft_nd_pairs", "id_a",
          buckets = 8)
        Components.writeClusterIndex(s, slice, "doc_id",
          pairs, "id_a", "id_b", "graft_cluster_map", buckets = 8)
        // Round 14: persist the PROBE half too — band rows (bucketed
        // on the probe key) + token arrays — so decontamination and
        // RTBF queries can hit the standing index without re-signing
        // the corpus (q373/q375).
        Layout.replaceBucketed(s,
          Dedup.lshBands(slice, "doc_id", "text", 64, 8),
          "graft_nd_bands", "band_hash", buckets = 8)
        Layout.replaceTable(s,
          Dedup.tokenIndex(slice, "doc_id", "text"), "graft_nd_toks")
        ndIdxBuilt += key
      }
    }

  /** Session-memoized ANN index build (round-14 task 4): train the
    * k=8/iters=2 IVF codebook ONCE per session+dir, persist it
    * (`graft_ivf_cents`, plain — k rows) beside the SQ8 codes table
    * (`graft_ivf_sq8_idx`, `cell_id`-bucketed), and let every ANN
    * query PROBE the stored pair. Until round 13, q67's recall audit
    * and q306's stored-index search re-trained the codebook inline on
    * every run — at 100 TB that is a full-corpus k-means per
    * evaluation, and auditing a freshly-trained index is also the
    * less honest eval (production serves the SHIPPED index). The
    * stored tables are bit-identical to the inline build
    * (trainCentroids rounds to 6 decimals exactly so float parquet
    * round-trips exactly), so the DuckDB oracles are unchanged.
    */
  val annIdxBuilt = scala.collection.mutable.Set[String]()

  def ensureAnnIndex(s: SparkSession, dir: String): Unit =
    annIdxBuilt.synchronized {
      val key = s.conf.get("spark.sql.warehouse.dir") + "|" + dir
      if (!annIdxBuilt.contains(key)) {
        val emb = t(s, dir, "embeddings")
        val cents = Similarity.trainCentroids(
          emb, "vec_id", "embedding", k = 8, iters = 2)
        Layout.replaceTable(s, cents, "graft_ivf_cents")
        Layout.replaceBucketed(s,
          Similarity.buildIvfSq8Index(emb, cents, "vec_id", "embedding"),
          "graft_ivf_sq8_idx", "cell_id", buckets = 8)
        annIdxBuilt += key
      }
    }

  /** Stored IVF codebook (schema = trainCentroids output). */
  def annCents(s: SparkSession, dir: String): DataFrame = {
    ensureAnnIndex(s, dir)
    Layout.table(s, "graft_ivf_cents")
  }

  /** Stored SQ8 codes, cell_id-bucketed. */
  def annCodes(s: SparkSession, dir: String): DataFrame = {
    ensureAnnIndex(s, dir)
    Layout.table(s, "graft_ivf_sq8_idx")
  }

  /** Stored verified near-dup pairs (`id_a`, `id_b`, `jaccard`). */
  def ndPairs(s: SparkSession, dir: String): DataFrame = {
    ensureNearDupIndex(s, dir)
    Layout.table(s, "graft_nd_pairs")
  }

  /** Stored cluster map, probe-resolved to the [[Components
    * .dedupClusters]] schema (`doc_id`, `component`, `cluster_size`).
    */
  def ndClusters(s: SparkSession, dir: String): DataFrame = {
    ensureNearDupIndex(s, dir)
    Components.clustersFromIndex(Layout.table(s, "graft_cluster_map"))
  }

  /** DuckDB cosine over two list columns, double precision — the exact
    * fragment q29/q45/q52 inline; shared by the IVF-training oracles.
    */
  def duckCos(a: String, b: String): String =
    s"""list_sum(list_transform($a, (x, i) ->
       |      CAST(x AS DOUBLE) * CAST($b[i] AS DOUBLE))) /
       |    (sqrt(list_sum(list_transform($a, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) *
       |     sqrt(list_sum(list_transform($b, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))))""".stripMargin

  /** Oracle twin of [[Similarity.hyperplaneBucket]]: the md5
    * hyperplane-LSH bucket over GLOBAL plane indices [lo, hi], bit
    * positions (p - lo). ONE generator for the q45 single-table
    * bucket, q67's single- and multi-table evals, and any future LSH
    * oracle, so the hash math cannot drift between copies.
    */
  def lshBucketSql(lo: Int, hi: Int): String =
    s"""CAST(list_sum(list_transform(generate_series($lo, $hi), p ->
       |      CASE WHEN list_sum(list_transform(embedding, (v, i) ->
       |          CAST(v AS DOUBLE) * (CASE WHEN
       |            CAST(('0x' || substr(md5(CAST(p AS VARCHAR) || ':' ||
       |              CAST(i - 1 AS VARCHAR)), 1, 15)) AS BIGINT) & 1 = 1
       |            THEN 1.0 ELSE -1.0 END))) >= 0
       |        THEN (CAST(1 AS BIGINT) << (p - $lo)) ELSE CAST(0 AS BIGINT) END))
       |      AS BIGINT)""".stripMargin

  /** Multi-table LSH buckets ([[Similarity.lshTopKMulti]]'s `tabled`
    * frame): per-table UNION of [[lshBucketSql]] slices of the shared
    * plane universe — table t = planes [t*planes, (t+1)*planes).
    */
  def lshMultiBucketCte(
      name: String, planes: Int, tables: Int): String = {
    val parts = (0 until tables).map { t =>
      val lo = t * planes
      s"""  SELECT vec_id, $t AS tbl, ${lshBucketSql(lo, lo + planes - 1)}
         |    AS bucket FROM embeddings""".stripMargin
    }
    s"$name AS (\n${parts.mkString("\n  UNION ALL\n")})"
  }

  /** Oracle twin of [[Similarity.trainCentroids]] (k-means on the
    * 64-dim `embeddings` table): seed CTE `cent0` = the k vectors with
    * the smallest portable md5 hash of their id, then `iters` unrolled
    * Lloyd rounds `assign{i}` / `cent{i}` — argmax-cosine assignment,
    * per-position mean rounded to 6 decimals and cast to REAL, exactly
    * the Spark trajectory. ONE generator shared by q65/q66/q67 so the
    * training oracles cannot drift.
    */
  def kmeansCtes(k: Int, iters: Int): String = {
    val seed =
      s"""poss AS (SELECT unnest(generate_series(1, 64)) AS pos),
         |cent0 AS (
         |  SELECT row_number() OVER (ORDER BY h, vec_id) - 1 AS cell_id,
         |    embedding AS centvec
         |  FROM (SELECT vec_id, embedding,
         |          ${graft.functions.Hashing.duckPortableHash("CAST(vec_id AS VARCHAR)")} AS h
         |        FROM embeddings ORDER BY h, vec_id LIMIT $k))""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""assign$i AS (
         |  SELECT vec_id, embedding, cell_id FROM (
         |    SELECT e.vec_id, e.embedding, c.cell_id,
         |      row_number() OVER (PARTITION BY e.vec_id
         |        ORDER BY ${duckCos("e.embedding", "c.centvec")} DESC, c.cell_id) AS rn
         |    FROM embeddings e CROSS JOIN cent${i - 1} c)
         |  WHERE rn = 1),
         |cent$i AS (
         |  SELECT cell_id, list(CAST(round(m, 6) AS REAL) ORDER BY pos) AS centvec
         |  FROM (SELECT a.cell_id, p.pos,
         |          avg(CAST(a.embedding[p.pos] AS DOUBLE)) AS m
         |        FROM assign$i a CROSS JOIN poss p
         |        GROUP BY a.cell_id, p.pos)
         |  GROUP BY cell_id)""".stripMargin
    }
    (seed +: rounds).mkString(",\n")
  }

  /** Oracle twin of [[graft.ops.Pca.topComponent]]: column means
    * (`pmu`), md5-sign init scaled 1/sqrt(dim) (`pv0`), then `iters`
    * unrolled power rounds `ps{i}` (per-row centered projection, the
    * two list_sums mirroring Spark's zip_with aggregate minus the
    * mu.v scalar) / `pt{i}`+`ptl{i}` (per-position X^T X v) / `pv{i}`
    * (the normalize). Ends at `pv{iters}`.
    */
  def pcaCtes(
      dim: Int, iters: Int, pfx: String = "",
      src: String = "embeddings"): String = {
    val seed =
      s"""${pfx}poss AS (SELECT unnest(generate_series(1, $dim)) AS pos),
         |${pfx}pxs AS MATERIALIZED (SELECT embedding FROM $src
         |        WHERE len(embedding) = $dim),
         |${pfx}pmu AS (SELECT p.pos,
         |          avg(CAST(x.embedding[CAST(p.pos AS INT)]
         |          AS DOUBLE)) AS m
         |        FROM ${pfx}pxs x CROSS JOIN ${pfx}poss p GROUP BY p.pos),
         |${pfx}pml AS (SELECT list(m ORDER BY pos) AS ml FROM ${pfx}pmu),
         |${pfx}pv0 AS (SELECT list_transform(generate_series(1, $dim), j ->
         |    (CASE WHEN CAST(('0x' || substr(md5('0:' ||
         |        CAST(j - 1 AS VARCHAR)), 1, 15)) AS BIGINT) & 1 = 1
         |      THEN 1.0 ELSE -1.0 END) / sqrt(CAST($dim AS DOUBLE)))
         |    AS vl)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""${pfx}ps$i AS MATERIALIZED (SELECT x.embedding,
         |    list_sum(list_transform(x.embedding, (e, j) ->
         |      CAST(e AS DOUBLE) * v.vl[j]))
         |    - list_sum(list_transform(m.ml, (mm, j) -> mm * v.vl[j]))
         |      AS s
         |  FROM ${pfx}pxs x CROSS JOIN ${pfx}pv${i - 1} v
         |  CROSS JOIN ${pfx}pml m),
         |${pfx}pst$i AS (SELECT sum(s) AS stot FROM ${pfx}ps$i),
         |${pfx}pt$i AS (SELECT p.pos,
         |    sum(CAST(s.embedding[CAST(p.pos AS INT)] AS DOUBLE) * s.s)
         |      AS txs
         |  FROM ${pfx}ps$i s CROSS JOIN ${pfx}poss p GROUP BY p.pos),
         |${pfx}ptl$i AS (SELECT
         |    list(t.txs - mu.m * (SELECT stot FROM ${pfx}pst$i)
         |    ORDER BY t.pos) AS l
         |  FROM ${pfx}pt$i t JOIN ${pfx}pmu mu USING (pos)),
         |${pfx}pv$i AS (SELECT list_transform(l, e -> e /
         |    sqrt(list_sum(list_transform(l, x -> x * x)))) AS vl
         |  FROM ${pfx}ptl$i)""".stripMargin
    }
    (seed +: rounds).mkString(",\n")
  }

  /** Deflation CTE on top of a fitted [[pcaCtes]] stage: the residual
    * frame `x - mu - ((x - mu).v) v` (unrounded), mirroring
    * `Pca.residual`. `fromPfx` names the fitted stage, `out` the
    * emitted CTE (column `embedding`, DOUBLE list).
    */
  def pcaDeflCtes(fromPfx: String, iters: Int, out: String): String =
    s"""${out}_s AS (SELECT x.embedding,
       |    list_sum(list_transform(x.embedding, (e, j) ->
       |      CAST(e AS DOUBLE) * v.vl[j]))
       |    - list_sum(list_transform(m.ml, (mm, j) -> mm * v.vl[j]))
       |      AS s
       |  FROM ${fromPfx}pxs x CROSS JOIN ${fromPfx}pv$iters v
       |  CROSS JOIN ${fromPfx}pml m),
       |$out AS MATERIALIZED (SELECT
       |    list_transform(generate_series(1, 64), j ->
       |    CAST(p.embedding[CAST(j AS INT)] AS DOUBLE) - m.ml[j]
       |      - p.s * v.vl[j]) AS embedding
       |  FROM ${out}_s p CROSS JOIN ${fromPfx}pml m
       |  CROSS JOIN ${fromPfx}pv$iters v)""".stripMargin

  /** Oracle twin of [[graft.ops.TextAnalysis.tfidfTopTerms]] over any
    * `(idCol, text)` source CTE/table: `tok`/`tf`/`dfq`/`nd`/`sc`/`r`
    * — `r` carries the rank window (score DESC, term). ONE generator
    * shared by q114 and q146 so the scoring cannot drift.
    */
  def tfidfCtes(src: String, idCol: String, k: Int): String =
    s"""tok AS (
       |  SELECT $idCol, unnest(list_filter(
       |    string_split_regex(text, ' +'), t -> t <> '')) AS term
       |  FROM $src),
       |tf AS (SELECT $idCol, term, count(*) AS tf
       |       FROM tok GROUP BY $idCol, term),
       |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
       |nd AS (SELECT count(*) AS n_docs FROM $src),
       |sc AS (
       |  SELECT t.$idCol, t.term, t.tf, d.df,
       |    t.tf * ln(CAST(n.n_docs AS DOUBLE) / d.df) AS score
       |  FROM tf t JOIN dfq d USING (term) CROSS JOIN nd n),
       |r AS (
       |  SELECT $idCol, term, tf, df, score,
       |    CAST(row_number() OVER (PARTITION BY $idCol
       |      ORDER BY score DESC, term) AS INT) AS "rank"
       |  FROM sc)""".stripMargin

  /** Id-carrying twin of [[pcaDeflCtes]]: residual rows
    * `(vec_id, embedding)` of `src` under the `fromPfx`-stage fit —
    * for the all-but-top-K query, whose output keeps ids.
    */
  def pcaResidCtes(
      fromPfx: String, iters: Int, src: String, out: String): String =
    s"""${out}_s AS (SELECT e.vec_id, e.embedding,
       |    list_sum(list_transform(e.embedding, (x, j) ->
       |      CAST(x AS DOUBLE) * v.vl[j]))
       |    - list_sum(list_transform(m.ml, (mm, j) -> mm * v.vl[j]))
       |      AS s
       |  FROM $src e CROSS JOIN ${fromPfx}pv$iters v
       |  CROSS JOIN ${fromPfx}pml m
       |  WHERE len(e.embedding) = 64),
       |$out AS MATERIALIZED (SELECT vec_id,
       |    list_transform(generate_series(1, 64), j ->
       |    CAST(p.embedding[CAST(j AS INT)] AS DOUBLE) - m.ml[j]
       |      - p.s * v.vl[j]) AS embedding
       |  FROM ${out}_s p CROSS JOIN ${fromPfx}pml m
       |  CROSS JOIN ${fromPfx}pv$iters v)""".stripMargin

  /** Oracle twin of [[graft.ops.LogReg.train]]: hashed unigram+bigram
    * features L1-normalized per doc (`lx`), label = (lang = 'en'),
    * then `iters` unrolled full-batch GD rounds `m{i}` (per-doc
    * sigmoid error) / `g{i}` (per-bucket gradient) / `w{i}` (the
    * update). Ends at `w{iters}`. ONE generator shared by q118/q119
    * so the training trajectories cannot drift.
    */
  def logregCtes(dim: Int, lr: String, iters: Int,
      label: String = "CASE WHEN lang = 'en' THEN 1.0 ELSE 0.0 END")
      : String = {
    val seed =
      s"""ltkl AS (
         |  SELECT doc_id,
         |    $label AS y,
         |    list_filter(string_split_regex(text, ' +'),
         |      t -> t <> '') AS tk
         |  FROM documents),
         |lf AS (
         |  SELECT doc_id, y, unnest(list_concat(tk,
         |    list_transform(generate_series(2, len(tk)),
         |      i -> tk[CAST(i AS INT) - 1] || ' ' ||
         |        tk[CAST(i AS INT)]))) AS f
         |  FROM ltkl),
         |lfb AS (
         |  SELECT doc_id, y,
         |    ${Hashing.duckPortableHash("f")} % $dim AS bucket,
         |    count(*) AS n
         |  FROM lf GROUP BY doc_id, y, bucket),
         |lx AS MATERIALIZED (
         |  SELECT doc_id, y, bucket, CAST(n AS DOUBLE) /
         |    CAST(sum(n) OVER (PARTITION BY doc_id) AS DOUBLE) AS x
         |  FROM lfb),
         |lxb AS MATERIALIZED (
         |  SELECT * FROM lx
         |  UNION ALL
         |  SELECT DISTINCT doc_id, y, CAST(-1 AS BIGINT) AS bucket,
         |    1.0 AS x
         |  FROM lx),
         |nd AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS nd
         |       FROM lxb),
         |w0 AS (SELECT DISTINCT bucket, 0.0 AS w FROM lxb)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""m$i AS (SELECT t.doc_id,
         |    1.0 / (1.0 + exp(-sum(t.x * w.w))) - max(t.y) AS err
         |  FROM lxb t JOIN w${i - 1} w USING (bucket)
         |  GROUP BY t.doc_id),
         |g$i AS (SELECT t.bucket,
         |    sum(t.x * m.err) / (SELECT nd FROM nd) AS g
         |  FROM lxb t JOIN m$i m USING (doc_id) GROUP BY t.bucket),
         |w$i AS MATERIALIZED (SELECT w.bucket,
         |    w.w - $lr * coalesce(g.g, 0.0) AS w
         |  FROM w${i - 1} w LEFT JOIN g$i g USING (bucket))""".stripMargin
    }
    (seed +: rounds).mkString(",\n")
  }

  /** Oracle twin of [[graft.ops.Bpe.train]]: `tok`/`v0` build the
    * (word, freq) vocabulary with each word as its initial
    * double-space symbol-state string, then `iters` unrolled rounds
    * `p{i}` (adjacent-pair counts, freq-weighted) / `b{i}` (argmax
    * with the (left, right) tie-break) / `m{i}` (the recorded rule) /
    * `v{i}` (the literal replace() that applies the merge). ONE
    * generator so a sibling query cannot drift from q106's replay.
    */
  def bpeTrainCtes(iters: Int): String = {
    val seed =
      s"""tok AS (
         |  SELECT unnest(list_filter(string_split_regex(text, ' +'),
         |    t -> t <> '')) AS token FROM documents),
         |v0 AS (
         |  SELECT ' ' || array_to_string(list_transform(
         |      generate_series(1, length(token)),
         |      i -> substr(token, CAST(i AS INT), 1)), '  ') || ' '
         |    AS state, count(*) AS freq
         |  FROM tok GROUP BY token)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""p$i AS (
         |  SELECT pr.l AS "left", pr.r AS "right",
         |    CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (
         |    SELECT freq, unnest(list_transform(
         |        generate_series(1, len(syms) - 1),
         |        j -> struct_pack(l := syms[CAST(j AS INT)],
         |          r := syms[CAST(j AS INT) + 1]))) AS pr
         |    FROM (SELECT string_split(trim(state), '  ') AS syms, freq
         |          FROM v${i - 1}))
         |  GROUP BY 1, 2),
         |b$i AS (SELECT "left", "right", cnt FROM p$i
         |        ORDER BY cnt DESC, "left", "right" LIMIT 1),
         |m$i AS (SELECT CAST($i AS INT) AS step, "left", "right",
         |          "left" || "right" AS merged, cnt FROM b$i),
         |v$i AS (
         |  SELECT replace(state, ' ' || b."left" || '  ' || b."right" || ' ',
         |      ' ' || b."left" || b."right" || ' ') AS state, freq
         |  FROM v${i - 1} CROSS JOIN b$i b)""".stripMargin
    }
    (seed +: rounds).mkString(",\n")
  }

  /** Oracle twin of [[graft.ops.Bpe.tokenCount]] layered on
    * [[bpeTrainCtes]]: `dtok`/`e0` give every (doc, word) its initial
    * symbol state, then `e{i}` applies round i's rule (`b{i}`) with
    * the same literal replace, and `bpec` sums per-doc symbol counts.
    */
  def bpeEncodeCtes(iters: Int): String = {
    val seed =
      s"""dtok AS (
         |  SELECT doc_id, unnest(list_filter(
         |    string_split_regex(text, ' +'), t -> t <> '')) AS w
         |  FROM documents),
         |e0 AS (
         |  SELECT doc_id, ' ' || array_to_string(list_transform(
         |      generate_series(1, length(w)),
         |      i -> substr(w, CAST(i AS INT), 1)), '  ') || ' ' AS st
         |  FROM dtok)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""e$i AS (
         |  SELECT doc_id, replace(st,
         |      ' ' || b."left" || '  ' || b."right" || ' ',
         |      ' ' || b."left" || b."right" || ' ') AS st
         |  FROM e${i - 1} CROSS JOIN b$i b)""".stripMargin
    }
    val tail =
      s"""bpec AS (
         |  SELECT doc_id, CAST(sum(len(string_split(trim(st), '  ')))
         |    AS BIGINT) AS n_tokens_bpe
         |  FROM e$iters GROUP BY doc_id)""".stripMargin
    (seed +: rounds :+ tail).mkString(",\n")
  }

  /** Deterministic PII planting for q309/q310 (the q149 fixture
    * discipline: the synthetic corpus carries no PII, so the query
    * derives it from doc_id and the oracle replays the same closed
    * forms): doc_id % 3 → an email, % 5 → an E.164 phone, % 7 → an
    * IPv4, % 11 → a 16-digit card candidate whose Luhn validity
    * varies with the id (so BOTH branches of the mod-10 check are
    * exercised).
    */
  def piiAugmented(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("source"),
      concat(
        col("text"),
        when(col("doc_id") % 3 === 0,
          concat(lit(" contact user"), col("doc_id"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 5 === 0,
          concat(lit(" call +1555"),
            lpad((col("doc_id") % 10000).cast("string"), 7, "0")))
          .otherwise(lit("")),
        when(col("doc_id") % 7 === 0,
          concat(lit(" from 10.0."), (col("doc_id") % 256).cast("string"),
            lit("."), ((col("doc_id") * 3) % 256).cast("string")))
          .otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" card 4"),
            lpad(((col("doc_id") * 7919) % 1000000000000000L).cast("string"),
              15, "0"))).otherwise(lit(""))).as("text"))

  /** DuckDB twin of [[piiAugmented]] — emits CTE `aug(doc_id, source,
    * t)`; `where` restricts the planted slice (q318).
    */
  def piiAugCte(where: String = "1 = 1"): String =
    s"""aug AS (SELECT doc_id, source, text ||
      |    CASE WHEN doc_id % 3 = 0 THEN ' contact user' || doc_id ||
      |      '@example.com' ELSE '' END ||
      |    CASE WHEN doc_id % 5 = 0 THEN ' call +1555' ||
      |      lpad(CAST(doc_id % 10000 AS VARCHAR), 7, '0') ELSE '' END ||
      |    CASE WHEN doc_id % 7 = 0 THEN ' from 10.0.' ||
      |      (doc_id % 256) || '.' || ((doc_id * 3) % 256) ELSE '' END ||
      |    CASE WHEN doc_id % 11 = 0 THEN ' card 4' ||
      |      lpad(CAST((doc_id * 7919) % 1000000000000000 AS VARCHAR),
      |        15, '0') ELSE '' END AS t
      |  FROM documents WHERE $where)""".stripMargin

  /** Oracle twin of [[graft.ops.Pii.scan]] over `aug` — emits CTEs
    * `sc` (raw detector matches) and `scl` (+ `cdv`, the Luhn-valid
    * card sublist via the same reverse-indexed mod-10 doubling).
    */
  val piiScanCtes: String =
    s"""sc AS (
       |  SELECT doc_id,
       |    regexp_extract_all(t, '${Pii.emailRe}') AS em,
       |    regexp_extract_all(t, '${Pii.phoneRe}') AS ph,
       |    regexp_extract_all(t, '${Pii.ipv4Re}') AS ip,
       |    regexp_extract_all(t, '${Pii.cardRe}') AS cd
       |  FROM aug),
       |scl AS (
       |  SELECT doc_id, em, ph, ip, cd,
       |    list_filter(cd, c -> list_sum(list_transform(
       |      generate_series(1, length(c)), i ->
       |      CASE WHEN i % 2 = 1
       |        THEN CAST(substring(c, length(c) - i + 1, 1) AS INT)
       |        ELSE CASE WHEN
       |            CAST(substring(c, length(c) - i + 1, 1) AS INT) * 2 > 9
       |          THEN CAST(substring(c, length(c) - i + 1, 1) AS INT) * 2 - 9
       |          ELSE CAST(substring(c, length(c) - i + 1, 1) AS INT) * 2
       |        END
       |      END)) % 10 = 0) AS cdv
       |  FROM sc)""".stripMargin

  /** Oracle twin of [[Similarity.ivfTopK]] searching the codebook CTE
    * `cent` for queries `vec_id BETWEEN qLo AND qHi`: nearest-cell
    * assignment, `nProbe` probed cells, exact cosine re-rank. The
    * consumer applies its own `"rank" <= k` cut on `{p}ranked`. Emits
    * CTEs `{p}cscore`/`{p}rcells`/`{p}corpus`/`{p}query`/`{p}scored`/
    * `{p}ranked` — prefix them when several searches share one WITH.
    */
  def ivfSearchCtes(
      cent: String, nProbe: Int, qLo: Int, qHi: Int,
      p: String = ""): String =
    s"""${p}cscore AS (
       |  SELECT e.vec_id, e.embedding, c.cell_id,
       |    ${duckCos("e.embedding", "c.centvec")} AS cell_cos
       |  FROM embeddings e CROSS JOIN $cent c),
       |${p}rcells AS (
       |  SELECT *, row_number() OVER (PARTITION BY vec_id
       |    ORDER BY cell_cos DESC, cell_id) AS crn FROM ${p}cscore),
       |${p}corpus AS (
       |  SELECT vec_id AS neighbor_id, embedding AS cvec, cell_id
       |  FROM ${p}rcells WHERE crn = 1),
       |${p}query AS (
       |  SELECT vec_id AS query_id, embedding AS qvec, cell_id
       |  FROM ${p}rcells WHERE crn <= $nProbe AND vec_id BETWEEN $qLo AND $qHi),
       |${p}scored AS (
       |  SELECT query_id, neighbor_id, ${duckCos("qvec", "cvec")} AS cos
       |  FROM ${p}corpus JOIN ${p}query USING (cell_id)
       |  WHERE neighbor_id <> query_id),
       |${p}ranked AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, neighbor_id) AS "rank", cos
       |  FROM ${p}scored)""".stripMargin

  /** Oracle twin of [[Similarity.ivfSq8TopK]]'s ADC + shortlist +
    * re-rank stages, built on an [[ivfSearchCtes]] prefix `p`
    * (consumes `{p}corpus` / `{p}query`): SQ8 codes via q73's absmax
    * formula, asymmetric cosine (full-precision query × raw int
    * codes — the scale cancels out of cosine), unrounded shortlist
    * cut tie-broken on neighbor_id, exact re-rank. Ends at
    * `{p}sqranked(query_id, neighbor_id, "rank", cos)`.
    */
  def ivfSq8Ctes(p: String, shortlist: Int): String =
    s"""${p}sqz AS (
       |  SELECT neighbor_id, cell_id, cvec,
       |    coalesce(list_max(list_transform(cvec,
       |      x -> abs(CAST(x AS DOUBLE)))), 0) AS scale
       |  FROM ${p}corpus),
       |${p}sqc AS (
       |  SELECT neighbor_id, cell_id, cvec,
       |    list_transform(cvec, x -> CASE WHEN scale = 0 THEN 0
       |      ELSE CAST(round(CAST(x AS DOUBLE) / scale * 127) AS INT)
       |      END) AS qcodes
       |  FROM ${p}sqz),
       |${p}sqscored AS (
       |  SELECT query_id, neighbor_id, cvec, qvec,
       |    ${duckCos("qvec", "qcodes")} AS adc
       |  FROM ${p}sqc JOIN ${p}query USING (cell_id)
       |  WHERE neighbor_id <> query_id),
       |${p}sqshort AS (
       |  SELECT query_id, neighbor_id, cvec, qvec FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc DESC, neighbor_id) AS slrn FROM ${p}sqscored)
       |  WHERE slrn <= $shortlist),
       |${p}sqranked AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id) AS "rank", cos
       |  FROM (SELECT query_id, neighbor_id,
       |          ${duckCos("qvec", "cvec")} AS cos
       |        FROM ${p}sqshort))""".stripMargin

  /** Oracle twin of [[PageRank.run]]: `iters` unrolled power-iteration
    * rounds over upstream CTEs `prnodes(id)` / `predges(src,dst)`
    * (symmetric, distinct, endpoints ⊆ nodes). Mirrors the op's
    * endpoint/isolate split: only edge endpoints (`prdeg`) carry a
    * per-node rank CTE (`pre{i}`); isolates follow the 1-row scalar
    * recurrence `iso{i}` with dangling mass `dm{i} = nIso·iso_{i-1}`.
    * Arithmetic shape matches the Spark op EXACTLY —
    * `(1 - d)/n + d*(contrib + dmass/n)` with the same association, so
    * both engines walk the same double trajectory. Consumer coalesces
    * `pre{iters}` with `iso{iters}`.
    */
  def pageRankCtes(d: Double, iters: Int): String = {
    val base =
      s"""prn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM prnodes),
         |prdeg AS (SELECT src AS id, CAST(count(*) AS DOUBLE) AS deg
         |          FROM predges GROUP BY src),
         |prniso AS (SELECT CAST((SELECT count(*) FROM prnodes) -
         |                       (SELECT count(*) FROM prdeg) AS DOUBLE) AS c),
         |iso0 AS (SELECT 1.0 / prn.n AS pr FROM prn),
         |pre0 AS (SELECT id, 1.0 / prn.n AS pr FROM prdeg CROSS JOIN prn)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""dm$i AS (
         |  SELECT prniso.c * iso${i - 1}.pr AS dmass
         |  FROM prniso CROSS JOIN iso${i - 1}),
         |iso$i AS (
         |  SELECT (1 - $d) / prn.n + $d * (dm$i.dmass / prn.n) AS pr
         |  FROM prn CROSS JOIN dm$i),
         |ct$i AS (
         |  SELECT e.dst AS id, sum(p.pr / g.deg) AS contrib
         |  FROM predges e JOIN pre${i - 1} p ON p.id = e.src
         |  JOIN prdeg g ON g.id = e.src GROUP BY e.dst),
         |pre$i AS (
         |  SELECT nd.id,
         |    (1 - $d) / prn.n + $d * (coalesce(c.contrib, 0) + dm$i.dmass / prn.n)
         |      AS pr
         |  FROM (SELECT id FROM prdeg) nd CROSS JOIN prn CROSS JOIN dm$i
         |  LEFT JOIN ct$i c USING (id))""".stripMargin
    }
    (base +: rounds).mkString(",\n")
  }

  /** [[pageRankCtes]]'s personalized (TrustRank) twin: expects
    * `prnodes`/`predges`/`prseeds`, emits the seeded-restart rounds
    * ending at `pre<iters>` + `isoS<iters>` (the isolated-seed scalar
    * chain). Non-seed non-endpoint nodes are exact 0 — the caller's
    * final select coalesces accordingly.
    */
  def trustRankCtes(d: Double, iters: Int): String = {
    val base =
      s"""prsn AS (SELECT CAST(count(*) AS DOUBLE) AS ns FROM prseeds),
         |prdeg AS (SELECT src AS id, CAST(count(*) AS DOUBLE) AS deg
         |          FROM predges GROUP BY src),
         |prsv AS MATERIALIZED (SELECT dg.id,
         |    CASE WHEN s.id IS NOT NULL THEN 1.0 / prsn.ns
         |      ELSE 0.0 END AS s
         |  FROM prdeg dg LEFT JOIN prseeds s ON s.id = dg.id
         |  CROSS JOIN prsn),
         |prkiso AS (SELECT CAST((SELECT count(*) FROM prseeds) -
         |    (SELECT count(*) FROM prseeds s JOIN prdeg g
         |       ON g.id = s.id) AS DOUBLE) AS c),
         |isoS0 AS (SELECT 1.0 / prsn.ns AS pr FROM prsn),
         |pre0 AS (SELECT id, s AS pr FROM prsv)""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""dm$i AS (
         |  SELECT prkiso.c * isoS${i - 1}.pr AS dmass
         |  FROM prkiso CROSS JOIN isoS${i - 1}),
         |isoS$i AS (
         |  SELECT (1 - $d) / prsn.ns + $d * (dm$i.dmass / prsn.ns) AS pr
         |  FROM prsn CROSS JOIN dm$i),
         |ct$i AS (
         |  SELECT e.dst AS id, sum(p.pr / g.deg) AS contrib
         |  FROM predges e JOIN pre${i - 1} p ON p.id = e.src
         |  JOIN prdeg g ON g.id = e.src GROUP BY e.dst),
         |pre$i AS (
         |  SELECT sv.id,
         |    (1 - $d) * sv.s + $d * (coalesce(c.contrib, 0)
         |      + dm$i.dmass * sv.s) AS pr
         |  FROM prsv sv CROSS JOIN dm$i
         |  LEFT JOIN ct$i c USING (id))""".stripMargin
    }
    (base +: rounds).mkString(",\n")
  }

  /** Parameterized MinHash signature CTE chain (k=64, 8 bands of r=8)
    * over `documents` rows matching `where` — emits `{p}toks`/`{p}ph`/
    * `{p}sig`/`{p}bands`. ONE generator behind every minhash oracle
    * (the q44/q61/q83 self-join chain via [[minhashVerifiedCtes]] and
    * q93's batch-vs-index form) so the arithmetic cannot drift.
    */
  def minhashSigCtes(p: String, where: String,
      from: String = "documents"): String =
    s"""${p}toks AS (
       |  SELECT doc_id, list_distinct(list_filter(
       |    string_split_regex(text, ' +'), t -> t <> '')) AS tk
       |  FROM $from WHERE $where),
       |${p}ph AS (
       |  SELECT doc_id, tk, list_transform(tk, t ->
       |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 2147483647) AS h31
       |  FROM ${p}toks),
       |${p}sig AS (
       |  SELECT doc_id, tk, CASE WHEN len(h31) > 0 THEN
       |    list_transform(generate_series(0, 63), s ->
       |    list_min(list_transform(h31, h ->
       |      (((s*1103515245 + 12345) % 2147483647) * h
       |       + ((s*2654435761 + 1013904223) % 2147483647)) % 2147483647))) END AS sig
       |  FROM ${p}ph),
       |${p}bands AS (
       |  SELECT doc_id, b.band_id,
       |    md5(array_to_string(list_transform(
       |      list_slice(sig, band_id*8 + 1, band_id*8 + 8),
       |      x -> CAST(x AS VARCHAR)), ',')) AS band_hash
       |  FROM ${p}sig, (SELECT unnest(generate_series(0, 7)) AS band_id) b)"""
      .stripMargin

  /** Shared IBP-barycenter oracle chain (q369/q371): 16-bin dense
    * per-source mass `pm`, squared-cost kernel `kk`, and `iters`
    * unrolled u/φ/b/v Bregman rounds ending at `b<iters>`. ONE
    * generator so the two OT oracles cannot drift.
    */
  def otBaryCtes(iters: Int): String = {
    val rounds = (1 to iters).map { i =>
      s"""u$i AS (SELECT p.g, p.i,
         |    CASE WHEN p.m > 0 THEN p.m / kv.s ELSE 0.0 END AS uu
         |  FROM pm p JOIN (
         |    SELECT v.g, k.i, sum(k.k * v.vv) AS s
         |    FROM v${i - 1} v JOIN kk k ON k.j = v.j
         |    GROUP BY 1, 2) kv
         |    ON kv.g = p.g AND kv.i = p.i),
         |ph$i AS MATERIALIZED (SELECT u.g, k.j,
         |    sum(k.k * u.uu) AS kt
         |  FROM u$i u JOIN kk k ON k.i = u.i
         |  GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT p2.j,
         |    exp(avg(ln(p2.kt * v.vv))) AS bm
         |  FROM ph$i p2 JOIN v${i - 1} v
         |    ON v.g = p2.g AND v.j = p2.j
         |  GROUP BY 1),
         |v$i AS MATERIALIZED (SELECT p2.g, p2.j, b.bm / p2.kt AS vv
         |  FROM ph$i p2 JOIN b$i b ON b.j = p2.j)""".stripMargin
    }.mkString(",\n")
    s"""bb AS (
       |  SELECT source AS g, CAST(least(greatest(
       |    floor((CAST(n_chars AS DOUBLE) - 0.0) / 64.0),
       |    0), 15) AS BIGINT) AS b
       |  FROM documents WHERE n_chars IS NOT NULL),
       |cn AS MATERIALIZED (
       |  SELECT g, b, count(*) AS cnt FROM bb GROUP BY 1, 2),
       |bins AS (SELECT CAST(unnest(generate_series(0, 15))
       |  AS BIGINT) AS b),
       |gs AS (SELECT DISTINCT g FROM cn),
       |gt AS (SELECT g, CAST(sum(cnt) AS DOUBLE) AS tot
       |  FROM cn GROUP BY 1),
       |pm AS MATERIALIZED (SELECT gs.g, bins.b AS i,
       |    CAST(coalesce(c.cnt, 0) AS DOUBLE) / gt.tot AS m
       |  FROM gs CROSS JOIN bins
       |  LEFT JOIN cn c ON c.g = gs.g AND c.b = bins.b
       |  JOIN gt ON gt.g = gs.g),
       |kk AS MATERIALIZED (SELECT i.i, j.j,
       |    exp(-((abs(i.i - j.j) / 15.0) * (abs(i.i - j.j) / 15.0))
       |      / 0.1) AS k
       |  FROM (SELECT unnest(generate_series(0, 15)) AS i) i,
       |       (SELECT unnest(generate_series(0, 15)) AS j) j),
       |v0 AS MATERIALIZED (SELECT gs.g, bins.b AS j, 1.0 AS vv
       |  FROM gs CROSS JOIN bins),
       |$rounds""".stripMargin
  }

  /** Shared oracle CTE chain: MinHash signatures → LSH bands → verified
    * exact-Jaccard pairs on the `doc_id < 1000` slice. q44 selects the
    * pairs directly; q61 stacks a recursive connected-components CTE on
    * top. ONE definition so the two oracles cannot drift (the r3/r5
    * lesson: oracle CTE copies diverge silently).
    */
  val minhashVerifiedCtes: String =
    minhashSigCtes("", "doc_id < 1000") + ",\n" +
    """cand AS (
      |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      |  FROM bands l JOIN bands r
      |    ON l.band_id = r.band_id AND l.band_hash = r.band_hash
      |   AND l.doc_id < r.doc_id),
      |verified AS (
      |  SELECT c.id_a, c.id_b,
      |    round(CAST(len(list_intersect(a.tk, b.tk)) AS DOUBLE) /
      |          len(list_distinct(list_concat(a.tk, b.tk))), 4) AS jaccard
      |  FROM cand c
      |  JOIN toks a ON a.doc_id = c.id_a
      |  JOIN toks b ON b.doc_id = c.id_b)""".stripMargin

  /** 0.8-Jaccard pairs + both-orientation edges on top of
    * [[minhashVerifiedCtes]] — shared prefix of the component chain
    * (q61/q128) and the label-propagation chain (q233).
    */
  val pairsEdgesCtes: String =
    """pairs AS (SELECT id_a, id_b FROM verified WHERE jaccard >= 0.8),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |          UNION ALL SELECT id_b, id_a FROM pairs)""".stripMargin

  /** Near-dup cluster chain on top of [[minhashVerifiedCtes]]:
    * 0.8-Jaccard pairs → recursive label reach → `comp` (id,
    * component) + `sizes`. ONE definition behind q61 and q128 (the
    * r3/r5 oracle-drift lesson). Callers prepend `WITH RECURSIVE`.
    */
  val clusterChainCtes: String =
    pairsEdgesCtes + ",\n" +
    """reach(id, lbl) AS (
      |  SELECT doc_id, doc_id FROM toks
      |  UNION
      |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
      |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
      |sizes AS (SELECT component, count(*) AS cluster_size
      |          FROM comp GROUP BY component)""".stripMargin

  /** [[clusterChainCtes]] parameterized by Jaccard threshold and CTE
    * prefix, so several thresholds' component chains coexist in one
    * query (q356's sweep). `clusterChainCtes` stays the fixed-0.8
    * instantiation q61/q128/q325 share.
    */
  def clusterChainCtesAt(thr: String, f: String): String =
    s"""${f}pairs AS (SELECT id_a, id_b FROM verified
       |  WHERE jaccard >= $thr),
       |${f}edges AS (SELECT id_a AS src, id_b AS dst FROM ${f}pairs
       |          UNION ALL SELECT id_b, id_a FROM ${f}pairs),
       |${f}reach(id, lbl) AS (
       |  SELECT doc_id, doc_id FROM toks
       |  UNION
       |  SELECT e.dst, r.lbl FROM ${f}reach r JOIN ${f}edges e
       |    ON e.src = r.id),
       |${f}comp AS (SELECT id, min(lbl) AS component FROM ${f}reach
       |  GROUP BY id),
       |${f}sizes AS (SELECT component, count(*) AS cluster_size
       |          FROM ${f}comp GROUP BY component)""".stripMargin

  /** Deterministic synchronous label-propagation rounds over
    * [[pairsEdgesCtes]]'s `edges`: each round every node adopts its
    * neighbors' modal label, ties to the smallest, isolated nodes
    * keep theirs — the exact twin of `Components.labelPropagation`.
    * Emits `lp0..lp<rounds>`.
    */
  def lpaCtes(rounds: Int): String = {
    val rs = (1 to rounds).map { i =>
      s"""n$i AS (SELECT e.src AS id, l.lbl, count(*) AS c
         |  FROM edges e JOIN lp${i - 1} l ON l.id = e.dst
         |  GROUP BY 1, 2),
         |b$i AS (SELECT id, lbl, row_number() OVER (
         |    PARTITION BY id ORDER BY c DESC, lbl) AS rk FROM n$i),
         |lp$i AS (SELECT p.id, coalesce(b.lbl, p.lbl) AS lbl
         |  FROM lp${i - 1} p
         |  LEFT JOIN (SELECT id, lbl FROM b$i WHERE rk = 1) b
         |  USING (id))""".stripMargin
    }
    ("lp0 AS (SELECT doc_id AS id, doc_id AS lbl FROM toks)" +: rs)
      .mkString(",\n")
  }

  /** k-NN majority-vote oracle chain over `embeddings` (queries =
    * `vec_id < qMax`, self excluded, vote ties to the smallest
    * label): emits `knp` (query_id, t_label, pred). ONE generator
    * behind the q261 accuracy and q262 confusion oracles so the vote
    * arithmetic cannot drift.
    */
  def knnCtes(qMax: Int, k: Int): String =
    s"""knnq AS (SELECT vec_id AS query_id, embedding AS qvec,
       |    label AS t_label
       |  FROM embeddings WHERE vec_id < $qMax),
       |knnc AS (SELECT vec_id AS neighbor_id, embedding AS cvec,
       |    label AS n_label
       |  FROM embeddings),
       |knsc AS (SELECT query_id, t_label, neighbor_id, n_label,
       |    ${duckCos("qvec", "cvec")} AS cos
       |  FROM knnc CROSS JOIN knnq WHERE neighbor_id <> query_id),
       |knrk AS (SELECT *, row_number() OVER (PARTITION BY query_id
       |    ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM knsc),
       |knv AS (SELECT query_id, t_label, n_label, count(*) AS c
       |  FROM knrk WHERE rank <= $k GROUP BY 1, 2, 3),
       |knp AS (SELECT query_id, t_label, n_label AS pred,
       |    c AS n_votes
       |  FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id
       |      ORDER BY c DESC, n_label) AS vr
       |    FROM knv)
       |  WHERE vr = 1)""".stripMargin

  /** Curation-funnel oracle CTE chain (exact dedup → quality/lang gate
    * → recursive near-dup components) ending in `fate`
    * (doc_id, source, ntok, fate) — ONE definition behind q50's funnel
    * aggregate and q100's end-to-end pipeline, per the r3/r5
    * oracle-drift lesson. Mirrors `CorpusPipeline.fates` at defaults.
    * Callers prepend `WITH RECURSIVE`.
    */
  val curationFateCtes: String =
    """base AS (
      |  SELECT doc_id, text, source FROM documents WHERE doc_id < 1000),
      |exact_w AS (
      |  SELECT min(doc_id) AS doc_id FROM base GROUP BY md5(text)),
      |tk AS (SELECT doc_id, text, source,
      |    list_filter(string_split_regex(text, ' +'), t -> t <> '') AS tk
      |  FROM base),
      |scored AS (
      |  SELECT *,
      |    round((CASE WHEN len(tk) BETWEEN 5 AND 10000 THEN 1.0 ELSE 0.0 END
      |      + CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk)
      |      + CASE WHEN swr > 0 THEN 1.0 ELSE 0.0 END) / 3.0, 4) AS q,
      |    CASE WHEN swr >= 0.05 THEN 'en' ELSE 'other' END AS lang
      |  FROM (SELECT *, CAST(len(list_filter(tk, t -> t IN
      |          ('the','a','an','of','and','to','in','is'))) AS DOUBLE)
      |          / len(tk) AS swr FROM tk)),
      |flagged AS (
      |  SELECT *,
      |    (doc_id IN (SELECT doc_id FROM exact_w)) AS exact_ok,
      |    (doc_id IN (SELECT doc_id FROM exact_w)
      |     AND q >= 0.5 AND lang = 'en') AS gate_ok
      |  FROM scored),
      |gate AS (SELECT doc_id, text, source, tk,
      |    list_distinct(tk) AS dtk
      |  FROM flagged WHERE gate_ok),
      |ph AS (SELECT doc_id, dtk, list_transform(dtk, t ->
      |    CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT) % 2147483647) AS h31
      |  FROM gate),
      |sig AS (
      |  SELECT doc_id, dtk, CASE WHEN len(h31) > 0 THEN
      |    list_transform(generate_series(0, 63), s ->
      |    list_min(list_transform(h31, h ->
      |      (((s*1103515245 + 12345) % 2147483647) * h
      |       + ((s*2654435761 + 1013904223) % 2147483647)) % 2147483647))) END AS sig
      |  FROM ph),
      |bandsx AS (
      |  SELECT doc_id, b.band_id,
      |    md5(array_to_string(list_transform(
      |      list_slice(sig, band_id*8 + 1, band_id*8 + 8),
      |      x -> CAST(x AS VARCHAR)), ',')) AS band_hash
      |  FROM sig, (SELECT unnest(generate_series(0, 7)) AS band_id) b),
      |cand AS (
      |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
      |  FROM bandsx l JOIN bandsx r
      |    ON l.band_id = r.band_id AND l.band_hash = r.band_hash
      |   AND l.doc_id < r.doc_id),
      |pairs AS (
      |  SELECT c.id_a, c.id_b FROM cand c
      |  JOIN sig a ON a.doc_id = c.id_a
      |  JOIN sig b ON b.doc_id = c.id_b
      |  WHERE round(CAST(len(list_intersect(a.dtk, b.dtk)) AS DOUBLE) /
      |        len(list_distinct(list_concat(a.dtk, b.dtk))), 4) >= 0.8),
      |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
      |          UNION ALL SELECT id_b, id_a FROM pairs),
      |reach(id, lbl) AS (
      |  SELECT doc_id, doc_id FROM gate
      |  UNION
      |  SELECT e.dst, r.lbl FROM reach r JOIN edges e ON e.src = r.id),
      |comp AS (SELECT id, min(lbl) AS component FROM reach GROUP BY id),
      |fate AS (
      |  SELECT f.doc_id, f.source, len(f.tk) AS ntok,
      |    CASE WHEN NOT f.exact_ok THEN 'exact_dup'
      |         WHEN NOT f.gate_ok THEN 'quality'
      |         WHEN c.component <> f.doc_id THEN 'near_dup'
      |         ELSE 'kept' END AS fate
      |  FROM flagged f LEFT JOIN comp c ON c.id = f.doc_id)""".stripMargin

  /** SimHash banded-candidate oracle CTE chain over `documents` rows
    * matching `where`, ending in `{p}cand` (id_a, id_b, sa, sb) — ONE
    * generator behind q39's near-dup pairs and q103's dedup-tier
    * evaluation so the signature arithmetic cannot drift.
    */
  def simhashCandCtes(p: String, where: String): String =
    s"""${p}toks AS (
       |  SELECT doc_id, list_distinct(list_filter(
       |    string_split_regex(text, ' +'), t -> t <> '')) AS tk
       |  FROM documents WHERE $where),
       |${p}h AS (SELECT doc_id, list_transform(tk, t ->
       |        CAST(('0x' || substr(md5(t), 1, 15)) AS BIGINT)) AS hs
       |      FROM ${p}toks),
       |${p}sigs AS (
       |  SELECT doc_id, CASE WHEN len(hs) > 0 THEN
       |    CAST(list_sum(list_transform(generate_series(0, 59), b ->
       |    CASE WHEN list_sum(list_transform(hs, x ->
       |           CASE WHEN (x >> b) & 1 = 1 THEN 1 ELSE -1 END)) >= 0
       |         THEN (CAST(1 AS BIGINT) << b) ELSE CAST(0 AS BIGINT)
       |    END)) AS BIGINT) END AS sig
       |  FROM ${p}h),
       |${p}banded AS (
       |  SELECT doc_id, b.band, (sig >> (b.band * 15)) & 32767 AS chunk, sig
       |  FROM ${p}sigs, (SELECT unnest(generate_series(0, 3)) AS band) b),
       |${p}cand AS (
       |  SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b,
       |         l.sig AS sa, r.sig AS sb
       |  FROM ${p}banded l JOIN ${p}banded r
       |    ON l.band = r.band AND l.chunk = r.chunk AND l.doc_id < r.doc_id)"""
      .stripMargin

  /** BM25 ranked-top-k oracle CTE chain ending in `lexr`
    * (doc_id, "rank", score) — ONE generator behind q69's lexical
    * search and q97's hybrid fusion so the scoring math cannot drift.
    * Terms and k1/b mirror `Retrieval.bm25TopK`'s q69 call site.
    */
  def bm25RankedCtes(k: Int): String =
    s"""tk AS (
       |  SELECT doc_id, list_filter(
       |    string_split_regex(text, ' +'), t -> t <> '') AS tk
       |  FROM documents),
       |dl AS (SELECT doc_id, len(tk) AS dl FROM tk),
       |stats AS (SELECT count(*) AS n_docs, avg(dl) AS avgdl FROM dl),
       |post AS (
       |  SELECT doc_id, dl, term, count(*) AS tf FROM (
       |    SELECT t.doc_id, d.dl, unnest(t.tk) AS term
       |    FROM tk t JOIN dl d USING (doc_id))
       |  WHERE term IN ('spark', 'join', 'stream')
       |  GROUP BY doc_id, dl, term),
       |dfreq AS (SELECT term, count(*) AS dfn FROM post GROUP BY term),
       |scored AS (
       |  SELECT p.doc_id,
       |    sum(ln(1 + (s.n_docs - d.dfn + 0.5) / (d.dfn + 0.5)) *
       |        p.tf * 2.2 / (p.tf + 1.2 * (0.25 + 0.75 * p.dl / s.avgdl)))
       |      AS score
       |  FROM post p JOIN dfreq d USING (term) CROSS JOIN stats s
       |  GROUP BY p.doc_id),
       |lexr AS (
       |  SELECT doc_id,
       |    CAST(row_number() OVER (ORDER BY score DESC, doc_id) AS INT)
       |      AS "rank", score
       |  FROM (SELECT doc_id, score FROM scored
       |        ORDER BY score DESC, doc_id LIMIT $k))""".stripMargin

  /** q89's (column, numeric?) list — ONE definition feeding both the
    * Spark profile and its generated DuckDB oracle. Declared before
    * `defs` (strict val) so object init never sees it null.
    */
  val profileCols: Seq[(String, Boolean)] = Seq(
    "l_orderkey" -> true, "l_linenumber" -> true, "l_quantity" -> true,
    "l_extendedprice" -> true, "l_discount" -> true,
    "l_returnflag" -> false, "l_linestatus" -> false)

  /** Bradley–Terry MM iteration oracle chain (q323): expects `games`
    * (a, b, m both orientations) and `wins` (item, wins) CTEs
    * upstream; emits `it0..it<iters>` with `pi` normalized to sum 1
    * each round — the exact twin of [[BradleyTerry.fit]]'s loop.
    */
  def btCtes(iters: Int): String = {
    // MATERIALIZED throughout: each round references the previous
    // twice, so default CTE inlining re-expands the whole chain 2^k
    // times (observed as DuckDB "too many open files" at k = 8).
    val rounds = (1 to iters).map { k =>
      s"""d$k AS MATERIALIZED (SELECT g.a AS item,
         |    sum(CAST(g.m AS DOUBLE) / (pa.pi + pb.pi)) AS d
         |  FROM games g
         |  JOIN it${k - 1} pa ON pa.item = g.a
         |  JOIN it${k - 1} pb ON pb.item = g.b
         |  GROUP BY 1),
         |r$k AS MATERIALIZED (
         |  SELECT w.item, CAST(w.wins AS DOUBLE) / d.d AS raw
         |  FROM wins w JOIN d$k d USING (item)),
         |it$k AS MATERIALIZED (
         |  SELECT item, raw / (SELECT sum(raw) FROM r$k) AS pi
         |  FROM r$k)""".stripMargin
    }
    ("it0 AS MATERIALIZED (SELECT DISTINCT a AS item, 1.0 AS pi FROM games)"
      +: rounds).mkString(",\n")
  }

  /** q342 oracle: unrolled IPF rounds over the lang × source grid.
    * MATERIALIZED for the btCtes reason (each round reads the prior
    * one twice). Integer ppb arithmetic mirrors Mixing.ipfRake: w·t
    * products ≤ 1e18 fit BIGINT; DuckDB sums promote to HUGEINT,
    * which stays exact and is cast back at the end.
    */
  def ipfCtes(rounds: Int): String = {
    val setup =
      """rt AS MATERIALIZED (
        |  SELECT lang, 1000000000 // (SELECT count(*) FROM
        |      (SELECT DISTINCT lang FROM documents)) AS t
        |  FROM (SELECT DISTINCT lang FROM documents)),
        |ct AS MATERIALIZED (
        |  SELECT source, (CAST(count(*) AS BIGINT) * 1000000000) //
        |      (SELECT CAST(count(*) AS BIGINT) FROM documents) AS t
        |  FROM documents GROUP BY 1),
        |w0 AS MATERIALIZED (
        |  SELECT lang, source, CAST(count(*) AS BIGINT) AS n,
        |    (CAST(count(*) AS BIGINT) * 1000000000) //
        |      (SELECT CAST(count(*) AS BIGINT) FROM documents) AS nb,
        |    (CAST(count(*) AS BIGINT) * 1000000000) //
        |      (SELECT CAST(count(*) AS BIGINT) FROM documents) AS w
        |  FROM documents GROUP BY 1, 2)""".stripMargin
    val iter = (1 to rounds).map { k =>
      s"""rm$k AS MATERIALIZED (SELECT lang, sum(w) AS m
         |  FROM w${k - 1} GROUP BY 1),
         |wa$k AS MATERIALIZED (SELECT w.lang, w.source, w.n, w.nb,
         |    CASE WHEN m > 0 THEN (w * coalesce(t, 0)) // m
         |      ELSE 0 END AS w
         |  FROM w${k - 1} w JOIN rm$k USING (lang)
         |  LEFT JOIN rt USING (lang)),
         |cm$k AS MATERIALIZED (SELECT source, sum(w) AS m
         |  FROM wa$k GROUP BY 1),
         |w$k AS MATERIALIZED (SELECT w.lang, w.source, w.n, w.nb,
         |    CASE WHEN m > 0 THEN (w * coalesce(t, 0)) // m
         |      ELSE 0 END AS w
         |  FROM wa$k w JOIN cm$k USING (source)
         |  LEFT JOIN ct USING (source))""".stripMargin
    }
    (setup +: iter).mkString(",\n")
  }

  /** DuckDB entropy fragment for the q332 oracle: H of a (p, n)
    * binary split in nats, 0·ln 0 = 0 — the exact twin of
    * DecisionStump's column expression.
    */
  def duckH(p: String, n: String): String =
    s"""(CASE WHEN $p = 0 OR $p = $n THEN 0.0
       |  ELSE -((CAST($p AS DOUBLE) / CAST($n AS DOUBLE)) *
       |           ln(CAST($p AS DOUBLE) / CAST($n AS DOUBLE)) +
       |         (1.0 - CAST($p AS DOUBLE) / CAST($n AS DOUBLE)) *
       |           ln(1.0 - CAST($p AS DOUBLE) / CAST($n AS DOUBLE)))
       |  END)""".stripMargin

  /** Oracle twin of [[graft.ops.Pq.dist2]]: L2² expanded as
    * x·x − 2·x·c + c·c, three sequential-order list_sums mirroring the
    * three `graft_dot` calls, so both engines walk identical IEEE
    * operations.
    */
  def duckDist2(a: String, b: String): String =
    s"""(list_sum(list_transform($a, x ->
       |      CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))
       |    - 2 * list_sum(list_transform($a, (x, i) ->
       |      CAST(x AS DOUBLE) * CAST($b[i] AS DOUBLE)))
       |    + list_sum(list_transform($b, x ->
       |      CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))""".stripMargin

  /** Oracle twin of [[graft.ops.Pq.train]]: subvector explode (`psv`),
    * hash-rank seeds shared by all subspaces (`pseed`/`pcent0`), then
    * `iters` unrolled Lloyd rounds `passign{i}`/`pcent{i}` — argmin-L2
    * assignment (tie on cell_id), per-position mean rounded to 6
    * decimals and cast to REAL. Ends at `pcent{iters}`.
    */
  def pqCtes(m: Int, subDim: Int, ks: Int, iters: Int,
      f: String = "p"): String = {
    val seed =
      s"""${f}subs AS (SELECT unnest(generate_series(0, ${m - 1})) AS sub),
         |${f}poss AS (SELECT unnest(generate_series(1, $subDim)) AS pos),
         |${f}sv AS MATERIALIZED (SELECT vec_id, sub,
         |    list_slice(embedding, sub * $subDim + 1,
         |      sub * $subDim + $subDim) AS v
         |  FROM embeddings CROSS JOIN ${f}subs),
         |${f}seed AS (
         |  SELECT vec_id, row_number() OVER (ORDER BY h, vec_id) - 1
         |      AS cell_id
         |  FROM (SELECT vec_id,
         |          ${Hashing.duckPortableHash("CAST(vec_id AS VARCHAR)")} AS h
         |        FROM embeddings ORDER BY h, vec_id LIMIT $ks)),
         |${f}cent0 AS (SELECT s.sub, p.cell_id, s.v AS centvec
         |  FROM ${f}sv s JOIN ${f}seed p USING (vec_id))""".stripMargin
    val rounds = (1 to iters).map { i =>
      s"""${f}assign$i AS (
         |  SELECT vec_id, sub, v, cell_id FROM (
         |    SELECT s.vec_id, s.sub, s.v, c.cell_id,
         |      row_number() OVER (PARTITION BY s.vec_id, s.sub
         |        ORDER BY ${duckDist2("s.v", "c.centvec")} ASC,
         |          c.cell_id) AS rn
         |    FROM ${f}sv s JOIN ${f}cent${i - 1} c ON s.sub = c.sub)
         |  WHERE rn = 1),
         |${f}cent$i AS (
         |  SELECT sub, cell_id,
         |    list(CAST(round(mu, 6) AS REAL) ORDER BY pos) AS centvec
         |  FROM (SELECT a.sub, a.cell_id, p.pos,
         |          avg(CAST(a.v[p.pos] AS DOUBLE)) AS mu
         |        FROM ${f}assign$i a CROSS JOIN ${f}poss p
         |        GROUP BY 1, 2, 3)
         |  GROUP BY 1, 2)""".stripMargin
    }
    (seed +: rounds).mkString(",\n")
  }

  /** Oracle twin of `Seasonal.dailyCounts` over events per event_type:
    * the `counted`, `lims`, `grid` and `daily` CTEs (with WITH, ending
    * in a comma).
    */
  val eventsDailyCtes: String =
    """WITH counted AS (
      |  SELECT event_type AS g, epoch_us(ts) // 86400000000 AS d,
      |    count(*) AS x
      |  FROM events GROUP BY 1, 2),
      |lims AS (SELECT g, min(d) AS lo, max(d) AS hi
      |  FROM counted GROUP BY 1),
      |grid AS (SELECT g, unnest(generate_series(lo, hi)) AS d
      |  FROM lims),
      |daily AS (SELECT grid.g, grid.d, coalesce(x, 0) AS x
      |  FROM grid LEFT JOIN counted
      |    ON grid.g = counted.g AND grid.d = counted.d),""".stripMargin

  /** Oracle side of the n_chars drift queries (256 width-4 bins): the
    * FROM that closes the caller's even-id `aa` SELECT, the shifted
    * odd-id sample `bb`, the dense (lang, bin) `grid`, per-side counts
    * `ka`/`kb` and their join `j` (`ca`, `cb`), ending in a comma.
    */
  val nCharsBinCtes: String =
    """  FROM documents WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL),
      |bb AS (
      |  SELECT lang, CAST(least(greatest(
      |      floor(CAST(n_chars + 100 AS DOUBLE) / 4.0), 0), 255)
      |      AS BIGINT) AS b
      |  FROM documents WHERE doc_id % 2 <> 0 AND n_chars IS NOT NULL),
      |langs AS (SELECT DISTINCT lang FROM documents),
      |grid AS (SELECT lang, s AS b FROM langs
      |         CROSS JOIN (SELECT unnest(range(256)) AS s)),
      |ka AS (SELECT lang, b, count(*) AS c FROM aa GROUP BY 1, 2),
      |kb AS (SELECT lang, b, count(*) AS c FROM bb GROUP BY 1, 2),
      |j AS (SELECT g.lang, g.b, coalesce(ka.c, 0) AS ca,
      |        coalesce(kb.c, 0) AS cb
      |      FROM grid g
      |      LEFT JOIN ka ON g.lang = ka.lang AND g.b = ka.b
      |      LEFT JOIN kb ON g.lang = kb.lang AND g.b = kb.b),""".stripMargin

  /** The two n_chars samples' per-bin CDFs over [[nCharsBinCtes]]:
    * `cum` (`cum_a`, `cum_b`, totals `n_a`, `n_b`), with WITH and no
    * trailing comma.
    */
  def nCharsCdfCtes: String =
    s"""WITH aa AS (
       |  SELECT lang, CAST(least(greatest(
       |      floor(CAST(n_chars AS DOUBLE) / 4.0), 0), 255) AS BIGINT)
       |      AS b
       |$nCharsBinCtes
       |cum AS (SELECT lang, b,
       |          sum(ca) OVER w AS cum_a, sum(cb) OVER w AS cum_b,
       |          sum(ca) OVER wa AS n_a, sum(cb) OVER wa AS n_b
       |        FROM j
       |        WINDOW w AS (PARTITION BY lang ORDER BY b),
       |               wa AS (PARTITION BY lang))""".stripMargin

  /** Three versions of customer (`c_custkey`, `c_nationkey`,
    * `c_mktsegment`) for the SCD2 queries: v1 as loaded (`ver` 1); v2
    * with every 11th key deleted and every 7th key's nation bumped
    * (`ver` 2); v3 with the same bump and every 5th segment 'MOVED'
    * (no `ver` column: callers stamp or apply it).
    */
  def customerVersions(
      s: SparkSession, dir: String): (DataFrame, DataFrame, DataFrame) = {
    val cust = t(s, dir, "customer")
      .select("c_custkey", "c_nationkey", "c_mktsegment")
    val bump = when(col("c_custkey") % 7 === 0,
      col("c_nationkey") + 1).otherwise(col("c_nationkey"))
    (cust.withColumn("ver", lit(1)),
      cust.filter(col("c_custkey") % 11 =!= 0)
        .withColumn("c_nationkey", bump)
        .withColumn("ver", lit(2)),
      cust
        .withColumn("c_nationkey", bump)
        .withColumn("c_mktsegment", when(col("c_custkey") % 5 === 0,
          lit("MOVED")).otherwise(col("c_mktsegment"))))
  }

  /** Oracle twin of [[customerVersions]] and the run numbering
    * `Scd2.history` applies to it: the version log `vlog`, its
    * fingerprints `f`, the new-run flags `g` and the run ids `r` (with
    * WITH, ending in a comma).
    */
  def customerVersionRunCtes: String =
    s"""WITH v1 AS (
       |  SELECT c_custkey, c_nationkey, c_mktsegment, 1 AS ver
       |  FROM customer),
       |v2 AS (
       |  SELECT c_custkey,
       |    CASE WHEN c_custkey % 7 = 0 THEN c_nationkey + 1
       |      ELSE c_nationkey END AS c_nationkey,
       |    c_mktsegment, 2 AS ver
       |  FROM customer WHERE c_custkey % 11 <> 0),
       |v3 AS (
       |  SELECT c_custkey,
       |    CASE WHEN c_custkey % 7 = 0 THEN c_nationkey + 1
       |      ELSE c_nationkey END AS c_nationkey,
       |    CASE WHEN c_custkey % 5 = 0 THEN 'MOVED'
       |      ELSE c_mktsegment END AS c_mktsegment,
       |    3 AS ver FROM customer),
       |vlog AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2
       |         UNION ALL SELECT * FROM v3),
       |f AS (SELECT *, ${SnapshotDiff.duckFingerprint(
                Seq("c_nationkey", "c_mktsegment"))} AS fp
       |      FROM vlog),
       |g AS (SELECT *, CASE WHEN lag(fp) OVER w IS NULL
       |        OR lag(fp) OVER w <> fp THEN 1 ELSE 0 END AS nr
       |      FROM f WINDOW w AS (PARTITION BY c_custkey ORDER BY ver)),
       |r AS (SELECT *, sum(nr) OVER (
       |        PARTITION BY c_custkey ORDER BY ver) AS run
       |      FROM g),""".stripMargin

  /** Oracle twin of the n_chars `graft_hist` sketch (256 width-4 bins over
    * [0, 1024) per lang): per-bin counts `cc` with running `cum` and
    * `total` (with WITH, ending in a comma).
    */
  val nCharsHistCtes: String =
    """WITH v AS (
      |  SELECT lang, CAST(n_chars AS DOUBLE) AS v FROM documents
      |  WHERE n_chars IS NOT NULL),
      |b AS (SELECT lang, CAST(least(greatest(floor(v / 4.0), 0), 255)
      |        AS BIGINT) AS b FROM v),
      |c AS (SELECT lang, b, count(*) AS cnt FROM b GROUP BY lang, b),
      |cc AS (SELECT lang, b, cnt,
      |         sum(cnt) OVER (PARTITION BY lang ORDER BY b) AS cum,
      |         sum(cnt) OVER (PARTITION BY lang) AS total
      |       FROM c),""".stripMargin

  /** Oracle for the n_chars histogram percentiles at p = 0.25, 0.5,
    * 0.9 and 0.99, whether the sketch is built in one pass or folded
    * from a stored index.
    */
  def nCharsHistPercentilesSql: String =
    s"""$nCharsHistCtes
       |p AS (SELECT CAST(unnest([0.25, 0.5, 0.9, 0.99]) AS DOUBLE) AS p)
       |SELECT lang, p, CAST(total AS BIGINT) AS n,
       |  round(4.0 * (CAST(b AS DOUBLE)
       |    + (p * CAST(total AS DOUBLE) - CAST(cum - cnt AS DOUBLE))
       |      / CAST(cnt AS DOUBLE)), 4) + 0.0 AS est
       |FROM cc, p
       |WHERE CAST(cum AS DOUBLE) >= p * CAST(total AS DOUBLE)
       |  AND CAST(cum - cnt AS DOUBLE) < p * CAST(total AS DOUBLE)
       |ORDER BY lang, p""".stripMargin

  /** Oracle twin of `GemPipeline.finalizeSchema` over a `roll` CTE: the
    * 19 output columns with the ISO-2 dim joined as `cd`, up to (not
    * including) the ORDER BY.
    */
  def gemFinalizeSql: String =
    """SELECT roll.loc_id AS asset_id, roll.plant AS asset_name,
      |    CAST(NULL AS VARCHAR) AS company_id, roll.company AS company_name,
      |    CASE WHEN roll.country = 'Kosovo' THEN 'XK' ELSE cd.iso2 END AS country_iso2,
      |    roll.country AS country_name, roll.region,
      |    coalesce(CAST(roll.lat AS VARCHAR), 'NA') || ', ' ||
      |      coalesce(CAST(roll.lon AS VARCHAR), 'NA') AS coordinates,
      |    CAST(NULL AS DOUBLE) AS workforce_size,
      |    CAST(NULL AS VARCHAR) AS workforce_source,
      |    'Power' AS sector, roll.technology, roll.capacity,
      |    'MW' AS capacity_unit, roll.year AS production_year,
      |    CAST(NULL AS DOUBLE) AS plant_age_years,
      |    CAST(NULL AS DOUBLE) AS plant_age_rank,
      |    CAST(NULL AS DOUBLE) AS capacity_factor,
      |    CAST(NULL AS DOUBLE) AS emission_factor
      |FROM roll LEFT JOIN """.stripMargin + CountryDim.duckValuesSql +
      " ON roll.country = cd.country_name"

  /** DuckDB pieces of the p = 6 HyperLogLog sketch over a `token`
    * column (`CardinalityEstimate`): the portable hash `h`, the
    * register rank `rho`, the bias constant `alpha` and 2^55 `two55`.
    */
  object hllSql {
    val h: String = Hashing.duckPortableHash("token")
    val rho: String = "CASE WHEN h // 64 = 0 THEN 55" +
      " ELSE 55 - length(bin(h // 64)) END"
    val alpha: String = "(0.7213 / (1.0 + 1.079 / 64.0))"
    val two55: String = "(CAST(1 AS BIGINT) << 55)"

    /** The sketch per source over the space-split tokens of documents:
      * `tok`, hashes `hh`, registers `rr`, scaled sums `sg`, raw and
      * corrected estimates `est`/`est2` (with WITH, ending in a comma).
      */
    def hllCtes: String =
      s"""WITH tok AS (
         |  SELECT source, unnest(list_filter(
         |    string_split_regex(text, ' +'), t -> t <> '')) AS token
         |  FROM documents),
         |hh AS (SELECT source, token, $h AS h FROM tok),
         |rr AS (SELECT source, h % 64 AS b, max($rho) AS m
         |  FROM hh GROUP BY 1, 2),
         |sg AS (SELECT source,
         |    CAST(count(*) AS BIGINT) AS registers_used,
         |    64 - CAST(count(*) AS BIGINT) AS zeros,
         |    CAST(sum(CAST(1 AS BIGINT) << CAST(55 - m AS INT))
         |      AS BIGINT) +
         |      (64 - CAST(count(*) AS BIGINT)) * $two55 AS sum_scaled
         |  FROM rr GROUP BY 1),
         |est AS (SELECT *,
         |    $alpha * 64.0 * 64.0 * CAST($two55 AS DOUBLE) /
         |      CAST(sum_scaled AS DOUBLE) AS raw
         |  FROM sg),
         |est2 AS (SELECT *,
         |    CASE WHEN raw <= 2.5 * 64.0 AND zeros > 0
         |      THEN 64.0 * ln(64.0 / CAST(zeros AS DOUBLE))
         |      ELSE raw END AS e
         |  FROM est),""".stripMargin

    /** The estimate `merged_est` of the registers merged across
      * sources, from a per-bucket max register CTE `mrr` (b, m): the
      * union sketch's scaled sum `msum` and its corrected estimate
      * `mest` (no trailing comma).
      */
    def mergedEstCtes: String =
      s"""msum AS (SELECT 64 - CAST(count(*) AS BIGINT) AS zeros,
         |    CAST(sum(CAST(1 AS BIGINT) << CAST(55 - m AS INT))
         |      AS BIGINT) +
         |      (64 - CAST(count(*) AS BIGINT)) * $two55 AS ss
         |  FROM mrr),
         |mest AS (SELECT round(CASE WHEN raw <= 2.5 * 64.0
         |      AND zeros > 0
         |      THEN 64.0 * ln(64.0 / CAST(zeros AS DOUBLE))
         |      ELSE raw END, 2) AS merged_est
         |  FROM (SELECT zeros,
         |      $alpha * 64.0 * 64.0 * CAST($two55 AS DOUBLE) /
         |        CAST(ss AS DOUBLE) AS raw
         |    FROM msum))""".stripMargin
  }

  /** The nation trade graph of the graph-metric queries: one
    * (`c_nationkey`, `s_nationkey`, `n`) edge per customer-nation →
    * supplier-nation pair with at least 100 line items.
    */
  def tradeEdges(s: SparkSession, dir: String): DataFrame = {
    val cust = t(s, dir, "customer").select("c_custkey", "c_nationkey")
    val ord = t(s, dir, "orders").select("o_orderkey", "o_custkey")
    val li = t(s, dir, "lineitem").select("l_orderkey", "l_suppkey")
    val supp = t(s, dir, "supplier").select("s_suppkey", "s_nationkey")
    cust
      .join(ord, col("c_custkey") === col("o_custkey"))
      .join(li, col("o_orderkey") === col("l_orderkey"))
      .join(supp, col("l_suppkey") === col("s_suppkey"))
      .groupBy("c_nationkey", "s_nationkey")
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= 100)
  }

  /** Oracle twin of [[tradeEdges]] as the canonical undirected edge set
    * `e` (`a` < `b`) and its node degrees `deg` (with WITH, ending in a
    * comma).
    */
  val tradeGraphCtes: String =
    """WITH tr AS (
      |  SELECT c_nationkey AS x, s_nationkey AS y, count(*) AS n
      |  FROM customer
      |  JOIN orders ON c_custkey = o_custkey
      |  JOIN lineitem ON o_orderkey = l_orderkey
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  GROUP BY 1, 2 HAVING count(*) >= 100),
      |e AS (SELECT DISTINCT least(x, y) AS a, greatest(x, y) AS b
      |      FROM tr WHERE x <> y),
      |deg AS (SELECT node, count(*) AS degree FROM (
      |          SELECT a AS node FROM e
      |          UNION ALL SELECT b FROM e)
      |        GROUP BY 1),""".stripMargin

  /** q361/q362's maintained cluster map in `table`: built over the
    * doc_id < 500 half of the first 1000 documents, then merged with
    * the other half as one ingest batch.
    */
  def buildAndMergeClusterMap(
      s: SparkSession, dir: String, table: String): Unit = {
    val docs = t(s, dir, "documents")
      .filter(col("doc_id") < 1000).select("doc_id", "text")
    val old = docs.filter(col("doc_id") < 500)
    val batch = docs.filter(col("doc_id") >= 500)
      .transform(Pin.shared)
    // One band/token build per corpus half: the three pair frames
    // share one signature fold and one tokenize fold.
    val (oldPairs, internal, cross) = Dedup.maintenancePairSets(
      old, batch, "doc_id", "text",
      k = 64, bands = 8, threshold = 0.8)
    Components.writeClusterIndex(s, old, "doc_id", oldPairs,
      "id_a", "id_b", table, buckets = 8)
    Components.mergeClusterIndex(s, table,
      batch, "doc_id", internal, "id_a", "id_b",
      cross, "batch_id", "index_id", buckets = 8)
  }

  /** Oracle twin of `Similarity`'s exact-cosine top-k tail at k = 3:
    * scores the (`query_id`, `qvec`) × (`neighbor_id`, `cvec`)
    * candidates of `from`, ranks them per query (ties to the smaller
    * id) and ends in the final ordered SELECT.
    */
  def cosineTop3Sql(from: String): String =
    s"""scored AS (
       |  SELECT query_id, neighbor_id,
       |    ${duckCos("qvec", "cvec")} AS cos
       |  FROM $from),
       |ranked AS (
       |  SELECT query_id, neighbor_id,
       |    row_number() OVER (PARTITION BY query_id
       |                       ORDER BY cos DESC, neighbor_id) AS "rank", cos
       |  FROM scored)
       |SELECT query_id, neighbor_id, "rank", round(cos, 4) AS cos
       |FROM ranked WHERE "rank" <= 3
       |ORDER BY query_id, "rank"""".stripMargin

  /** Oracle twin of `Sampling.temperatureMix` (sqrt-n source rates
    * toward `targetRows`) then `Sampling.shuffleShards` (hash order,
    * `shardSize` docs per shard) over a `kept` (doc_id, source) CTE;
    * ends in the final ordered SELECT.
    */
  def mixShardSql(targetRows: Int, shardSize: Int): String =
    s"""mixn AS (SELECT source, count(*) AS n FROM kept GROUP BY source),
       |mixs AS (SELECT source, n,
       |    CAST(floor(sqrt(n) * 1000000) AS BIGINT) AS s6 FROM mixn),
       |mixt AS (SELECT sum(s6) AS tot6 FROM mixs),
       |mixr AS (SELECT source, least(1000000, CAST(
       |    CAST(s6 AS HUGEINT) * $targetRows * 1000000 //
       |      (CAST(tot6 AS HUGEINT) * n) AS BIGINT)) AS rate_ppm
       |  FROM mixs CROSS JOIN mixt),
       |mixed AS (
       |  SELECT k.doc_id, k.source, r.rate_ppm
       |  FROM kept k JOIN mixr r USING (source)
       |  WHERE ${Hashing.duckPortableHash("CAST(doc_id AS VARCHAR)")}
       |    % 1000000 < r.rate_ppm),
       |hashed AS (
       |  SELECT source, doc_id, rate_ppm,
       |    ${Hashing.duckPortableHash("CAST(doc_id AS VARCHAR)")} AS h
       |  FROM mixed)
       |SELECT source, doc_id, rate_ppm,
       |  row_number() OVER (ORDER BY h, CAST(doc_id AS VARCHAR)) - 1
       |    AS "rank",
       |  (row_number() OVER (ORDER BY h, CAST(doc_id AS VARCHAR)) - 1)
       |    // $shardSize AS shard
       |FROM hashed ORDER BY "rank"""".stripMargin

  /** Oracle twin of `Itemsets.rules` over a `b` (basket, item) CTE:
    * frequent items and pairs at `minSupport`, both rule directions,
    * support/confidence/lift; ends in the final ordered SELECT.
    */
  def assocRulesSql(minSupport: Int): String =
    s"""nb AS (SELECT count(DISTINCT basket) AS n FROM b),
       |l1 AS (SELECT item, count(*) AS n_item FROM b
       |       GROUP BY 1 HAVING count(*) >= $minSupport),
       |fb AS (SELECT b.basket, b.item FROM b JOIN l1 USING (item)),
       |p AS (SELECT x.item AS item_a, y.item AS item_b,
       |        count(*) AS n_both
       |      FROM fb x JOIN fb y
       |        ON x.basket = y.basket AND x.item < y.item
       |      GROUP BY 1, 2 HAVING count(*) >= $minSupport),
       |d AS (SELECT item_a AS antecedent, item_b AS consequent,
       |        n_both FROM p
       |      UNION ALL
       |      SELECT item_b, item_a, n_both FROM p)
       |SELECT antecedent, consequent, n_both,
       |  la.n_item AS n_ante, lc.n_item AS n_cons,
       |  round(CAST(n_both AS DOUBLE) / nb.n, 6) AS support,
       |  round(CAST(n_both AS DOUBLE) / la.n_item, 6) AS confidence,
       |  round(CAST(n_both AS DOUBLE) * nb.n /
       |    (CAST(la.n_item AS DOUBLE) * lc.n_item), 6) AS lift
       |FROM d
       |JOIN l1 la ON d.antecedent = la.item
       |JOIN l1 lc ON d.consequent = lc.item, nb
       |ORDER BY 1, 2""".stripMargin

  /** Oracle of the SCD2 history over [[customerVersions]]: validity
    * runs per key, counted per (valid_from, valid_to, is_current).
    */
  def scd2HistorySql: String =
    s"""$customerVersionRunCtes
       |runs AS (SELECT c_custkey, run, min(ver) AS valid_from
       |         FROM r GROUP BY 1, 2),
       |iv AS (SELECT c_custkey, valid_from,
       |         lead(valid_from) OVER (
       |           PARTITION BY c_custkey ORDER BY valid_from) - 1
       |           AS valid_to
       |       FROM runs)
       |SELECT valid_from, valid_to, valid_to IS NULL AS is_current,
       |  count(*) AS n, count(DISTINCT c_custkey) AS n_keys
       |FROM iv GROUP BY 1, 2, 3
       |ORDER BY 1, 2 NULLS FIRST""".stripMargin

  /** Whitespace-token counts before (`ca`, over every document) and
    * after exact dedup (`cb`, over the min-id `keep` set), as CTEs
    * `tka`..`cb` ending in a comma.
    */
  val dedupTokenCountCtes: String =
    """tka AS (SELECT unnest(list_filter(
      |    string_split_regex(text, ' +'), t -> t <> '')) AS tok
      |  FROM documents),
      |ca AS (SELECT tok, count(*) AS c_a FROM tka GROUP BY 1),
      |keep AS (SELECT min(doc_id) AS doc_id FROM documents
      |  GROUP BY md5(text)),
      |tkb AS (SELECT unnest(list_filter(
      |    string_split_regex(text, ' +'), t -> t <> '')) AS tok
      |  FROM documents
      |  WHERE doc_id IN (SELECT doc_id FROM keep)),
      |cb AS (SELECT tok, count(*) AS c_b FROM tkb GROUP BY 1),""".stripMargin

  /** One token's term of the Jensen-Shannon divergence between the
    * `c_a`/`tokens_a` and `c_b`/`tokens_b` distributions, in integer
    * nano-nats, as the select item `t`.
    */
  val jsTermSql: String =
    """    (CASE WHEN c_a > 0 THEN CAST(round(
      |      CAST(c_a AS DOUBLE) / tokens_a / 2.0 *
      |      ln((CAST(c_a AS DOUBLE) / tokens_a) /
      |        ((CAST(c_a AS DOUBLE) / tokens_a +
      |          CAST(c_b AS DOUBLE) / tokens_b) / 2.0)) *
      |      1000000000.0) AS BIGINT) ELSE 0 END
      |   + CASE WHEN c_b > 0 THEN CAST(round(
      |      CAST(c_b AS DOUBLE) / tokens_b / 2.0 *
      |      ln((CAST(c_b AS DOUBLE) / tokens_b) /
      |        ((CAST(c_a AS DOUBLE) / tokens_a +
      |          CAST(c_b AS DOUBLE) / tokens_b) / 2.0)) *
      |      1000000000.0) AS BIGINT) ELSE 0 END) AS t""".stripMargin

  /** Oracle twin of the web-curation steps over the documents CTE
    * `src` (`id`, `canon`, `domain`) and a `hits` (doc_id) CTE: `s1`
    * one doc per canonical URL, `s2` at most 20 per domain, `s3` none
    * flagged by `hits` (no trailing comma).
    */
  def webCurateCtes(src: String): String =
    s"""s1 AS (
       |  SELECT * FROM (
       |    SELECT *, CASE WHEN canon IS NULL THEN 1
       |      ELSE row_number() OVER (PARTITION BY canon
       |        ORDER BY id) END AS rk
       |    FROM $src) WHERE rk = 1),
       |s2 AS (
       |  SELECT * FROM (
       |    SELECT *, CASE WHEN domain IS NULL THEN 1
       |      ELSE row_number() OVER (PARTITION BY domain
       |        ORDER BY md5(CAST(id AS VARCHAR)), id) END AS rk2
       |    FROM s1) WHERE rk2 <= 20),
       |flagged AS (SELECT DISTINCT doc_id FROM hits),
       |s3 AS (SELECT * FROM s2
       |       WHERE id NOT IN (SELECT doc_id FROM flagged))""".stripMargin

  /** Oracle twin of `Sessionize.gapSessions` over events per user with a
    * 30-minute gap: `b0`, lagged `l` and session ids `s` (`sess`), with
    * WITH, ending in a comma.
    */
  val eventSessionCtes: String =
    """WITH b0 AS (
      |  SELECT user_id, event_id, event_type, epoch_us(ts) AS t
      |  FROM events),
      |l AS (SELECT *, lag(t) OVER (PARTITION BY user_id
      |    ORDER BY t, event_id) AS pt FROM b0),
      |s AS (SELECT *, sum(CASE WHEN pt IS NULL
      |      OR t - pt > 1800000000 THEN 1 ELSE 0 END)
      |    OVER (PARTITION BY user_id ORDER BY t, event_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |    AS sess
      |  FROM l),""".stripMargin
}
