package graft.tools

import graft.core.Graft
import graft.ops.{Bpe, Components, CorpusPipeline, Dedup, GraphMetrics,
  LanguageModel, LineDedup, PageRank, SpanDedup, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Scaling-evidence probe for the dedup tier (builder-side tool, not a
  * catalog query): tiles the q44 document slice N× and times the four
  * heaviest corpus operators at each scale, so "would this still work
  * at 100 TB" gets a measured growth curve instead of an argument.
  *
  * Tiling gives each copy a DISJOINT vocabulary (every token prefixed
  * with the tile id) and disjoint doc ids, so the near-dup graph of the
  * tiled corpus is exactly N independent copies of the original —
  * pair/cluster density per tile is unchanged, and a linearly-scaling
  * operator should show ~linear wall clock. (Tiling with identical
  * text would instead add N·|docs| artificial exact-dup cliques and
  * measure a different, quadratically-inflated problem.)
  *
  * Usage: `sbt "Test/runMain graft.tools.ScaleProbe [sfDir] [tiles,...] [reps]
  * [ops,...]"`; defaults: sf0.1, tiles 1,3,10, 2 interleaved reps
  * (this box's per-run variance is ±2-3×, so the minimum over
  * interleaved passes is the number to read), all ops. Prints one
  * JSON line per (op, tiles, rep).
  */
object ScaleProbe {

  /** 8 patterns that genuinely hit the synthetic vocabulary (tiled
    * tokens keep their suffix, so hit density per tile is unchanged)…
    */
  private val blockPatterns8 = Seq("table", "spark", "merge", "window",
    "a a", "fast table", "batch batch", "slow merge")

  /** …plus 504 synthetic never-matching patterns: a ~4k-node automaton
    * whose scan cost should be indistinguishable from the 8-pattern
    * one — the measured form of the O(text + matches) claim.
    */
  private val blockPatterns512 = blockPatterns8 ++
    (0 until 504).map(i => s"zq${i}x${i % 7}q")

  /** Synthetic per-doc URL over 8 domains with enough variant axes
    * that URL dedup, the domain cap and the robots gate all have
    * non-trivial work (the q382 fixture's shape, probe-local).
    */
  private def probeUrl(id: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    concat(
      elt(pmod(id, lit(2)).cast("int") + 1, lit("http"), lit("https")),
      lit("://"),
      elt(pmod(id, lit(8)).cast("int") + 1,
        lit("a.example.com"), lit("b.example.com"), lit("shop.co.uk"),
        lit("news.co.uk"), lit("x.github.io"), lit("y.org"),
        lit("z.net"), lit("plain.de")),
      lit("/p"), pmod(id, lit(977)).cast("string"),
      elt(pmod(id, lit(3)).cast("int") + 1,
        lit(""), lit("?utm_source=x&a=1"), lit("#f")))

  private def probeRobots(
      spark: org.apache.spark.sql.SparkSession)
      : org.apache.spark.sql.DataFrame = {
    import spark.implicits._
    Seq(
      ("example.com", "User-agent: *\nDisallow: /p1\n"),
      ("shop.co.uk", "User-agent: *\nDisallow: /\n"),
      ("plain.de", "User-agent: *\nDisallow: /p2\nAllow: /p20\n"))
      .toDF("domain", "robots_txt")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val tiles = args.lift(1).getOrElse("1,3,10").split(",").map(_.toInt).toSeq
    val reps = args.lift(2).map(_.toInt).getOrElse(2)
    val opFilter = args.lift(3).map(_.split(",").toSet)
    val spark = Graft.session("graft-scaleprobe")

    val base = Graft.table(spark, sfDir, "documents")
      .filter(col("doc_id") < 1000) // the q44/q61 slice
    def tiled(n: Int): DataFrame = (0 until n).map { i =>
      if (i == 0) base
      else base
        .withColumn("doc_id", col("doc_id") + lit(i * 1000000L))
        .withColumn("text", array_join(
          transform(split(col("text"), " +"), t => concat(lit(s"v$i"), t)),
          " "))
    }.reduce(_ unionByName _)

    def time(body: => DataFrame): Double = {
      val t0 = System.nanoTime()
      body.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }

    // Interleaved passes: scale-up ratios within one pass are
    // comparable even when the box's absolute speed drifts between
    // passes.
    for (rep <- 1 to reps; n <- tiles) {
      val df = tiled(n).localCheckpoint(true) // input materialized once
      val rows = df.count()
      val ops: Seq[(String, () => DataFrame)] = Seq(
        "minhash_pairs" -> (() =>
          Dedup.minhashNearDups(df, "doc_id", "text",
            k = 64, bands = 8, threshold = 0.8)),
        "dedup_clusters" -> (() => {
          val pairs = Dedup.minhashNearDups(df, "doc_id", "text",
            k = 64, bands = 8, threshold = 0.8)
          Components.dedupClusters(df, "doc_id", pairs, "id_a", "id_b")
        }),
        "curate" -> (() => CorpusPipeline.curate(df)),
        "repetition" -> (() =>
          TextAnalysis.repetitionSignals(df, "doc_id", "text")),
        "line_dedup" -> (() => {
          val segs = df.select(col("doc_id"),
            LineDedup.tokenSegments(col("text"), 10).as("segs"))
          LineDedup.dedupSegments(segs, "doc_id", "segs")
        }),
        "repeated_ngrams" -> (() =>
          TextAnalysis.repeatedNgramSignals(df, "doc_id", "text", n = 8)),
        "lm_score" -> (() => {
          val lm = LanguageModel.trainUnigram(df, "text")
          LanguageModel.scoreNll(df, "doc_id", "text", lm)
        }),
        "pagerank" -> (() => {
          val pairs = Dedup.minhashNearDups(df, "doc_id", "text",
            k = 64, bands = 8, threshold = 0.8)
          PageRank.run(df, "doc_id", pairs, "id_a", "id_b")
        }),
        "span_dedup" -> (() =>
          SpanDedup.removeRepeatedSpans(df, "doc_id", "text", n = 8)),
        // Driver-loop iteration floor like clusters/pagerank: rounds
        // are fixed (4), per-round cost tracks the vocab aggregate.
        "bpe_train" -> (() => Bpe.train(df, "text", merges = 4)),
        // Incremental posture (q93): the odd-id half arrives as today's
        // batch and probes the even-id half as the standing index —
        // cost should track the BATCH size, staying well under the
        // self-join ops above at equal total rows.
        "incremental_neardups" -> (() =>
          Dedup.incrementalNearDups(
            df.filter(col("doc_id") % 2 === 1),
            df.filter(col("doc_id") % 2 === 0),
            "doc_id", "text", k = 64, bands = 8, threshold = 0.8)),
        // Model-frame ops: cost should track the corpus pass count,
        // with the dim-bounded model join never inflating the shuffle.
        "dsir_select" -> (() =>
          graft.ops.Dsir.importanceSelect(df, "doc_id", "text",
            df.filter(col("lang") === "en"), dim = 1024, k = 100)),
        // 3-round driver-loop floor like bpe_train; per-round cost is
        // two combinable aggregates over the feature frame.
        "logreg_train" -> (() =>
          graft.ops.LogReg.train(
            df.withColumn("y", (col("lang") === "en").cast("int")),
            "doc_id", "text", "y", dim = 256, lr = 1.0, iters = 3)),
        // Component-iteration family (q232/q286/q294): cost =
        // pairs + the delta-frontier round floor (+ one labeled-edge
        // aggregate / argmax). Tiling multiplies rows but NOT round
        // count (tiles are disjoint graphs), so growth should track
        // the pair stage, not explode with the partition count.
        "modularity" -> (() => {
          val pairs = Dedup.minhashNearDups(df, "doc_id", "text",
            k = 64, bands = 8, threshold = 0.8)
          val clusters = Components.dedupClusters(
            df, "doc_id", pairs, "id_a", "id_b")
          GraphMetrics.modularity(pairs, "id_a", "id_b",
            clusters, "doc_id", "component")
        }),
        "cluster_ari" -> (() => {
          val pairs7 = Dedup.minhashNearDups(df, "doc_id", "text",
            k = 64, bands = 8, threshold = 0.7).localCheckpoint(true)
          def cl(p: DataFrame, as: String) =
            Components.dedupClusters(df, "doc_id", p, "id_a", "id_b")
              .select(col("doc_id"), col("component").as(as))
          Components.adjustedRandIndex(
            cl(pairs7, "ca"),
            cl(pairs7.where(col("jaccard") >= 0.8), "cb"),
            "doc_id", "ca", "cb")
        }),
        "medoid" -> (() => {
          val pairs = Dedup.minhashNearDups(df, "doc_id", "text",
            k = 64, bands = 8, threshold = 0.8).localCheckpoint(true)
          val clusters = Components.dedupClusters(
            df, "doc_id", pairs, "id_a", "id_b")
          Components.medoidPerCluster(clusters, "doc_id",
            pairs, "id_a", "id_b", "jaccard")
        }),
        // Round-12 scrub/index tier: pii + skeleton are pure narrow
        // passes (expect ~linear), the postings build is the one
        // corpus explode+shuffle an index write costs.
        "pii_scan" -> (() =>
          graft.ops.Pii.scan(df, "doc_id", "text")),
        "skeleton_dedup" -> (() =>
          graft.ops.Homoglyph.dupGroups(df, "doc_id", "text")),
        "bm25_index_build" -> (() =>
          graft.ops.Retrieval.bm25Postings(df, "doc_id", "text")),
        // Round-12 session-2 tier. vocab_coverage: the tiled corpus
        // multiplies the VOCAB too (disjoint token prefixes), so this
        // measures the distributed rank/prefix-sum path on a
        // Heaps-law-growing frame — the exact thing the q214-class
        // single-task window would have died on. conformal: one
        // combinable mean + one distributed sort of the calibration
        // half. emd_drift: two bounded sketches per group — expect
        // near-flat (sketch size is nbins, not rows). stump: one
        // combinable (feature × bucket) aggregate — near-flat too.
        "vocab_coverage" -> (() =>
          TextAnalysis.vocabCoverage(df, "text",
            Seq(1L, 10L, 100L, 1000L))),
        "conformal" -> (() =>
          graft.ops.Conformal.splitConformalMean(
            df.withColumn("v", col("n_chars").cast("double")),
            "doc_id", "lang", "v", alphaPpm = 100000L)),
        "emd_drift" -> (() =>
          graft.ops.Drift.emdFromHists(
            df.filter(col("doc_id") % 2 === 0),
            df.filter(col("doc_id") % 2 =!= 0)
              .withColumn("n_chars", col("n_chars") + lit(100L)),
            "lang", "n_chars", lo = 0.0, hi = 1024.0, nbins = 256)),
        "decision_stump" -> (() =>
          graft.ops.DecisionStump.fit(
            df.select(col("n_chars"),
              TextAnalysis.tokenCount(col("text")).cast("long")
                .as("n_tokens"),
              when(col("n_chars") >= 300, 1L).otherwise(0L).as("y")),
            "y", Seq(("n_chars", 100L), ("n_tokens", 10L)))),
        // Round-13: the r12 governance ops get their scaling rows.
        // roc_auc: one combinable (score → pos/neg) aggregate, then
        // rank/prefix passes over the DISTINCT-SCORE frame (tiling
        // leaves the score domain fixed, so expect near-flat).
        "roc_auc" -> (() =>
          graft.ops.Classifier.rocAuc(
            df.select((col("n_chars") % 1000L).cast("double").as("s"),
              (col("lang") === "en").as("y")),
            "s", "y", thresholds = Seq(200.0, 500.0, 800.0))),
        // ipf_rake: `rounds` × two combinable marginal aggregates +
        // a broadcast factor join; the factor frames are
        // |langs|/|sources|-sized, never row-proportional.
        "ipf_rake" -> (() => {
          val langs = df.select("lang").distinct()
            .collect().map(_.getString(0)).sorted
          val srcs = df.select("source").distinct()
            .collect().map(_.getString(0)).sorted
          graft.ops.Mixing.ipfRake(df, "lang", "source",
            langs.map(l => l -> 100L), srcs.map(s => s -> 200L),
            rounds = 5)
        }),
        // license_prop: cluster build + one per-component max + a
        // broadcast-back; rides the component family's floor.
        "license_prop" -> (() => {
          val pairs = Dedup.minhashNearDups(df, "doc_id", "text",
            k = 64, bands = 8, threshold = 0.8)
          val clusters = Components.dedupClusters(
            df, "doc_id", pairs, "id_a", "id_b")
          Components.licensePropagation(
            df.withColumn("own",
              when(col("doc_id") % 10L === 9L, 2L)
                .when(col("doc_id") % 10L >= 6L, 1L).otherwise(0L)),
            "doc_id", "source", "own", clusters, restrictedRank = 2L)
        }),
        // Round-13 composite tier (VERDICT ask #6): the e2e jobs that
        // previously had only an sf0.1 point. corpus_to_shards =
        // q100's body (curate → temperature-mix → shard sort);
        // release_manifest = q318's body with the cluster stage
        // inline (the probe tiles FRESH corpora, so there is no
        // standing index to probe — this measures the build-side
        // composite, the worst case the stored map amortizes away).
        "corpus_to_shards" -> (() => {
          val kept = CorpusPipeline.curatedDocs(df)
            .select("doc_id", "source").localCheckpoint(true)
          val mixed = graft.ops.Sampling.temperatureMix(
            kept, "doc_id", "source", targetRows = 50L * n)
          graft.ops.Sampling.shuffleShards(mixed, "doc_id",
            shardSize = 32L).orderBy("rank")
        }),
        "release_manifest" -> (() => {
          val slice = df.select("doc_id", "text")
          val pii = graft.ops.Pii.scan(slice, "doc_id", "text")
            .localCheckpoint(true)
          val pairs = Dedup.minhashNearDups(slice, "doc_id", "text",
            k = 64, bands = 8, threshold = 0.8)
          val clusters = Components.dedupClusters(
            slice, "doc_id", pairs, "id_a", "id_b").localCheckpoint(true)
          val keepers = clusters.groupBy("component")
            .agg(min(col("doc_id")).as("doc_id"))
          val nRaw = slice.agg(count(lit(1)).as("n_raw"))
          val nExact = slice.agg(
            countDistinct(md5(col("text"))).as("n_exact_unique"))
          val nCl = clusters.agg(
            countDistinct(col("component")).as("n_clusters"))
          val nPii = pii.agg(sum(when(col("has_pii"), 1L).otherwise(0L))
            .as("n_pii_docs"))
          val nRel = keepers.join(pii, "doc_id")
            .where(!col("has_pii"))
            .agg(count(lit(1)).as("n_release_keepers"))
          nRaw.crossJoin(broadcast(nExact)).crossJoin(broadcast(nCl))
            .crossJoin(broadcast(nPii)).crossJoin(broadcast(nRel))
        }),
        // Round-13 session-2 tier. mojibake: pure narrow scalar pass
        // (signature counts + chained replaces) + one source
        // aggregate — expect ~linear with a small constant.
        // sinkhorn_ot: ONE histogram pass, then 8 scaling rounds on
        // model-sized frames — expect near-flat beyond the scan.
        "mojibake_repair" -> (() => {
          import graft.ops.Encoding
          val planted = df.withColumn("c",
            when(pmod(col("doc_id"), lit(4L)) === 0,
              concat(col("text"), lit(" thÃ© â€™"))).otherwise(col("text")))
          planted
            .withColumn("sig", Encoding.signatureHits(col("c")))
            .withColumn("fixed", Encoding.repairCommon(col("c")))
            .groupBy("source")
            .agg(sum(col("sig")).as("hits"),
              sum(when(Encoding.signatureHits(col("fixed")) > 0, 1L)
                .otherwise(0L)).as("dirty_after"))
        }),
        "sinkhorn_ot" -> (() =>
          graft.ops.Drift.sinkhornToReference(
            df, "source", "n_chars", lo = 0.0, hi = 1024.0,
            nbins = 16, eps = 0.1, iters = 8)),
        // Round-14 (VERDICT r13 task 7): the trust tier's tiling row.
        // Pairs + 5 pinned rank rounds over edge endpoints only —
        // expect the minhash_pairs growth plus a round floor that does
        // NOT grow with tiles (disjoint graphs iterate in parallel).
        "trustrank" -> (() => {
          val pairs = Dedup.minhashNearDups(df, "doc_id", "text",
            k = 64, bands = 8, threshold = 0.8)
          PageRank.personalized(df, "doc_id", pairs, "id_a", "id_b",
            df.filter(col("doc_id") % 17 === 0).select("doc_id"),
            "doc_id", damping = 0.85, iters = 5)
        }),
        // Same corpus-independent floor claim as sinkhorn_ot, with the
        // dense groups × bins grid.
        "ot_barycenter" -> (() =>
          graft.ops.Drift.sinkhornBarycenter(
            df, "source", "n_chars", lo = 0.0, hi = 1024.0,
            nbins = 16, eps = 0.1, iters = 8)),
        // Round-14 session-2: Aho–Corasick blocklist. The whole claim
        // is O(text + matches) INDEPENDENT of pattern count — so the
        // probe runs the same scan with 8 real patterns and with those
        // 8 plus 504 synthetic never-matching ones (a ~4k-node
        // automaton). The two rows should sit on top of each other at
        // every tile count, and both should grow ~linearly.
        "blocklist_scan_8" -> (() =>
          graft.ops.Blocklist.report(df, "doc_id", "text",
            blockPatterns8)),
        "blocklist_scan_512" -> (() =>
          graft.ops.Blocklist.report(df, "doc_id", "text",
            blockPatterns512)),
        // Redaction + closed-loop audit: TWO automaton passes plus
        // length arithmetic per row and a |sources| rollup — expect
        // the blocklist_scan shape at roughly twice the constant.
        "blocklist_scrub" -> (() =>
          graft.ops.Blocklist.scrubAudit(df, "source", "text",
            blockPatterns8)),
        // robots.txt audit: a broadcast of dimension-sized site config
        // + one cached-parse prefix match per row — expect ~flat past
        // the scan. The synthetic URL spreads docs over 8 domains.
        "robots_audit" -> (() => {
          import spark.implicits._
          graft.ops.WebCorpus.robotsAudit(
            df.withColumn("url", probeUrl(col("doc_id"))),
            "doc_id", "url", probeRobots(spark))
        }),
        // The q391 compliance funnel end to end: robots gate → URL
        // dedup (agg+join) → two-stage domain cap → blocklist gate.
        // Every stage is scan- or group-shaped; expect ~linear.
        "url_funnel" -> (() => {
          val docs = df.withColumn("url", probeUrl(col("doc_id")))
          val compliant = graft.ops.WebCorpus.robotsAudit(
              docs, "doc_id", "url", probeRobots(spark))
            .where(col("allowed") === 1).select("doc_id")
          val s1 = graft.ops.WebCorpus.urlDedup(
            docs.join(compliant, "doc_id"), "doc_id", "url")
          val s2 = graft.ops.WebCorpus.domainCap(s1, "doc_id", "url",
            maxPerDomain = 1000000)
          graft.ops.Blocklist.clean(s2, "text", blockPatterns8)
            .groupBy("source").agg(count(lit(1)).as("n_clean"))
        }),
        // The domainCap null-branch claim, measured (round 15, VERDICT
        // r14 task 1): 90% of URLs are UNPARSEABLE — the adversarial
        // crawl slice that used to serialize through the single
        // `__domain = null` window partition. With the filter+union
        // bypass the null rows never reach a Window, so expect ~linear
        // scan-bound growth, no cliff as the null mass tiles up.
        "domain_cap_nulls" -> (() =>
          graft.ops.WebCorpus.domainCap(
            df.withColumn("url",
              when(col("doc_id") % 10 < 9,
                concat(lit("not a url #"), col("doc_id").cast("string")))
                .otherwise(probeUrl(col("doc_id")))),
            "doc_id", "url", maxPerDomain = 100)),
        // HTML tier (round 15): the fixture page wraps each document's
        // TEXT in markup (so payload volume tracks the tiled corpus),
        // and extraction + link graph are timed as the WARC→text step
        // would run — one narrow codegen'd pass, then for the graph a
        // (site, site)-keyed rollup. Expect ~linear for both.
        "html_extract" -> (() => {
          val html = concat(
            lit("<!--c--><html><head><title>T</title>" +
              "<script>var a=1<2;</script></head><body><p>"),
            col("text"),
            lit("</p><a href=\"https://x"),
            pmod(col("doc_id"), lit(50)).cast("string"),
            lit(".example.com/p\">l</a>&nbsp;t</body></html>"))
          graft.ops.WebCorpus.textExtractionReport(
            df.withColumn("html", html), "source", "html")
        }),
        "link_graph" -> (() => {
          val html = concat(
            lit("<html><body><a href=\"https://site-"),
            pmod(col("doc_id"), lit(97)).cast("string"),
            lit(".org/x\">a</a><a href=\"https://site-"),
            pmod(col("doc_id") * 7, lit(97)).cast("string"),
            lit(".org/y\">b</a></body></html>"))
          graft.ops.WebCorpus.linkGraph(
            df.withColumn("url", probeUrl(col("doc_id")))
              .withColumn("html", html),
            "url", "html")
        }),
        // HTTP envelope tier (round 16): wrap each document's text in
        // a full HTTP response message (bytes) and run the gated
        // funnel — envelope parse + charset sniff + conditional
        // extract, one narrow codegen'd pass + a |sources| rollup.
        // Expect ~linear in payload volume.
        "http_funnel" -> (() => {
          val payload = encode(concat(
            lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
              "charset=utf-8\r\n\r\n<p>"),
            col("text"), lit("</p>")), "UTF-8")
          graft.ops.WebCorpus.httpFunnel(
            df.withColumn("payload_bytes", payload),
            "source", "payload_bytes")
        }),
        // Sitemap tier (round 16): one synthetic 3-entry sitemap per
        // document row, parsed + rolled up per domain (97 domains).
        // Scanner is narrow; the shuffle ships |domains| partials.
        "sitemap_parse" -> (() => {
          val xml = concat(
            lit("<urlset><url><loc>https://site-"),
            pmod(col("doc_id"), lit(97)).cast("string"),
            lit(".org/a</loc><lastmod>2026-01-15</lastmod></url>" +
              "<url><loc>https://site-"),
            pmod(col("doc_id"), lit(97)).cast("string"),
            lit(".org/b</loc><lastmod>2024-06-01</lastmod></url>" +
              "<url><loc>https://site-"),
            pmod(col("doc_id"), lit(97)).cast("string"),
            lit(".org/c</loc></url></urlset>"))
          graft.ops.WebCorpus.sitemapRecrawl(
            df.select(
              concat(lit("site-"), pmod(col("doc_id"), lit(97))
                .cast("string"), lit(".org")).as("domain"),
              xml.as("sitemap_xml")),
            "domain", "sitemap_xml", "2026-01-01")
        }),
        // Anchor-text graph (round 16): the link_graph shape plus the
        // per-(src,dst,text) count and per-pair argmax — two keyed
        // rollups on |edges| grain. Expect ~linear like link_graph.
        "anchor_graph" -> (() => {
          val html = concat(
            lit("<html><body><a href=\"https://site-"),
            pmod(col("doc_id"), lit(97)).cast("string"),
            lit(".org/x\">"),
            elt((pmod(col("doc_id"), lit(3)) + 1).cast("int"),
              lit("click here"), lit("read more"), lit("details")),
            lit("</a></body></html>"))
          graft.ops.WebCorpus.anchorGraph(
            df.withColumn("url", probeUrl(col("doc_id")))
              .withColumn("html", html),
            "url", "html")
        }),
        // Capped anchor field on a HOT page (round 18, VERDICT r17
        // task 2): every doc links the SAME destination with a
        // per-doc distinct anchor text, so the hot page's in-link
        // text set grows ~linearly with tiles (disjoint doc ids).
        // The salted two-stage top-K bounds per-task state by the
        // hottest (page, salt) shard and the final collect at
        // maxTexts — expect ~linear scan-bound growth and no
        // single-task cliff; the pre-cap collect_set held the whole
        // unbounded set in ONE aggregation buffer.
        "anchor_field_hot" -> (() =>
          graft.ops.WebCorpus.anchorTextField(
            df.withColumn("url", probeUrl(col("doc_id")))
              .withColumn("html", concat(
                lit("<a href=\"http://hot.example/p\">variant "),
                col("doc_id").cast("string"), lit(" link</a>"))),
            "url", "html", maxTexts = 64)),
        // TextRank (q336, round 15 — VERDICT r14 task 5): adjacency
        // bigrams via the narrow pos/pos+1 self-join keyed on
        // (doc_id, pos), distinct word graph, then the shared
        // PageRank kernel at fixed rounds. Expect the pair stage to
        // grow ~linearly (tiled vocabularies are disjoint, so the
        // graph is N independent copies) and the round floor to stay
        // put — the same shape claim as trustrank/modularity.
        "textrank" -> (() => {
          val pos = df.select(col("doc_id"),
            posexplode(TextAnalysis.tokens(col("text")))
              .as(Seq("pos", "w")))
          val pairs = pos.alias("l")
            .join(pos.alias("r"),
              col("l.doc_id") === col("r.doc_id") &&
                col("r.pos") === col("l.pos") + 1)
            .select(col("l.w").as("wa"), col("r.w").as("wb"))
            .where(col("wa") =!= col("wb"))
            .select(
              graft.functions.Hashing.portableHash(col("wa")).as("src"),
              graft.functions.Hashing.portableHash(col("wb")).as("dst"))
            .distinct()
          val names = pos.select(col("w")).distinct()
            .select(col("w"),
              graft.functions.Hashing.portableHash(col("w")).as("id"))
          PageRank.run(names.select("id"), "id", pairs, "src", "dst",
              damping = 0.85, iters = 5)
            .join(names, "id")
            .select(col("w").as("token"), col("pr"))
            .orderBy(col("pr").desc, col("token")).limit(10)
        }),
        // Multi-threshold dedup sweep (q356, round 15 — task 5): LSH
        // pairs found ONCE at the loosest τ, then ONE lifted-plane
        // component pass covers all three thresholds. Expect the
        // minhash_pairs growth plus a convergence floor that does not
        // multiply with the threshold count — the one-chain-not-three
        // claim, measured.
        "threshold_sweep" -> (() => {
          val pairs0 = Dedup.minhashNearDups(df, "doc_id", "text",
            k = 64, bands = 8, threshold = 0.7).localCheckpoint(true)
          val taus = Seq(700, 800, 900)
          def lift(p: Int, c: org.apache.spark.sql.Column) =
            lit(p.toLong) * 100000000L + c
          val liftedNodes = taus.map(p => df.select(
            lift(p, col("doc_id")).as("doc_id"))).reduce(_ unionByName _)
          val liftedPairs = taus.map(p =>
            pairs0.where(col("jaccard") >= p / 1000.0)
              .select(lift(p, col("id_a")).as("id_a"),
                lift(p, col("id_b")).as("id_b"))).reduce(_ unionByName _)
          Components.dedupClusters(liftedNodes, "doc_id",
              liftedPairs, "id_a", "id_b")
            .where(col("cluster_size") >= 2L)
            .withColumn("threshold_permil",
              expr("CAST(doc_id DIV 100000000L AS INT)"))
            .groupBy("threshold_permil")
            .agg(count_distinct(col("component")).as("n_clusters"),
              count(lit(1)).as("n_docs_in_clusters"))
        }))
      // Dashboard probe (q367): the four index tables are built
      // UNTIMED per tile (their build costs are the minhash_pairs /
      // dedup_clusters / histogram rows above); the timed body is the
      // index-only probe, whose cost should track the INDEX size
      // (docs × small constants), not corpus text volume.
      // Forget-audit fixture (round 14, VERDICT r13 task 7): the
      // cluster map the RTBF cycle mutates is built UNTIMED per
      // (rep, tile) — its build cost is the dedup_clusters row — so
      // the timed body is the audit → forgetKeys → audit cycle
      // itself: two membership anti-join audits plus one versioned
      // index rewrite. Expect ~linear in the index (map rows), with
      // the versioned-publish constant on top.
      // Round-14 session-2: dHash image tier. The PNG corpus (one
      // 18×16 image per doc, mixed-hash texture so cross-tile ids
      // almost never collide — pair density per tile stays constant,
      // the same disjointness argument as the token prefixes) is
      // built UNTIMED; the timed bodies are the hashing map alone and
      // the hash + banded-LSH pair join. Expect ~linear for both: the
      // map is narrow, the join keys on 16-bit bands whose bucket
      // population per tile is unchanged.
      val imagesOn = opFilter.forall(f =>
        f("image_dhash") || f("image_dhash_pairs") ||
          f("image_dhash_probe"))
      val imageOps: Seq[(String, () => DataFrame)] =
        if (!imagesOn) Seq.empty
        else {
          import spark.implicits._
          val media = df.select(col("doc_id")).as[Long].map { id =>
            val base = id / 4
            val delta = (id % 4).toInt
            val (w, h) = (18, 16)
            def tex(p: Int): Int = {
              val z = base * 288L + p
              val m = (z ^ (z >>> 13)) * 0x9E3779B97F4A7C15L
              ((m >>> 32) & 0x7f).toInt
            }
            val px = Array.tabulate(w * h) { p =>
              val blob =
                if (id % 4 == 3 && p % w < 2 && p / w < 2) 100 else 0
              (tex(p) + delta + blob).toByte
            }
            (id, graft.queries.MediaFixtures.pngFromPixels(
              w, h, 1, px, y => ((id + y) % 5).toInt))
          }.toDF("id", "bytes").localCheckpoint(true)
          // Stored-index posture: the standing half's band index is
          // built UNTIMED (its cost is the image_dhash row); the
          // timed probe hashes only the batch half and joins the
          // bucketed index with no index-side exchange — cost should
          // track the BATCH, the same claim as incremental_neardups.
          graft.sources.Layout.replaceBucketed(spark,
            graft.ops.ImageHash.bandIndexRows(
              graft.ops.ImageHash.dhash(spark,
                media.filter(col("id") % 2 === 0))),
            "sp_dhash_bands", "band_key", buckets = 8)
          Seq(
            "image_dhash" -> (() =>
              graft.ops.ImageHash.dhash(spark, media)),
            "image_dhash_pairs" -> (() =>
              graft.ops.ImageHash.nearDupPairs(
                graft.ops.ImageHash.dhash(spark, media),
                maxHamming = 3)),
            "image_dhash_probe" -> (() =>
              graft.ops.ImageHash.incrementalPairsFromIndex(
                graft.ops.ImageHash.dhash(spark,
                  media.filter(col("id") % 2 === 1)),
                graft.sources.Layout.table(spark, "sp_dhash_bands"))))
        }
      val forgetOn = opFilter.forall(_.contains("forget_audit"))
      if (forgetOn) {
        val pairs = Dedup.minhashNearDups(df, "doc_id", "text",
          k = 64, bands = 8, threshold = 0.8).localCheckpoint(true)
        Components.writeClusterIndex(spark, df, "doc_id", pairs,
          "id_a", "id_b", "sp_cmap_f", buckets = 8)
      }
      val forgetOps: Seq[(String, () => DataFrame)] =
        if (!forgetOn) Seq.empty
        else Seq("forget_audit" -> (() => {
          import graft.ops.Reconcile
          import graft.sources.Layout
          val deleted = df.filter(col("doc_id") % 50L === 0L)
            .select("doc_id")
          val remaining = df.select("doc_id")
            .join(deleted, Seq("doc_id"), "left_anti")
          val pre = Reconcile.indexSync(remaining, "doc_id",
              Layout.table(spark, "sp_cmap_f"), "doc_id")
            .withColumn("phase", lit("pre_forget"))
            .localCheckpoint(true)
          Layout.forgetKeys(spark, "sp_cmap_f", "doc_id", "doc_id",
            deleted, buckets = 8)
          val post = Reconcile.indexSync(remaining, "doc_id",
              Layout.table(spark, "sp_cmap_f"), "doc_id")
            .withColumn("phase", lit("post_forget"))
          pre.unionByName(post)
        }))
      // Cluster-map maintenance tier (round 15, VERDICT r14 task 2):
      // q361/q362 lead the bench's heavy tail because each BUILDS its
      // standing state per run; here the standing map, band index and
      // token index over the TILED corpus are built UNTIMED (their
      // costs are the dedup_clusters / minhash_pairs rows), and the
      // ingest batch is FIXED (tile 0's second half re-keyed, same
      // tile-0 vocabulary). cluster_merge times the maintenance cycle
      // — stored-index cross pairs + batch-internal pairs + touched-
      // component union-find + idempotent append — and must track the
      // DELTA, staying ~flat as the standing corpus tiles up (the
      // touched set never leaves tile 0). cluster_compact times the
      // resolve-then-rewrite heal + versioned publish and is honestly
      // INDEX-sized: expect ~linear in tiles, with no superlinear
      // publish overhead.
      val maintOn = opFilter.forall(f =>
        f("cluster_merge") || f("cluster_compact"))
      val maintOps: Seq[(String, () => DataFrame)] =
        if (!maintOn) Seq.empty
        else {
          val standingPairs = Dedup.minhashNearDups(df, "doc_id",
            "text", k = 64, bands = 8, threshold = 0.8)
            .localCheckpoint(true)
          Components.writeClusterIndex(spark, df, "doc_id",
            standingPairs, "id_a", "id_b", "sp_cmap_m", buckets = 8)
          graft.sources.Layout.replaceBucketed(spark,
            Dedup.lshBands(df, "doc_id", "text", 64, 8),
            "sp_nd_bands_m", "band_hash", buckets = 8)
          graft.sources.Layout.replaceBucketed(spark,
            Dedup.tokenIndex(df, "doc_id", "text"),
            "sp_nd_toks_m", "doc_id", buckets = 8)
          val batch = base
            .filter(col("doc_id") >= 500).select("doc_id", "text")
            .withColumn("doc_id", col("doc_id") + lit(900000000L))
            .localCheckpoint(true)
          Seq(
            "cluster_merge" -> (() => {
              val cross = Dedup.incrementalNearDupsFromIndex(
                batch, "doc_id", "text",
                graft.sources.Layout.table(spark, "sp_nd_bands_m"),
                graft.sources.Layout.table(spark, "sp_nd_toks_m"),
                k = 64, bands = 8, threshold = 0.8)
              val internal = Dedup.minhashNearDups(batch, "doc_id",
                "text", k = 64, bands = 8, threshold = 0.8)
              Components.mergeClusterIndex(spark, "sp_cmap_m",
                batch, "doc_id", internal, "id_a", "id_b",
                cross, "batch_id", "index_id", buckets = 8)
              // delta-sized probe: the batch rows' resolved labels
              graft.sources.Layout.table(spark, "sp_cmap_m")
                .join(broadcast(batch.select("doc_id")), "doc_id")
                .groupBy("doc_id").agg(min("component").as("component"))
            }),
            "cluster_compact" -> (() => {
              Components.compactClusterIndex(spark, "sp_cmap_m",
                buckets = 8)
              graft.sources.Layout.table(spark, "sp_cmap_m")
                .groupBy(lit(1).as("one"))
                .agg(count(lit(1)).as("n_rows"),
                  count_distinct(col("doc_id")).as("n_docs"))
            }))
        }
      val dashboardOn = opFilter.forall(_.contains("health_probe"))
      if (dashboardOn) {
        import graft.ops.{CardinalityEstimate, Components,
          CorpusPipeline, Dedup, Stats}
        import graft.sources.Layout
        val pairs = Dedup.minhashNearDups(df, "doc_id", "text",
          k = 64, bands = 8, threshold = 0.8).localCheckpoint(true)
        Components.writeClusterIndex(spark, df, "doc_id", pairs,
          "id_a", "id_b", "sp_cmap", buckets = 8)
        Layout.replaceBucketed(spark, df.select("doc_id", "source"),
          "sp_docstore", "doc_id", buckets = 8)
        Layout.replaceTable(spark,
          CardinalityEstimate.hllRegisters(
            df.select(col("source"),
              explode(split(col("text"), " +")).as("token"))
              .where(col("token") =!= ""),
            "source", "token", p = 6),
          "sp_hll")
        Layout.replaceBucketed(spark,
          Stats.histPartials(df.withColumn("_s", lit(0L)),
            "source", "_s", "n_chars", 0.0, 1024.0, 256),
          "sp_hist", "source", buckets = 8)
      }
      val probeOps: Seq[(String, () => DataFrame)] =
        if (!dashboardOn) Seq.empty
        else Seq("health_probe" -> (() => {
          // single manifest snapshot = mutually-consistent versions
          val snap = graft.sources.Layout.snapshot(spark)
          graft.ops.CorpusPipeline.healthFromIndexes(
            snap.table("sp_cmap"), snap.table("sp_docstore"),
            snap.table("sp_hll"), snap.table("sp_hist"),
            "source", p = 6, lo = 0.0, hi = 1024.0, nbins = 256)
        }))
      // imageOps gets the same per-op filter as the main list:
      // requesting only image_dhash must not also time (and report)
      // its two siblings just because the trio was built together.
      (ops.filter(o => opFilter.forall(_.contains(o._1))) ++
        imageOps.filter(o => opFilter.forall(_.contains(o._1))) ++
        maintOps.filter(o => opFilter.forall(_.contains(o._1))) ++
        forgetOps ++ probeOps)
        .foreach { case (name, f) =>
          val sec = time(f())
          println(f"""{"op":"$name","tiles":$n,"rows":$rows,"rep":$rep,"sec":$sec%.3f}""")
        }
      df.unpersist()
    }

    // --- GEM composite tier (round 13, VERDICT ask #6): tile the
    // q43-style synthetic coal tracker built from `supplier` and run
    // the full wrangle → finalize → totals chain at each scale. The
    // tile offsets unit/location keys by 1M·i, so locations (the
    // coordinate-canonicalization and rollup grain) are DISJOINT per
    // tile — group density is unchanged, exactly like the document
    // tiling above. Owners/countries stay SHARED across tiles (they
    // are dimensions in real data too), so the company-id and
    // country joins keep dimension-sized right sides as rows grow —
    // which is the 100 TB claim under test.
    if (opFilter.forall(f => f("gem_wrangle") || f("gem_totals"))) {
      import graft.ops.{GemPipeline, TrackerConfigs}
      import graft.sources.CountryDim
      val supplier = Graft.table(spark, sfDir, "supplier")
        .join(Graft.table(spark, sfDir, "nation"),
          col("s_nationkey") === col("n_nationkey"))
        .select("s_suppkey", "s_name", "s_acctbal", "n_nationkey",
          "n_regionkey")
        .localCheckpoint(true)
      def coalRaw(offset: Long): DataFrame = {
        val k = col("s_suppkey") + lit(offset)
        supplier.select(
          concat(lit("CU"), k).as("GEM unit/phase ID"),
          concat(lit("CL"), (k / 4).cast("long")).as("GEM location ID"),
          concat(lit("CPlant "), (k / 4).cast("long")).as("Plant name"),
          elt(pmod(col("n_nationkey"), lit(4)) + 1,
            lit("Germany"), lit("France"), lit("Kosovo"), lit("Atlantis"))
            .as("Country/Area"),
          concat(lit("Region "), col("n_regionkey")).as("Region"),
          when(pmod(k, lit(3)) === 0,
            lit("Alpha Corp [60%]; Beta GmbH [40%]"))
            .when(pmod(k, lit(3)) === 1,
              concat(col("s_name"), lit(" [100%]")))
            .otherwise(col("s_name")).as("Owner"),
          when(pmod(k, lit(13)) === 0, lit("unknown"))
            .otherwise(col("s_acctbal").cast("string"))
            .as("Capacity (MW)"),
          element_at(array(lit("operating"), lit("construction"),
            lit("announced"), lit("pre-construction"), lit("retired")),
            (pmod(k, lit(5)) + 1).cast("int")).as("Status"),
          when(pmod(k, lit(7)) === 0, lit("not found"))
            .otherwise((lit(1990) + pmod(k, lit(45))).cast("string"))
            .as("Start year"),
          when(pmod(k, lit(6)) === 0,
            (lit(2015) + pmod(k, lit(30))).cast("string"))
            .otherwise(lit(null).cast("string"))
            .as("Planned retirement"),
          pmod(k, lit(50)).cast("string").as("Plant age (years)"),
          (pmod(k, lit(180)) - 90 + pmod(k, lit(3)) * 0.25)
            .cast("double").as("Latitude"),
          (pmod(k, lit(360)) - 180 + pmod(k, lit(3)) * 0.25)
            .cast("double").as("Longitude"))
      }
      val r = col("r_regionkey")
      val steel = Graft.table(spark, sfDir, "region").select(
        concat(lit("S"), r).as("asset_id"),
        concat(lit("Steel "), r).as("asset_name"),
        concat(lit("STL"), r).as("company_id"),
        elt(pmod(r, lit(3)) + 1, lit("Alpha Corp"), lit("Gamma Inc"),
          lit("ZNoMatch")).as("company_name"),
        lit("US").as("country_iso2"),
        lit("United States").as("country_name"),
        concat(lit("Region "), r).as("region"),
        lit("40.0, -75.0").as("coordinates"),
        lit(null).cast("double").as("workforce_size"),
        lit(null).cast("string").as("workforce_source"),
        lit("Power").as("sector"), lit("SteelCap").as("technology"),
        (r * 7.0).as("capacity"), lit("MW").as("capacity_unit"),
        lit(2030).as("production_year"),
        lit(null).cast("double").as("plant_age_years"),
        lit(null).cast("double").as("plant_age_rank"),
        lit(null).cast("double").as("capacity_factor"),
        lit(null).cast("double").as("emission_factor"))
      val nk = col("n_nationkey")
      val factors = Graft.table(spark, sfDir, "nation").select(
        elt(pmod(nk, lit(2)) + 1, lit("CoalCap"), lit("GasCap"))
          .as("technology"),
        elt(pmod(nk, lit(3)) + 1, lit("DE"), lit("FR"), lit("XK"))
          .as("country_iso2"),
        (nk + 1.0).as("emissions_factor"))
      for (rep <- 1 to reps; n <- tiles) {
        val raw = (0 until n)
          .map(i => coalRaw(i * 1000000L)).reduce(_ unionByName _)
          .localCheckpoint(true)
        val rows = raw.count()
        def fin() = GemPipeline.wrangle(TrackerConfigs.coal)(raw)
          .transform(GemPipeline.finalizeSchema(
            TrackerConfigs.coal, CountryDim.dim(spark)))
        if (opFilter.forall(_.contains("gem_wrangle"))) {
          val sec = time(fin())
          println(f"""{"op":"gem_wrangle","tiles":$n,"rows":$rows,"rep":$rep,"sec":$sec%.3f}""")
        }
        if (opFilter.forall(_.contains("gem_totals"))) {
          val sec = time(GemPipeline.totals(Seq(fin()), steel, factors))
          println(f"""{"op":"gem_totals","tiles":$n,"rows":$rows,"rep":$rep,"sec":$sec%.3f}""")
        }
        raw.unpersist()
      }
    }
    // --- WARC ingest byte-tiling (round 16, VERDICT r15 task 8): the
    // r15 WARC rows tiled file COUNT; this one tiles BYTES PER FILE —
    // record size ×(20·n) at a fixed record count, the whole corpus
    // packed into 2 part files, so at n=30 each gzip member inflates
    // to hundreds of MB. The record-streaming walk holds memory ∝ one
    // record, so expect wall ~linear in bytes and no cliff; the old
    // whole-file inflate held file + inflated + all-payload copies
    // per task and would climb super-linearly into OOM territory.
    // The write is OUTSIDE the timed region — the row measures the
    // read path.
    if (opFilter.forall(_.contains("warc_ingest_bytes"))) {
      for (rep <- 1 to reps; n <- tiles) {
        val tmp = s"/tmp/graft_sp_warc_bytes_$n"
        val docs = base.select(
          concat(lit("http://site-"),
            pmod(col("doc_id"), lit(97)).cast("string"),
            lit(".org/d/"), col("doc_id")).as("url"),
          repeat(col("text"), 20 * n).as("payload"))
          .coalesce(2)
        graft.sources.Warc.writeGzip(docs, tmp, "url", "payload")
        val bytes = docs.select(sum(octet_length(col("payload"))))
          .collect()(0).getLong(0)
        val sec = time(
          graft.sources.Warc.read(spark, tmp)
            .groupBy()
            .agg(count(lit(1)).as("n_records"),
              sum("n_bytes").as("payload_bytes")))
        println(f"""{"op":"warc_ingest_bytes","tiles":$n,"rows":$bytes,"rep":$rep,"sec":$sec%.3f}""")
      }
    }
    // --- fromWarc end-to-end file-count tiling (round 17, VERDICT r16
    // task 8): the one-call ingest — record-streaming read → head-only
    // envelope gate → charset decode → HTML text → canonical-URL dedup
    // — timed as the FILE COUNT grows with per-file bytes held fixed,
    // the axis a real crawl scales on (a cut is thousands of ~1 GB
    // files, not one growing file). tiled(n) multiplies rows;
    // repartition(2n) keeps rows-per-file constant. The payload mix
    // includes 404 and non-HTTP rows so the gate does real work, and
    // probeUrl's utm/fragment variants give the dedup real groups.
    // Write untimed; expect ~linear wall in file count (task floor at
    // small n), single-parse per record after the round-17 fix.
    if (opFilter.forall(_.contains("fromwarc_files"))) {
      for (rep <- 1 to reps; n <- tiles) {
        val tmp = s"/tmp/graft_sp_fromwarc_$n"
        val docs = tiled(n).select(
          probeUrl(col("doc_id")).as("url"),
          concat(
            elt(pmod(col("doc_id"), lit(5)).cast("int") + 1,
              lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<p>"),
              lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<p>"),
              lit("HTTP/1.1 200 OK\r\nContent-Type: text/html; " +
                "charset=utf-8\r\n\r\n<p>"),
              lit("HTTP/1.1 404 Not Found\r\nContent-Type: " +
                "text/html\r\n\r\n<p>"),
              lit("not-http <p>")),
            col("text"), lit("</p>")).as("payload"))
          .repartition(2 * n)
        graft.sources.Warc.writeGzip(docs, tmp, "url", "payload")
        val rows = docs.count()
        val sec = time(graft.ops.CorpusPipeline.fromWarc(spark, tmp))
        println(f"""{"op":"fromwarc_files","tiles":$n,"rows":$rows,"rep":$rep,"sec":$sec%.3f}""")
      }
    }
    // --- Revisit-pass byte-tiling (round 17): readRevisits over a cut
    // whose CONTENT payloads grow ×(20·n) while its (tiny) revisit
    // records stay fixed — the revisit reader strict-SKIPS every
    // content body through a reused scratch buffer, so wall should
    // track the decompress floor and allocation should track the
    // revisit rows, never the page bytes. Write untimed.
    // --- Robots-pass byte-tiling (round 18, VERDICT r17 task 3):
    // robotsFromWarc over a cut whose PAGE payloads grow ×(20·n)
    // while its (tiny, fixed) /robots.txt captures stay put — the
    // pushed-down Target-URI predicate strict-skips every page body
    // through the scratch buffer, so wall should track the decompress
    // floor like warc_revisit_scan, never the page volume (the
    // pre-push readBinary materialized every page byte task-side).
    if (opFilter.forall(_.contains("robots_scan"))) {
      for (rep <- 1 to reps; n <- tiles) {
        val tmp = s"/tmp/graft_sp_robots_$n"
        val host = concat(lit("http://site-"),
          pmod(col("doc_id"), lit(97)).cast("string"), lit(".org"))
        val docs = base.select(
          when(pmod(col("doc_id"), lit(50)) === 0,
            concat(host, lit("/robots.txt")))
            .otherwise(concat(host, lit("/d/"), col("doc_id")))
            .as("url"),
          when(pmod(col("doc_id"), lit(50)) === 0,
            lit("HTTP/1.1 200 OK\r\nContent-Type: text/plain\r\n\r\n" +
              "User-agent: *\nDisallow: /private\n"))
            .otherwise(concat(
              lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n<p>"),
              repeat(col("text"), 20 * n), lit("</p>"))).as("payload"))
          .coalesce(2)
        graft.sources.Warc.writeGzip(docs, tmp, "url", "payload")
        val bytes = docs.select(sum(octet_length(col("payload"))))
          .collect()(0).getLong(0)
        val sec = time(CorpusPipeline.robotsFromWarc(spark, tmp))
        println(f"""{"op":"robots_scan","tiles":$n,"rows":$bytes,"rep":$rep,"sec":$sec%.3f}""")
      }
    }
    if (opFilter.forall(_.contains("warc_revisit_scan"))) {
      for (rep <- 1 to reps; n <- tiles) {
        val tmp = s"/tmp/graft_sp_warc_rev_$n"
        val docs = base.select(
          concat(lit("http://site-"),
            pmod(col("doc_id"), lit(97)).cast("string"),
            lit(".org/d/"), col("doc_id")).as("url"),
          repeat(col("text"), 20 * n).as("payload"),
          when(pmod(col("doc_id"), lit(5)) === 0, lit("revisit"))
            .otherwise(lit("response")).as("warc_type"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit("http://site-"),
              pmod(col("doc_id"), lit(97)).cast("string"),
              lit(".org/orig/"), col("doc_id")))
            .otherwise(lit(null).cast("string")).as("refers_to"))
          .coalesce(2)
        graft.sources.Warc.writeTyped(docs, tmp, "url", "payload",
          "warc_type", "refers_to", gzip = true)
        val bytes = docs.select(sum(octet_length(col("payload"))))
          .collect()(0).getLong(0)
        val sec = time(
          graft.sources.Warc.readRevisits(spark, tmp)
            .groupBy()
            .agg(count(lit(1)).as("n_revisits")))
        println(f"""{"op":"warc_revisit_scan","tiles":$n,"rows":$bytes,"rep":$rep,"sec":$sec%.3f}""")
      }
    }
    Seq("sp_cmap", "sp_cmap_f", "sp_docstore", "sp_hll", "sp_hist",
      "sp_dhash_bands")
      .foreach(t => graft.sources.Layout.drop(spark, t))
    spark.stop()
  }
}
