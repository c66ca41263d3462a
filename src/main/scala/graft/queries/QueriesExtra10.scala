package graft.queries

import graft.ops.{CorpusPipeline, Pin, Sampling}
import org.apache.spark.sql.functions._
import Shared._

/** Catalog section 13 (round 19): the multilingual curation gate made
  * script-honest (CJK char-bigram tokenization + per-language quality
  * — VERDICT r18 task 1), WAT ingest completing the Common Crawl
  * triple (task 2), the per-language gate-rate data card (task 6),
  * and the trained-gate flagship successors to q50/q100 (task 4).
  * Oracle discipline: every language verdict, token count and gate
  * verdict over non-ASCII text is a hand-pinned literal (TokensSpec /
  * LangIdSpec verify the kernels on exactly these strings); the
  * oracles replay only relational structure.
  */
private[graft] object QueriesExtra10 {

  def defs: Seq[QueryDef] = Seq(q425, q426, q427, q428, q429)

  /** The round-19 curation fixture, v = doc_id % 9 — hand-labeled
    * (lang, text, script-aware token count). Three distinct English
    * sentences plus an English NEAR-DUP of the second (one token
    * changed, distinct-token Jaccard 13/15 ≈ 0.867 ≥ 0.8); a Japanese
    * pair differing by one particle (J = 39/43 ≈ 0.907) plus an
    * unrelated Japanese sentence; a Chinese sentence; junk. Winners
    * are min-id per variant and doc_ids are dense from 0, so within
    * each near-dup cluster the LOWER variant's winner survives
    * (w1 < w2, w3 < w4).
    */
  private[graft] def cjkFixture: Seq[(String, String, Int)] = Seq(
    ("en", "The students arrived early at the library because they " +
      "wanted to study before the history exam.", 16),
    ("en", "Every winter the children walk across the frozen river " +
      "to visit their grandmother in the village.", 16),
    ("en", "Every winter the children walk across the frozen river " +
      "to visit their grandmother in the town.", 16),
    ("ja", "毎朝町の人々は川に沿って歩き天気や仕事について話します。" +
      "冬が来る前に終わらせるべき仕事の話をします。", 44),
    ("ja", "毎朝町の人々は川に沿って歩き天気や仕事について話します。" +
      "冬が来る前に終わらせるべき仕事の話もします。", 44),
    ("ja", "子供たちは庭で遊んでから家に帰って夕食を食べました。", 24),
    ("zh", "政府宣布新的规定将于明年初开始实施。", 16),
    ("und", "tiny text", 2),
    ("en", "A good government should listen carefully to the people " +
      "and explain every decision with honest words.", 16))

  private def cjkSent = {
    val m = cjkFixture.size
    val idx = (pmod(col("doc_id"), lit(m)) + 1).cast("int")
    elt(idx +: cjkFixture.map(p => lit(p._2)): _*)
  }

  /** The q420-pattern winner/fate CTE chain over [[cjkFixture]]:
    * `d` (residue grid), `w` (min-id winner per variant), `wd`
    * (winner source × variant), `v` (pinned VALUES). `keptPred` /
    * `ndPred` pick the kept and near-dup VARIANTS for the leg.
    */
  private def cjkOracle(keptVs: Seq[Int], ndVs: Seq[Int]): String = {
    val values = cjkFixture.zipWithIndex
      .map { case ((lang, _, ntoks), i) => s"($i, '$lang', $ntoks)" }
      .mkString(",\n  ")
    s"""WITH v AS (SELECT * FROM (VALUES
       |  $values) AS v(variant, lang, ntoks)),
       |d AS (SELECT doc_id, source,
       |    doc_id % ${cjkFixture.size} AS variant
       |  FROM documents),
       |w AS (SELECT variant, min(doc_id) AS wid FROM d GROUP BY 1),
       |wd AS (SELECT d.source, d.variant
       |  FROM d JOIN w ON d.doc_id = w.wid),
       |kept AS (
       |  SELECT wd.source, count(*) AS docs_kept,
       |    sum(v.ntoks) AS toks
       |  FROM wd JOIN v USING (variant)
       |  WHERE wd.variant IN (${keptVs.mkString(", ")}) GROUP BY 1),
       |nd AS (
       |  SELECT wd.source, count(*) AS nnd
       |  FROM wd WHERE wd.variant IN (${ndVs.mkString(", ")})
       |  GROUP BY 1),
       |qual AS (
       |  SELECT wd.source, count(*) AS nq
       |  FROM wd
       |  WHERE wd.variant NOT IN
       |    (${(keptVs ++ ndVs).mkString(", ")}) GROUP BY 1),
       |n AS (SELECT source, count(*) AS n FROM d GROUP BY 1),
       |nw AS (SELECT source, count(*) AS nwin FROM wd GROUP BY 1)
       |SELECT n.source,
       |  CAST(coalesce(kept.docs_kept, 0) AS BIGINT) AS docs_kept,
       |  CAST(coalesce(kept.toks, 0) AS BIGINT) AS tokens_kept,
       |  CAST(n.n - coalesce(nw.nwin, 0) AS BIGINT)
       |    AS dropped_exact_dup,
       |  CAST(coalesce(qual.nq, 0) AS BIGINT) AS dropped_quality,
       |  CAST(coalesce(nd.nnd, 0) AS BIGINT) AS dropped_near_dup
       |FROM n
       |LEFT JOIN nw USING (source)
       |LEFT JOIN kept USING (source)
       |LEFT JOIN nd USING (source)
       |LEFT JOIN qual USING (source)
       |ORDER BY source""".stripMargin
  }

  private def q425 =
    // Script-honest multilingual curation (round 19 — VERDICT r18
    // task 1, the headline): curate(langs = {en, ja}) over the
    // hand-labeled CJK fixture. The round-18 gap made this exact call
    // language-keep Japanese docs and then quality-kill every one
    // (whitespace tokens → 1 giant token → length 0; English
    // stopwords → 0). Now: char-bigram tokens give the ja winners
    // real lengths and diversity, the particle markers (の/は/…)
    // satisfy the stopword component, and the ja near-dup pair
    // (one-particle difference, J ≈ 0.907) clusters under minhash —
    // so the funnel keeps exactly the labeled en+ja docs, drops the
    // higher ja near-dup variant, and quality-gates zh/junk. Every
    // verdict and token count is a pinned literal.
    QueryDef("q425_curate_cjk",
      (s, dir) => CorpusPipeline.curate(
          t(s, dir, "documents")
            .select(col("doc_id"), col("source"), cjkSent.as("text")),
          langs = Set("en", "ja"))
        .orderBy("source"),
      // kept: en 0, en 1, ja 3, ja 5, en 8; near-dup: en 2 (vs 1),
      // ja 4 (vs 3); quality/language: zh 6, junk 7
      Some(cjkOracle(keptVs = Seq(0, 1, 3, 5, 8), ndVs = Seq(2, 4))))

  private def q426 = {
    // WAT ingest (round 19 — VERDICT r18 task 2): the Common Crawl
    // metadata sidecar completes the WARC/WET/WAT triple. Residue
    // grid: host = doc_id % 3, v = doc_id % 5 (coprime). v=0 an
    // absolute cross-link to w-b plus a relative self link (self edge
    // drops); v=1 a RELATIVE link under a <base> override to a cdn
    // subdomain of w-c (base resolution + registrable-domain fold);
    // v=2 a non-anchor IMG entry (excluded by path) next to an anchor
    // to ext.example; v=3 junk non-JSON payload (total-on-junk: zero
    // rows); v=4 parseable metadata with no links. Expected edges are
    // hand-derived per (host, v); WarcSpec separately proves WAT
    // edges ≡ linkGraphResolved over the raw HTML of the same
    // capture.
    val hosts = Seq("w-a.example", "w-b.example", "w-c.example")
    QueryDef("q426_wat_links",
      (s, dir) => {
        val tmp = sys.props("java.io.tmpdir") + "/graft_warc_wat_q426"
        val v = pmod(col("doc_id"), lit(5))
        val host = elt(((pmod(col("doc_id"), lit(3)) + 1).cast("int") +:
          hosts.map(h => lit(h))): _*)
        def watJson(links: String, base: String = null): String = {
          val head = if (base == null) "" else
            s""""Head":{"Base":"$base"},"""
          s"""{"Envelope":{"Payload-Metadata":{"HTTP-Response-Metadata":{"HTML-Metadata":{$head"Links":[$links]}}}}}"""
        }
        val payload =
          when(v === 0, lit(watJson(
            """{"path":"A@/href","url":"http://w-b.example/x","text":"b"},{"path":"A@/href","url":"/self"}""")))
          .when(v === 1, lit(watJson(
            """{"path":"A@/href","url":"img/pic","text":"pic"}""",
            base = "http://cdn.w-c.example/lib/")))
          .when(v === 2, lit(watJson(
            """{"path":"IMG@/src","url":"http://img.cdn.example/i.png"},{"path":"A@/href","url":"http://ext.example/p","text":"ext"}""")))
          .when(v === 3, lit("this is not json {"))
          .otherwise(lit(watJson("")))
        val docs = t(s, dir, "documents").select(
          concat(lit("http://"), host, lit("/p"), col("doc_id"))
            .as("url"),
          payload.as("payload"),
          lit("metadata").as("warc_type"),
          lit(null).cast("string").as("refers_to"))
        graft.sources.Warc.writeTyped(docs, tmp, "url", "payload",
          "warc_type", "refers_to", gzip = true)
        CorpusPipeline.watLinkGraph(CorpusPipeline.fromWat(s, tmp))
          .orderBy("src_domain", "dst_domain")
      },
      Some {
        val hostVals = hosts.zipWithIndex
          .map { case (h, i) => s"($i, '$h')" }.mkString(", ")
        // (h, v, dst): v=0 → w-b from hosts 0/2 (host 1 is w-b, self
        // drops); v=1 → w-c from 0/1; v=2 → ext from all three
        s"""WITH d AS (
           |  SELECT doc_id % 3 AS h, doc_id % 5 AS v, count(*) AS n
           |  FROM documents GROUP BY 1, 2),
           |hosts AS (SELECT * FROM (VALUES $hostVals) AS h(h, domain)),
           |e AS (SELECT * FROM (VALUES
           |  (0, 0, 'w-b.example'), (2, 0, 'w-b.example'),
           |  (0, 1, 'w-c.example'), (1, 1, 'w-c.example'),
           |  (0, 2, 'ext.example'), (1, 2, 'ext.example'),
           |  (2, 2, 'ext.example')) AS e(h, v, dst))
           |SELECT hosts.domain AS src_domain, e.dst AS dst_domain,
           |  CAST(sum(d.n) AS BIGINT) AS n_links
           |FROM e JOIN d USING (h, v) JOIN hosts USING (h)
           |GROUP BY 1, 2
           |ORDER BY src_domain, dst_domain""".stripMargin
      })
  }

  private def q427 =
    // Per-language gate-rate data card (round 19 — VERDICT r18 task
    // 6): langGateReport over the 16-language q411 fixture plus a
    // junk variant — per predicted language, how many docs clear the
    // per-language quality score and the multilingual Gopher gates.
    // Every sentence passes quality under its own profile (the row
    // that would CRATER if an English-centric gate were silently
    // applied — the q424-class bug this card exposes); junk (und)
    // fails; single sentences all fail the ≥50-word Gopher band
    // (doc-grain gates, honest zero). All verdicts pinned.
    QueryDef("q427_lang_gate_report",
      (s, dir) => {
        val fixture = QueriesExtra8.langFixture :+ ("und" -> "12345 !!! --- 42")
        val m = fixture.size
        val idx = (pmod(col("doc_id"), lit(m)) + 1).cast("int")
        val sent = elt(idx +: fixture.map(p => lit(p._2)): _*)
        CorpusPipeline.langGateReport(
            t(s, dir, "documents").select(sent.as("text")),
            langs = graft.ops.TextAnalysis.QualityLangs)
          .orderBy("lang")
      },
      Some {
        val values = (QueriesExtra8.langFixture.map(_._1) :+ "und")
          .zipWithIndex
          .map { case (lang, i) =>
            s"($i, '$lang', ${if (lang == "und") 0 else 1})" }
          .mkString(",\n  ")
        s"""WITH v AS (SELECT * FROM (VALUES
           |  $values) AS v(variant, lang, qpass)),
           |g AS (
           |  SELECT doc_id % ${QueriesExtra8.langFixture.size + 1}
           |    AS variant, count(*) AS n
           |  FROM documents GROUP BY 1)
           |SELECT v.lang,
           |  CAST(sum(g.n) AS BIGINT) AS n_docs,
           |  CAST(sum(g.n * v.qpass) AS BIGINT) AS n_quality_pass,
           |  CAST(sum(g.n * v.qpass) * 1000000 //
           |    sum(g.n) AS BIGINT) AS quality_pass_ppm,
           |  CAST(0 AS BIGINT) AS n_gopher_pass,
           |  CAST(0 AS BIGINT) AS gopher_pass_ppm
           |FROM g JOIN v USING (variant)
           |GROUP BY 1
           |ORDER BY lang""".stripMargin
      })

  private def q428 =
    // Trained-gate curation flagship (round 19 — VERDICT r18 task 4):
    // curate at FULL DEFAULTS (trainedLangId = true, single-language
    // en) over the hand-labeled fixture, with every funnel bucket
    // nonzero — exact dups (residue multiplicity), an English
    // near-dup pair, language-gated ja/zh, quality-gated junk. This
    // retires the heuristic leg (q50, kept as heuristic-path
    // coverage) from the defaults-path claim: the default gate's
    // verdicts here are the pinned q411-backed labels, never the
    // stopword heuristic.
    QueryDef("q428_curate_flagship",
      (s, dir) => CorpusPipeline.curate(
          t(s, dir, "documents")
            .select(col("doc_id"), col("source"), cjkSent.as("text")))
        .orderBy("source"),
      // kept: en 0, 1, 8; near-dup: en 2 (vs 1); the ja/zh/junk
      // variants all fall to the quality/language gate
      Some(cjkOracle(keptVs = Seq(0, 1, 8), ndVs = Seq(2))))

  private def q429 =
    // Corpus-to-shards flagship at trained defaults (round 19 — the
    // q100 successor of VERDICT r18 task 4): curatedDocs (defaults)
    // → temperature mix → deterministic training shards, composed in
    // ONE plan over the pinned fixture — the q100 composition with
    // the trained language gate deciding the kept set. The kept rows
    // are the three English winners (variants 0/1/8, min-id per
    // variant); mix rates and shard ranks replay the q91/q86 math
    // over exactly that derived set. q100 stays as the heuristic-leg
    // volume composition; the defaults-path claim lives here.
    QueryDef("q429_shards_flagship",
      (s, dir) => {
        val kept = CorpusPipeline.curatedDocs(
            t(s, dir, "documents")
              .select(col("doc_id"), col("source"), cjkSent.as("text")))
          .select("doc_id", "source").transform(Pin.shared)
        val mixed = Sampling.temperatureMix(
          kept, "doc_id", "source", targetRows = 2L)
        Sampling.shuffleShards(mixed, "doc_id", shardSize = 2L)
          .orderBy("rank")
      },
      Some(
        s"""WITH d AS (SELECT doc_id, source,
           |    doc_id % ${cjkFixture.size} AS variant
           |  FROM documents),
           |w AS (SELECT variant, min(doc_id) AS wid FROM d GROUP BY 1),
           |kept AS (
           |  SELECT d.doc_id, d.source
           |  FROM d JOIN w ON d.doc_id = w.wid
           |  WHERE d.variant IN (0, 1, 8)),
           |${mixShardSql(targetRows = 2, shardSize = 2)}""".stripMargin))
}
