package graft.queries

import graft.ops.CorpusPipeline
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._

/** Catalog section 12 (round 18): the trained language gate inside the
  * curation flagship, plus the round's ingest-surface extensions.
  * Oracle discipline unchanged: per-variant language labels are
  * hand-pinned literals (the q411 precedent — LangIdSpec verifies the
  * classifier on exactly these sentences), token counts replay through
  * the q69-precedent whitespace-split twin, and no langid/HTTP/WARC
  * code runs oracle-side.
  */
private[queries] object QueriesExtra9 {

  def defs: Seq[QueryDef] = Seq(q420, q421, q422, q423, q424)

  /** q420's hand-labeled fixture: variant v = doc_id % 8. Three
    * distinct English sentences (kept), German/French/Japanese
    * (language-gated), a Swedish sentence the trained model must call
    * `und` (out-of-model Latin — the round-18 margin), and a too-short
    * junk string (quality-gated AND `und`). The en/de/fr/ja sentences
    * reuse [[QueriesExtra8.langFixture]] so the pinned labels stay
    * backed by the same LangIdSpec cases.
    */
  private def curateFixture: Seq[(String, String)] = Seq(
    "en" -> QueriesExtra8.langFixture.head._2,
    "en" -> ("Every winter the children walk across the frozen river " +
      "to visit their grandmother in the village."),
    "en" -> ("A good government should listen carefully to the people " +
      "and explain every decision with honest words."),
    "de" -> QueriesExtra8.langFixture(1)._2,
    "fr" -> QueriesExtra8.langFixture(2)._2,
    "ja" -> QueriesExtra8.langFixture(8)._2,
    "und" -> ("Regeringen meddelade att de nya reglerna skulle träda i " +
      "kraft i början av nästa år och gälla alla medborgare i landet."),
    "und" -> "tiny text")

  /** Documents whose text is the [[curateFixture]] sentence of their
    * variant, doc_id % 8.
    */
  private def curateDocs(s: SparkSession, dir: String): DataFrame = {
    val m = curateFixture.size
    val idx = (pmod(col("doc_id"), lit(m)) + 1).cast("int")
    val sent = elt(idx +: curateFixture.map(p => lit(p._2)): _*)
    t(s, dir, "documents")
      .select(col("doc_id"), col("source"), sent.as("text"))
  }

  /** Oracle of `CorpusPipeline.curate` over [[curateDocs]]: min-id
    * winner per variant, then the pinned language verdicts decide the
    * kept winners (`v.lang <kept>`) and the quality drops
    * (`v.lang <dropped>`); near-dup never fires on this fixture.
    */
  private def curateOracle(kept: String, dropped: String): String = {
    val values = curateFixture.zipWithIndex
      .map { case ((lang, sent), i) =>
        s"($i, '$lang', '${sent.replace("'", "''")}')" }
      .mkString(",\n  ")
    s"""WITH v AS (SELECT * FROM (VALUES
       |  $values) AS v(variant, lang, text)),
       |d AS (SELECT doc_id, source,
       |    doc_id % ${curateFixture.size} AS variant
       |  FROM documents),
       |w AS (SELECT variant, min(doc_id) AS wid FROM d GROUP BY 1),
       |wd AS (SELECT d.source, d.variant
       |  FROM d JOIN w ON d.doc_id = w.wid),
       |kept AS (
       |  SELECT wd.source, count(*) AS docs_kept,
       |    sum(len(list_filter(string_split_regex(v.text, ' +'),
       |      t -> t <> ''))) AS toks
       |  FROM wd JOIN v USING (variant)
       |  WHERE v.lang $kept GROUP BY 1),
       |qual AS (
       |  SELECT wd.source, count(*) AS nq
       |  FROM wd JOIN v USING (variant)
       |  WHERE v.lang $dropped GROUP BY 1),
       |n AS (SELECT source, count(*) AS n FROM d GROUP BY 1),
       |nw AS (SELECT source, count(*) AS nwin FROM wd GROUP BY 1)
       |SELECT n.source,
       |  CAST(coalesce(kept.docs_kept, 0) AS BIGINT) AS docs_kept,
       |  CAST(coalesce(kept.toks, 0) AS BIGINT) AS tokens_kept,
       |  CAST(n.n - coalesce(nw.nwin, 0) AS BIGINT)
       |    AS dropped_exact_dup,
       |  CAST(coalesce(qual.nq, 0) AS BIGINT) AS dropped_quality,
       |  CAST(0 AS BIGINT) AS dropped_near_dup
       |FROM n
       |LEFT JOIN nw USING (source)
       |LEFT JOIN kept USING (source)
       |LEFT JOIN qual USING (source)
       |ORDER BY source""".stripMargin
  }

  private def q420 =
    // Trained language gate in the curation flagship (round 18 —
    // VERDICT r17 task 1): curate at DEFAULTS (trainedLangId = true)
    // over a hand-labeled multilingual fixture. Exact dedup collapses
    // each variant to its min-id winner; the quality/language gate then
    // keeps exactly the docs the pinned q411-style labels say are `en`
    // — German/French/Japanese winners fall to the gate, the Swedish
    // winner proves the und-margin (a pure argmax would have kept
    // calling it a bundled language), and the junk winner fails
    // quality. Near-dup sees three dissimilar English sentences →
    // zero pairs. The oracle derives winners and per-source counts
    // from the table and takes every language verdict from the pinned
    // VALUES — the trigram model never runs in it.
    QueryDef("q420_curate_trained",
      (s, dir) => {
        CorpusPipeline.curate(curateDocs(s, dir))
          .orderBy("source")
      },
      Some(curateOracle(kept = "= 'en'", dropped = "<> 'en'")))

  private def q421 =
    // text/plain ingest path (round 18, VERDICT r17 task 7): fromWarc
    // with an extended MIME set keeps plain-text documents, whose
    // bodies take the charset decode DIRECTLY — the kept plain body
    // retains its literal "<raw>" marker, proving HTML extraction
    // never touched it. Residue grid: host = doc_id % 3, v = doc_id
    // % 5 (COPRIME — every host carries every variant). v=0 HTML page
    // ("site", 4 chars); v=1 text/plain ("plain <raw> body",
    // 16 chars); v=2 EMPTY text/plain (dropped by the empty-text
    // explode); v=3 application/json (MIME-gated even in the extended
    // set); v=4 a 404 (status-gated). Per-domain constants are
    // hand-derived; the default HTML-only gate's behavior is pinned by
    // the existing ingest queries (q409/q415/q417/q418), which this
    // round re-verifies hash-stable.
    QueryDef("q421_plain_ingest",
      (s, dir) => {
        val tmp = sys.props("java.io.tmpdir") + "/graft_warc_plain_q421"
        val v = pmod(col("doc_id"), lit(5))
        val host = elt((pmod(col("doc_id"), lit(3)) + 1).cast("int"),
          lit("p-a.example"), lit("p-b.example"), lit("p-c.example"))
        val docs = t(s, dir, "documents").select(
          concat(lit("http://"), host,
            when(v === 0, lit("/h0"))
              .when(v === 1, lit("/t1"))
              .when(v === 2, lit("/t2"))
              .when(v === 3, lit("/j3"))
              .otherwise(lit("/h4"))).as("url"),
          when(v === 0, lit("HTTP/1.1 200 OK\r\nContent-Type: " +
            "text/html\r\n\r\n<p>site</p>"))
            .when(v === 1, lit("HTTP/1.1 200 OK\r\nContent-Type: " +
              "text/plain\r\n\r\nplain <raw> body"))
            .when(v === 2, lit("HTTP/1.1 200 OK\r\nContent-Type: " +
              "text/plain\r\n\r\n"))
            .when(v === 3, lit("HTTP/1.1 200 OK\r\nContent-Type: " +
              "application/json\r\n\r\n{\"k\":1}"))
            .otherwise(lit("HTTP/1.1 404 Not Found\r\nContent-Type: " +
              "text/html\r\n\r\ngone")).as("payload"))
        graft.sources.Warc.writeGzip(docs, tmp, "url", "payload")
        CorpusPipeline.fromWarc(s, tmp,
            mimes = CorpusPipeline.HtmlMimes + "text/plain")
          .groupBy("domain")
          .agg(count(lit(1)).as("n_pages"),
            sum(length(col("text"))).as("text_chars"),
            sum(when(col("text").contains("<raw>"), 1L).otherwise(0L))
              .as("n_raw_markers"))
          .orderBy("domain")
      },
      Some(
        // per host: h0 ("site", 4) + t1 ("plain <raw> body", 16) =
        // 2 pages, 20 chars, 1 un-extracted marker
        """SELECT * FROM (VALUES
          |  ('p-a.example', CAST(2 AS BIGINT), CAST(20 AS BIGINT),
          |    CAST(1 AS BIGINT)),
          |  ('p-b.example', CAST(2 AS BIGINT), CAST(20 AS BIGINT),
          |    CAST(1 AS BIGINT)),
          |  ('p-c.example', CAST(2 AS BIGINT), CAST(20 AS BIGINT),
          |    CAST(1 AS BIGINT)))
          |  AS v(domain, n_pages, text_chars, n_raw_markers)
          |ORDER BY domain""".stripMargin))

  private def q422 =
    // WET ingest (round 18): the Common Crawl text-extract format —
    // `conversion` records carry ALREADY-extracted UTF-8 text, no
    // HTTP envelope. fromWet reads exactly those (a `response` record
    // in the same cut is type-gated out), decodes UTF-8 directly, and
    // dedups on the canonical URL like fromWarc. Residue grid:
    // host = doc_id % 3, v = doc_id % 4 (coprime). v=0 conversion of
    // page w0 under a utm variant ("wet text alpha", 14 chars); v=1
    // conversion of page w1 ("second wet document", 19); v=2 a
    // response record (SKIPPED by the WET walk); v=3 conversion of
    // page w0 bare — canon-folds with v=0's group, one survivor.
    // Per-domain constants hand-derived.
    QueryDef("q422_wet_ingest",
      (s, dir) => {
        val tmp = sys.props("java.io.tmpdir") + "/graft_warc_wet_q422"
        val v = pmod(col("doc_id"), lit(4))
        val host = elt((pmod(col("doc_id"), lit(3)) + 1).cast("int"),
          lit("w-a.example"), lit("w-b.example"), lit("w-c.example"))
        val docs = t(s, dir, "documents").select(
          concat(lit("http://"), host,
            when(v === 0, lit("/w0?utm_campaign=x"))
              .when(v === 1, lit("/w1"))
              .when(v === 2, lit("/w2"))
              .otherwise(lit("/w0"))).as("url"),
          when(v === 0, lit("wet text alpha"))
            .when(v === 1, lit("second wet document"))
            .when(v === 2, lit("<p>html body</p>"))
            .otherwise(lit("wet text alpha")).as("payload"),
          when(v === 2, lit("response")).otherwise(lit("conversion"))
            .as("warc_type"),
          lit(null).cast("string").as("refers_to"))
        graft.sources.Warc.writeTyped(docs, tmp, "url", "payload",
          "warc_type", "refers_to", gzip = true)
        CorpusPipeline.fromWet(s, tmp)
          .groupBy("domain")
          .agg(count(lit(1)).as("n_pages"),
            sum(length(col("text"))).as("text_chars"))
          .orderBy("domain")
      },
      Some(
        // per host: w0 (14 chars, one survivor of the utm/bare pair)
        // + w1 (19) = 2 pages, 33 chars; the response record never
        // appears
        """SELECT * FROM (VALUES
          |  ('w-a.example', CAST(2 AS BIGINT), CAST(33 AS BIGINT)),
          |  ('w-b.example', CAST(2 AS BIGINT), CAST(33 AS BIGINT)),
          |  ('w-c.example', CAST(2 AS BIGINT), CAST(33 AS BIGINT)))
          |  AS v(domain, n_pages, text_chars)
          |ORDER BY domain""".stripMargin))

  /** q423's page sentences, v = doc_id % 5 — two English pages (kept),
    * a German page (language-gated), a Swedish page (und via the
    * round-18 margin), and junk (quality-gated). en/de reuse the
    * spec-pinned [[curateFixture]] sentences.
    */
  private def wetCurateFixture: Seq[(String, String)] = Seq(
    curateFixture(0), curateFixture(1), curateFixture(3),
    curateFixture(6), curateFixture(7))

  private def q423 =
    // WET → trained curation capstone (round 18): the two new
    // flagships composed in ONE plan — fromWet ingests a
    // conversion-record cut (canonical-URL dedup collapses each
    // page's captures), and curate at TRAINED-gate defaults keys the
    // funnel off graft_langid, grouped per domain (warc-file source
    // names are sink-generated and not oracle-stable). One domain,
    // five pages: both English pages survive, German falls to the
    // gate, Swedish proves the und-margin inside a composed pipeline,
    // junk fails quality. The oracle is pinned VALUES + the
    // whitespace-split twin for token counts — neither WET parsing
    // nor the language model runs in it.
    QueryDef("q423_wet_to_curated",
      (s, dir) => {
        val tmp = sys.props("java.io.tmpdir") + "/graft_warc_wet_q423"
        val m = wetCurateFixture.size
        val v = pmod(col("doc_id"), lit(m))
        val sent = elt(((v + 1).cast("int") +:
          wetCurateFixture.map(p => lit(p._2))): _*)
        val docs = t(s, dir, "documents").select(
          concat(lit("http://wc.example/s"), v,
            lit("?utm_campaign="), pmod(col("doc_id"), lit(7)))
            .as("url"),
          sent.as("payload"),
          lit("conversion").as("warc_type"),
          lit(null).cast("string").as("refers_to"))
        graft.sources.Warc.writeTyped(docs, tmp, "url", "payload",
          "warc_type", "refers_to", gzip = true)
        CorpusPipeline.curate(
            CorpusPipeline.fromWet(s, tmp), sourceCol = "domain")
          .orderBy("domain")
      },
      Some {
        val values = wetCurateFixture.zipWithIndex
          .map { case ((lang, sent), i) =>
            s"($i, '$lang', '${sent.replace("'", "''")}')" }
          .mkString(",\n  ")
        s"""WITH v AS (SELECT * FROM (VALUES
           |  $values) AS v(variant, lang, text)),
           |kept AS (
           |  SELECT count(*) AS docs_kept,
           |    sum(len(list_filter(string_split_regex(text, ' +'),
           |      t -> t <> ''))) AS toks
           |  FROM v WHERE lang = 'en'),
           |dropped AS (
           |  SELECT count(*) AS nq FROM v WHERE lang <> 'en')
           |SELECT 'wc.example' AS domain,
           |  CAST(kept.docs_kept AS BIGINT) AS docs_kept,
           |  CAST(kept.toks AS BIGINT) AS tokens_kept,
           |  CAST(0 AS BIGINT) AS dropped_exact_dup,
           |  CAST(dropped.nq AS BIGINT) AS dropped_quality,
           |  CAST(0 AS BIGINT) AS dropped_near_dup
           |FROM kept CROSS JOIN dropped""".stripMargin
      })

  private def q424 =
    // Multilingual language-SET gate (round 18): curate keeping
    // {en, de} — the shard-mix reality of a multilingual corpus build
    // (a single-language gate forces one curation run per language).
    // Same hand-labeled q420 fixture at trained-gate defaults: the
    // German winner now SURVIVES next to the three English ones;
    // fr/ja fall to the gate, Swedish stays und (the margin), junk
    // fails quality. The oracle is q420's chain with the kept-set
    // predicate widened to lang IN ('en','de') — every verdict still
    // a pinned literal.
    QueryDef("q424_curate_multilingual",
      (s, dir) => {
        CorpusPipeline.curate(curateDocs(s, dir), langs = Set("en", "de"))
          .orderBy("source")
      },
      Some(curateOracle(kept = "IN ('en', 'de')",
        dropped = "NOT IN ('en', 'de')")))
}
