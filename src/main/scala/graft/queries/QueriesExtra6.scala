package graft.queries

import graft.functions.Hashing
import graft.ops.{Blocklist, ImageHash, PageRank, WebCorpus}
import graft.sources.Layout
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Shared._

/** Catalog section 9 (round 14, second half): corpus-hygiene tier —
  * Aho–Corasick blocklist matching over the documents table. The DuckDB
  * oracles reproduce the automaton's every-occurrence semantics (all
  * overlapping / nested matches) with a brute-force position scan:
  * `substr(text, i, len) = pattern` over an unnested position range —
  * O(corpus × positions) in the oracle, which is exactly the cost the
  * automaton avoids (one O(text) pass for ANY pattern count).
  */
private[queries] object QueriesExtra6 {

  /** Shared blocklist for q376/q377: exercises nested patterns ("able"
    * fires inside every "table"), a self-overlapping pattern ("a a" in
    * "a a a" matches twice), a multi-word phrase, and a plain token.
    */
  private val pats = Seq("table", "able", "a a", "fast table", "spark")

  private def patsValues(ps: Seq[String]): String =
    ps.zipWithIndex
      .map { case (p, i) => s"($i, '$p')" }.mkString(", ")

  /** Oracle CTEs shared by the blocklist queries: the literal pattern
    * table and the 1-based position series wide enough for any doc.
    */
  private def blockCtes(ps: Seq[String]): String =
    s"""pats AS (
       |  SELECT * FROM (VALUES ${patsValues(ps)})
       |    AS v(pattern_id, pattern)),
       |series AS (
       |  SELECT CAST(unnest(range(1,
       |    (SELECT max(length(text)) + 1 FROM documents))) AS INT) AS i),
       |hits AS (
       |  SELECT d.doc_id, d.source, p.pattern_id, p.pattern,
       |    CAST(count(*) AS BIGINT) AS n_hits
       |  FROM documents d
       |  CROSS JOIN pats p
       |  JOIN series s ON s.i <= length(d.text) - length(p.pattern) + 1
       |  WHERE substr(d.text, s.i, length(p.pattern)) = p.pattern
       |  GROUP BY 1, 2, 3, 4)""".stripMargin

  /** The dHash fixture corpus (q379–q381): one 18×16 PNG per document
    * — even ids grayscale, odd ids RGB — whose pixels come from a
    * closed formula over `base = doc_id / 4`, so each group of four
    * consecutive ids shows the SAME picture with per-id perturbations:
    * a constant brightness shift `doc_id % 4` (which dHash must ignore)
    * and, for `doc_id % 4 == 3`, a +100 blob on the top-left 2×2 block
    * (which flips at most dHash bit 0). Pixel values stay ≤ 253, so
    * the shift never wraps mod 256 and the gradient signs are exact.
    * The oracle never decodes a PNG: it recomputes the 9×8 block-luma
    * grid straight from the pixel formula (the q149 discipline).
    */
  private def dhashMedia(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    t(s, dir, "documents").select(col("doc_id").cast("long"))
      .as[Long].map { id =>
        val base = id / 4
        val delta = (id % 4).toInt
        val (w, h) = (18, 16)
        // The p-dependent term is MULTIPLIED by a base-derived factor
        // (never 0 mod 151): an additive base term would be a global
        // brightness shift, which dHash ignores by design — every
        // image would hash identically.
        def tex(p: Long): Long = 13 * p * p + 29 * p + 7
        val bytes = if (id % 2 == 0) {
          val px = Array.tabulate(w * h) { p =>
            ((((base % 150 + 1) * tex(p)) % 151) + delta).toByte
          }
          MediaFixtures.pngFromPixels(w, h, 1, px, y => ((id + y) % 5).toInt)
        } else {
          val px = new Array[Byte](w * h * 3)
          for (y <- 0 until h; x <- 0 until w; c <- 0 until 3) {
            val blob = if (id % 4 == 3 && x < 2 && y < 2) 100 else 0
            px((y * w + x) * 3 + c) =
              (((((base + 37 * c) % 150 + 1) * tex(y * w + x)) % 151)
                + delta + blob).toByte
          }
          MediaFixtures.pngFromPixels(w, h, 3, px, y => ((id + y) % 5).toInt)
        }
        (id, bytes)
      }.toDF("id", "bytes")
  }

  /** Oracle CTEs ending in `hashes(id, dhash, b0..b3)`: the dHash of
    * every fixture image recomputed from the closed-form pixel luma —
    * 288 lumas → 72 block sums (2×2 pooling onto the 9×8 grid) → 64
    * gradient bits → four 16-bit bands → the 16-hex-char hash.
    */
  private val dhashCtes: String = {
    // Per-channel fixture value at flat pixel index p for channel
    // factor f (gray uses f=7 on even ids; RGB uses f=c+3 on odd);
    // the +100 blob rides only odd ids with doc_id % 4 = 3 on the
    // top-left 2x2 pixels.
    val blob = "CASE WHEN id % 4 = 3 AND p % 18 < 2 AND p // 18 < 2" +
      " THEN 100 ELSE 0 END"
    val tex = "(13 * p * p + 29 * p + 7)"
    def v(c: String) =
      s"((base + 37 * $c) % 150 + 1) * $tex % 151 + delta + $blob"
    s"""ids AS (
       |  SELECT doc_id AS id, doc_id // 4 AS base, doc_id % 4 AS delta
       |  FROM documents),
       |lum AS (
       |  SELECT id, list_transform(generate_series(0, 287), p ->
       |    CASE WHEN id % 2 = 0 THEN
       |      1000 * ((base % 150 + 1) * $tex % 151 + delta)
       |    ELSE 299 * (${v("0")})
       |       + 587 * (${v("1")})
       |       + 114 * (${v("2")})
       |    END) AS lm
       |  FROM ids),
       |blk AS (
       |  SELECT id, list_transform(generate_series(0, 71), b ->
       |      lm[1 + (2 * (b // 9)) * 18 + 2 * (b % 9)]
       |    + lm[2 + (2 * (b // 9)) * 18 + 2 * (b % 9)]
       |    + lm[1 + (2 * (b // 9) + 1) * 18 + 2 * (b % 9)]
       |    + lm[2 + (2 * (b // 9) + 1) * 18 + 2 * (b % 9)]) AS s
       |  FROM lum),
       |bits AS (
       |  SELECT id, list_transform(generate_series(0, 63), i ->
       |    CASE WHEN s[1 + (i // 8) * 9 + (i % 8)]
       |            > s[2 + (i // 8) * 9 + (i % 8)]
       |      THEN 1 ELSE 0 END) AS bt
       |  FROM blk),
       |bands AS (
       |  SELECT id,
       |    CAST(list_sum(list_transform(generate_series(0, 15), j ->
       |      bt[1 + j] * (1 << j))) AS INTEGER) AS b0,
       |    CAST(list_sum(list_transform(generate_series(0, 15), j ->
       |      bt[17 + j] * (1 << j))) AS INTEGER) AS b1,
       |    CAST(list_sum(list_transform(generate_series(0, 15), j ->
       |      bt[33 + j] * (1 << j))) AS INTEGER) AS b2,
       |    CAST(list_sum(list_transform(generate_series(0, 15), j ->
       |      bt[49 + j] * (1 << j))) AS INTEGER) AS b3
       |  FROM bits),
       |hashes AS (
       |  SELECT id, printf('%04x%04x%04x%04x', b3, b2, b1, b0) AS dhash,
       |    b0, b1, b2, b3
       |  FROM bands)""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    // Aho–Corasick blocklist scan (Blocklist.scan): every overlapping /
    // nested occurrence of every pattern, per (document, pattern), in
    // ONE automaton pass per document riding the corpus scan — the
    // 100 TB shape for blocklist hygiene (a contains-per-pattern plan
    // is O(patterns × corpus)). The only shuffle groups on
    // (doc_id, pattern_id), map-side combined.
    QueryDef("q376_blocklist_scan",
      (s, dir) => Blocklist.scan(t(s, dir, "documents"),
          "doc_id", "text", pats)
        .orderBy("doc_id", "pattern_id"),
      Some(
        s"""WITH ${blockCtes(pats)}
           |SELECT doc_id, pattern_id, n_hits, pattern
           |FROM hits
           |ORDER BY doc_id, pattern_id""".stripMargin)),

    // Blocklist coverage report (Blocklist.report): per pattern, how
    // many documents fire and how many total occurrences — the
    // config-sized rollup a blocklist owner reviews before a release
    // gate. The second aggregate's key space is the blocklist itself,
    // so the shuffle is bounded by config no matter the corpus.
    QueryDef("q377_blocklist_report",
      (s, dir) => Blocklist.report(t(s, dir, "documents"),
          "doc_id", "text", pats)
        .orderBy("pattern"),
      Some(
        s"""WITH ${blockCtes(pats)}
           |SELECT pattern, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(n_hits) AS BIGINT) AS n_hits
           |FROM hits
           |GROUP BY 1
           |ORDER BY pattern""".stripMargin)),

    // Release-gate retention audit (Blocklist.retentionBySource): how
    // many documents each source loses to a zero-tolerance blocklist,
    // with the retained fraction — the data-card row published next to
    // the gate. Flagging is a narrow per-row predicate (no join against
    // a hit table); the only shuffle is the per-source rollup.
    QueryDef("q378_blocklist_retention",
      (s, dir) => Blocklist.retentionBySource(t(s, dir, "documents"),
          "source", "text",
          Seq("slow merge", "window window", "batch batch"))
        .orderBy("source"),
      Some {
        val ps = Seq("slow merge", "window window", "batch batch")
        s"""WITH ${blockCtes(ps)},
           |doc_hits AS (
           |  SELECT doc_id, sum(n_hits) AS h FROM hits GROUP BY 1),
           |flags AS (
           |  SELECT d.source,
           |    CASE WHEN coalesce(h.h, 0) > 0 THEN 1 ELSE 0 END AS f
           |  FROM documents d LEFT JOIN doc_hits h USING (doc_id))
           |SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
           |  CAST(sum(f) AS BIGINT) AS n_flagged,
           |  round(avg(CASE WHEN f = 1 THEN 0.0 ELSE 1.0 END), 4)
           |    AS retained_frac
           |FROM flags
           |GROUP BY 1
           |ORDER BY source""".stripMargin
      }),

    // Perceptual image hash (ImageHash.dhash): REAL PNG decode (the
    // JDK reader, all five scanline filters, the q149 path) → exact
    // integer block-luma pooling onto the 9×8 grid → 64 gradient-sign
    // bits, split into four 16-bit LSH bands. One narrow map riding
    // the image scan — the hashing plan has no exchange (spec-
    // asserted). The oracle recomputes the hash from the closed-form
    // pixel formula without owning a PNG decoder, so the decode and
    // the hash must BOTH be right to go green.
    QueryDef("q379_image_dhash",
      (s, dir) => ImageHash.dhash(s, dhashMedia(s, dir)).orderBy("id"),
      Some(
        s"""WITH $dhashCtes
           |SELECT id, dhash, b0, b1, b2, b3 FROM hashes
           |ORDER BY id""".stripMargin)),

    // Image near-dup pairs (ImageHash.nearDupPairs): the SimHash
    // pigeonhole on the 4-banded dHash — any pair within Hamming 3
    // shares a band, so candidates come from a bucket-local join on
    // (band index, band value), never all-pairs; the full 64-bit
    // Hamming check on the banded XOR then confirms. The fixture makes
    // the semantics visible: brightness-shifted copies (same base id)
    // land at Hamming 0, the +100 blob variant at ≤ 1, different
    // pictures are filtered by the ≤ 3 gate. The oracle brute-forces
    // the same pair set — affordable at oracle scale, which is exactly
    // the plan shape the banding avoids at 100 TB.
    QueryDef("q380_image_neardup_pairs",
      (s, dir) => ImageHash.nearDupPairs(
          ImageHash.dhash(s, dhashMedia(s, dir)), maxHamming = 3)
        .orderBy("id_a", "id_b"),
      Some(
        s"""WITH $dhashCtes
           |SELECT a.id AS id_a, b.id AS id_b,
           |  CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
           |     + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
           |    AS INTEGER) AS hamming
           |FROM hashes a JOIN hashes b ON a.id < b.id
           |  AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2
           |       OR a.b3 = b.b3)
           |WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
           |    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
           |  <= 3
           |ORDER BY id_a, id_b""".stripMargin)),

    // Exact perceptual dedup (ImageHash.exactGroups): identical
    // 64-bit hashes collapse to one keeper — a plain groupBy on the
    // 8-byte hash, the cheapest possible image-dedup shuffle (no
    // pairs, no bands). The brightness-shifted fixture copies land
    // here (dHash is shift-invariant by construction); the blob
    // variants do not (they differ in bit 0).
    QueryDef("q381_image_dedup_groups",
      (s, dir) => ImageHash.exactGroups(
          ImageHash.dhash(s, dhashMedia(s, dir)))
        .where(col("n_dups") >= 2)
        .orderBy("keeper_id"),
      Some(
        s"""WITH $dhashCtes
           |SELECT dhash, min(id) AS keeper_id,
           |  CAST(count(*) AS BIGINT) AS n_dups
           |FROM hashes
           |GROUP BY 1
           |HAVING count(*) >= 2
           |ORDER BY keeper_id""".stripMargin)),

    // Blocklist redaction with a CLOSED-LOOP audit (Blocklist.scrub /
    // scrubAudit — the q365/q370 discipline: the gate's claim is
    // re-measured on the output, not inferred): redact the interval
    // UNION of every match span (overlapping "a a" chains collapse to
    // one run, "able" unions into "table"), then re-run the automaton
    // on the redacted text — hits_after is MEASURED by the engine and
    // must equal the oracle's analytic zero (guaranteed because "#"
    // shares no byte with any pattern). The oracle recomputes matches,
    // covered positions and maximal runs relationally (position scan →
    // interval membership → lag-gap run counting) — a fully
    // independent formulation of the same union semantics.
    QueryDef("q386_blocklist_scrub_audit",
      (s, dir) => Blocklist.scrubAudit(t(s, dir, "documents"),
          "source", "text", Seq("fast table", "a a", "table", "able"))
        .orderBy("source"),
      Some {
        val pv = patsValues(Seq("fast table", "a a", "table", "able"))
        s"""WITH pats AS (
           |  SELECT * FROM (VALUES $pv) AS v(pattern_id, pattern)),
           |series AS (
           |  SELECT CAST(unnest(range(1,
           |    (SELECT max(length(text)) + 1 FROM documents))) AS INT)
           |    AS i),
           |starts AS (
           |  SELECT d.doc_id, s.i AS st,
           |    s.i + length(p.pattern) - 1 AS fin
           |  FROM documents d
           |  CROSS JOIN pats p
           |  JOIN series s ON s.i <= length(d.text) - length(p.pattern) + 1
           |  WHERE substr(d.text, s.i, length(p.pattern)) = p.pattern),
           |cov AS (
           |  SELECT DISTINCT doc_id, s2.i AS pos
           |  FROM starts JOIN series s2 ON s2.i BETWEEN st AND fin),
           |runc AS (
           |  SELECT doc_id, count(*) AS covered,
           |    sum(CASE WHEN prev IS NULL OR pos - prev > 1
           |      THEN 1 ELSE 0 END) AS n_runs
           |  FROM (SELECT doc_id, pos,
           |          lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
           |            AS prev
           |        FROM cov)
           |  GROUP BY 1),
           |hits AS (SELECT doc_id, count(*) AS n FROM starts GROUP BY 1)
           |SELECT d.source,
           |  CAST(sum(CASE WHEN h.n > 0 THEN 1 ELSE 0 END) AS BIGINT)
           |    AS n_docs_redacted,
           |  CAST(coalesce(sum(h.n), 0) AS BIGINT) AS hits_before,
           |  CAST(coalesce(sum(r.n_runs), 0) AS BIGINT) AS n_runs,
           |  CAST(coalesce(sum(r.covered), 0) AS BIGINT) AS chars_removed,
           |  CAST(0 AS BIGINT) AS hits_after
           |FROM documents d
           |LEFT JOIN hits h USING (doc_id)
           |LEFT JOIN runc r ON r.doc_id = d.doc_id
           |GROUP BY 1
           |ORDER BY source""".stripMargin
      }),

    // Incremental image dedup against the PERSISTED dHash band index
    // (ImageHash.bandIndexRows / incrementalPairsFromIndex): the
    // standing corpus half (doc_id % 4 < 2) is hashed ONCE and stored
    // band_key-bucketed via the versioned Layout publish; today's
    // batch (doc_id % 4 ≥ 2) probes it — index side rides its bucket
    // layout with no exchange, only the batch shuffles. Within each
    // base group the batch's brightness-shifted copy lands at
    // Hamming 0 and the blob variant at ≤ 1 against the stored half —
    // the image sibling of the q93/q373 text ingest discipline.
    QueryDef("q385_image_incremental_dedup",
      (s, dir) => {
        val media = dhashMedia(s, dir)
        Layout.replaceBucketed(s,
          ImageHash.bandIndexRows(
            ImageHash.dhash(s, media.where(pmod(col("id"), lit(4)) < 2))),
          "graft_dhash_bands", "band_key", buckets = 8)
        ImageHash.incrementalPairsFromIndex(
          ImageHash.dhash(s, media.where(pmod(col("id"), lit(4)) >= 2)),
          Layout.table(s, "graft_dhash_bands"))
          .orderBy("batch_id", "index_id")
      },
      Some(
        s"""WITH $dhashCtes
           |SELECT b.id AS batch_id, a.id AS index_id,
           |  CAST(bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
           |     + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
           |    AS INTEGER) AS hamming
           |FROM hashes b JOIN hashes a
           |  ON b.id % 4 >= 2 AND a.id % 4 < 2
           |  AND (a.b0 = b.b0 OR a.b1 = b.b1 OR a.b2 = b.b2
           |       OR a.b3 = b.b3)
           |WHERE bit_count(xor(a.b0, b.b0)) + bit_count(xor(a.b1, b.b1))
           |    + bit_count(xor(a.b2, b.b2)) + bit_count(xor(a.b3, b.b3))
           |  <= 3
           |ORDER BY batch_id, index_id""".stripMargin)),

    // URL canonicalization (WebCorpus.canonUrl/domain — the fused
    // graft_urlcanon/graft_urldomain native expressions): the
    // key-making step before any crawl-corpus dedup. The fixture URL
    // per doc composes independent variant axes (scheme case, host
    // case/trailing dot/userinfo, default vs real ports, path shapes,
    // tracking params + shuffled query order, fragments, and a
    // non-http override) — the oracle builds the SAME raw string and
    // maps each variant index to its hand-canonicalized part, so the
    // kernel's behavior is checked against written-down expectations,
    // not a twin implementation.
    QueryDef("q382_url_canonical",
      (s, dir) => {
        val u = fixtureUrl(col("doc_id").cast("long"))
        t(s, dir, "documents").select(col("doc_id"), u.as("url"),
            WebCorpus.canonUrl(u).as("canon"),
            WebCorpus.domain(u).as("domain"))
          .orderBy("doc_id")
      },
      Some(
        s"""WITH $urlCtes
           |SELECT id AS doc_id, url, canon, domain FROM urls
           |ORDER BY doc_id""".stripMargin)),

    // Per-domain crawl report (WebCorpus.domainReport): raw URLs vs
    // distinct canonical pages per registrable domain (bundled-PSL
    // eTLD+1), dup mass in ppm; unparseable URLs counted under
    // `(invalid)`, never dropped. The grouping key space is |sites| —
    // at 100 TB the shuffle ships domain-grain partials, map-side
    // combined.
    QueryDef("q383_url_domain_report",
      (s, dir) => WebCorpus.domainReport(
          t(s, dir, "documents")
            .select(fixtureUrl(col("doc_id").cast("long")).as("url")),
          "url")
        .orderBy("domain"),
      Some(
        s"""WITH $urlCtes
           |SELECT coalesce(domain, '(invalid)') AS domain,
           |  CAST(count(*) AS BIGINT) AS n_urls,
           |  CAST(count(DISTINCT canon) AS BIGINT) AS n_pages,
           |  CAST((count(*) - count(DISTINCT canon)) * 1000000
           |    // count(*) AS BIGINT) AS dup_ppm,
           |  CAST(sum(is_default) AS BIGINT) AS n_psl_default
           |FROM urls
           |GROUP BY 1
           |ORDER BY domain""".stripMargin)),

    // URL-level dedup groups (WebCorpus.urlDedupGroups): canonical
    // keys carrying ≥ 2 raw variants, keeper = min doc id. The
    // cheapest crawl dedup there is — one groupBy on the canonical
    // string, before any text is even tokenized.
    QueryDef("q384_url_dedup_groups",
      (s, dir) => WebCorpus.urlDedupGroups(
          t(s, dir, "documents")
            .select(col("doc_id"),
              fixtureUrl(col("doc_id").cast("long")).as("url")),
          "doc_id", "url")
        .orderBy("canon_url"),
      Some(
        s"""WITH $urlCtes
           |SELECT canon AS canon_url, min(id) AS keeper_id,
           |  CAST(count(*) AS BIGINT) AS n_urls
           |FROM urls
           |WHERE canon IS NOT NULL
           |GROUP BY 1
           |HAVING count(*) >= 2
           |ORDER BY canon_url""".stripMargin))
  ) :+ q387 :+ q388 :+ q389 :+ q390 :+ q391 :+ q392 :+ q393 :+ q394 :+
    q395 :+ q396 :+ q397 :+ q398 :+ q399 :+ q400

  private def q387 =
    // Per-domain document cap (WebCorpus.domainCap): keep ≤ 20 docs
    // per registrable domain by md5-of-id priority — a stable
    // pseudo-random site-balance sample, replay-identical and
    // partition-independent. The oracle replays the SELECTION itself
    // (same md5 over the same fixture domains), so the output ids —
    // not just the counts — must match. Unattributable (invalid-URL)
    // docs pass through uncapped, visible in the output as null
    // domain. The one shuffle partitions by domain; no global sort.
    QueryDef("q387_domain_cap",
      (s, dir) => {
        val withUrl = t(s, dir, "documents")
          .select(col("doc_id"),
            fixtureUrl(col("doc_id").cast("long")).as("url"))
        WebCorpus.domainCap(withUrl, "doc_id", "url", maxPerDomain = 20)
          .select(col("doc_id"), WebCorpus.domain(col("url")).as("domain"))
          .orderBy("doc_id")
      },
      Some(
        s"""WITH $urlCtes,
           |rk AS (
           |  SELECT id, domain,
           |    CASE WHEN domain IS NULL THEN 1
           |      ELSE row_number() OVER (PARTITION BY domain
           |        ORDER BY md5(CAST(id AS VARCHAR)), id) END AS rk
           |  FROM urls)
           |SELECT id AS doc_id, domain FROM rk
           |WHERE rk <= 20
           |ORDER BY doc_id""".stripMargin))

  private def q388 =
    // Web-curation capstone — the session's tiers composed as ONE
    // funnel, per-source manifest grain (the q318 discipline): raw →
    // URL dedup (keep the min-id doc per canonical key; unparseable
    // URLs pass — they are not URL-dedupable) → per-domain cap (≤ 20
    // by md5 priority, unattributable pass) → zero-tolerance blocklist
    // gate. Every stage is the already-verified operator (q382/q387/
    // q378), so the capstone checks their COMPOSITION: the oracle
    // chains the fixture CTEs through the same three stages and the
    // per-source counts must match at every stage, not just the end.
    QueryDef("q388_web_curation_funnel",
      (s, dir) => {
        val pats = Seq("slow merge", "window window", "batch batch")
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"),
            fixtureUrl(col("doc_id").cast("long")).as("url"))
        val s1 = WebCorpus.urlDedup(docs, "doc_id", "url")
        val s2 = WebCorpus.domainCap(s1, "doc_id", "url",
          maxPerDomain = 20)
        val s3 = Blocklist.clean(s2, "text", pats)
        def cnt(df: DataFrame, as: String) =
          df.groupBy("source").agg(count(lit(1)).as(as))
        cnt(docs, "n_raw")
          .join(cnt(s1, "n_url_unique"), Seq("source"), "left")
          .join(cnt(s2, "n_after_cap"), Seq("source"), "left")
          .join(cnt(s3, "n_clean"), Seq("source"), "left")
          .na.fill(0L,
            Seq("n_url_unique", "n_after_cap", "n_clean"))
          .orderBy("source")
      },
      Some {
        val bl = blockCtes(
          Seq("slow merge", "window window", "batch batch"))
        s"""WITH $urlCtes,
           |$bl,
           |d AS (SELECT u.id, u.canon, u.domain, doc.source, doc.text
           |      FROM urls u JOIN documents doc ON doc.doc_id = u.id),
           |${webCurateCtes("d")}
           |SELECT doc.source,
           |  CAST(count(*) AS BIGINT) AS n_raw,
           |  CAST(coalesce(s1c.n, 0) AS BIGINT) AS n_url_unique,
           |  CAST(coalesce(s2c.n, 0) AS BIGINT) AS n_after_cap,
           |  CAST(coalesce(s3c.n, 0) AS BIGINT) AS n_clean
           |FROM documents doc
           |LEFT JOIN (SELECT source, count(*) AS n FROM s1 GROUP BY 1)
           |  s1c ON s1c.source = doc.source
           |LEFT JOIN (SELECT source, count(*) AS n FROM s2 GROUP BY 1)
           |  s2c ON s2c.source = doc.source
           |LEFT JOIN (SELECT source, count(*) AS n FROM s3 GROUP BY 1)
           |  s3c ON s3c.source = doc.source
           |GROUP BY 1, s1c.n, s2c.n, s3c.n
           |ORDER BY doc.source""".stripMargin
      })

  private def q389 =
    // WARC round trip (sources/Warc — the web-archive format crawl
    // corpora actually ship in, S-tier beside CSV/XLSX/JSONL/ORC/XML):
    // every document written as a strict WARC/1.0 response record
    // (one row per record through the parallel text sink, separator
    // framed byte-exactly), read back via the binaryFile walk, and
    // reconciled per registrable domain — record counts AND payload
    // byte sums must survive the format. The oracle never parses WARC:
    // it predicts both from the fixture join, so writer and reader
    // must BOTH be right to go green.
    QueryDef("q389_warc_roundtrip",
      (s, dir) => warcRoundtrip(s, dir, "graft_warc_roundtrip")(
        graft.sources.Warc.write(_, _, "url", "text")),
      Some(warcRoundtripOracle))

  private def q390 =
    // robots.txt compliance audit (WebCorpus.robotsAudit over the
    // graft_robots_allowed kernel — RFC 9309 shape for agent `*`):
    // each document's canonical path judged against its registrable
    // domain's robots rules — longest matching prefix decides, Allow
    // wins length ties, no rule / no robots on record → allowed,
    // unparseable URL → null verdict. The per-site robots bodies are
    // dimension-sized config, so the join broadcasts; the verdict is a
    // cached-parse prefix match riding the corpus scan. The oracle
    // computes the SAME decision relationally: a literal rules table,
    // a starts_with join, and a (length DESC, allow DESC) argmax —
    // fully independent of the parser.
    QueryDef("q390_robots_audit",
      (s, dir) => {
        import s.implicits._
        val robots = Seq(
          ("example.co.uk",
            "User-agent: *\nDisallow: /a\nAllow: /a/b\n"),
          ("example.com", "User-agent: *\nDisallow:\n"),
          ("blog.github.io", "User-agent: *\nDisallow: /\n"),
          ("example.org", "User-agent: bot\nDisallow: /\n"),
          ("shop-site.com",
            "# cap\nUser-agent: *\nAllow: /index\nDisallow: /inde\n"),
          ("example.net", "User-agent: *\nDisallow: /p\n"),
          ("plain.de", "User-agent: *\nDisallow: /A\n"))
          .toDF("domain", "robots_txt")
        WebCorpus.robotsAudit(
          t(s, dir, "documents").select(col("doc_id"),
            fixtureUrl(col("doc_id").cast("long")).as("url")),
          "doc_id", "url", robots)
          .orderBy("doc_id")
      },
      Some(
        s"""WITH $urlCtes,
           |rules AS (SELECT * FROM (VALUES
           |  ('example.co.uk', '/a', 0),
           |  ('example.co.uk', '/a/b', 1),
           |  ('blog.github.io', '/', 0),
           |  ('shop-site.com', '/index', 1),
           |  ('shop-site.com', '/inde', 0),
           |  ('example.net', '/p', 0),
           |  ('plain.de', '/A', 0))
           |  AS r(domain, prefix, is_allow)),
           |cand AS (
           |  SELECT u.id, r.is_allow,
           |    row_number() OVER (PARTITION BY u.id
           |      ORDER BY length(r.prefix) DESC, r.is_allow DESC) AS rn
           |  FROM urls u JOIN rules r ON r.domain = u.domain
           |    AND starts_with(u.mpath, r.prefix))
           |SELECT u.id AS doc_id, u.domain,
           |  CASE WHEN u.canon IS NULL THEN NULL
           |    ELSE CAST(coalesce(v.is_allow, 1) AS INT) END AS allowed
           |FROM urls u
           |LEFT JOIN (SELECT id, is_allow FROM cand WHERE rn = 1) v
           |  ON v.id = u.id
           |ORDER BY doc_id""".stripMargin))

  private def q391 =
    // Full crawl-compliance funnel — q388 with the robots gate in
    // front, which is the order a lawful pipeline runs: documents we
    // were not allowed to fetch (or whose URL cannot be attributed)
    // never enter curation at all. Stages: raw → robots-allowed →
    // URL dedup (min-id per canonical key among the COMPLIANT set) →
    // per-domain cap → zero-tolerance blocklist. Per-source counts at
    // every stage; the oracle chains the q390 verdict, the q388
    // stages and the q376 position-scan over the shared fixture CTEs.
    QueryDef("q391_compliance_funnel",
      (s, dir) => {
        import s.implicits._
        val pats = Seq("slow merge", "window window", "batch batch")
        val docs = t(s, dir, "documents")
          .select(col("doc_id"), col("source"), col("text"),
            fixtureUrl(col("doc_id").cast("long")).as("url"))
        val robots = Seq(
          ("example.co.uk",
            "User-agent: *\nDisallow: /a\nAllow: /a/b\n"),
          ("blog.github.io", "User-agent: *\nDisallow: /\n"),
          ("example.net", "User-agent: *\nDisallow: /p\n"),
          ("plain.de", "User-agent: *\nDisallow: /A\n"))
          .toDF("domain", "robots_txt")
        val compliant = WebCorpus.robotsAudit(docs, "doc_id", "url",
            robots)
          .where(col("allowed") === 1).select("doc_id")
        val s0 = docs.join(compliant, "doc_id")
        val s1 = WebCorpus.urlDedup(s0, "doc_id", "url")
        val s2 = WebCorpus.domainCap(s1, "doc_id", "url",
          maxPerDomain = 20)
        val s3 = Blocklist.clean(s2, "text", pats)
        def cnt(df: DataFrame, as: String) =
          df.groupBy("source").agg(count(lit(1)).as(as))
        cnt(docs, "n_raw")
          .join(cnt(s0, "n_compliant"), Seq("source"), "left")
          .join(cnt(s1, "n_url_unique"), Seq("source"), "left")
          .join(cnt(s2, "n_after_cap"), Seq("source"), "left")
          .join(cnt(s3, "n_clean"), Seq("source"), "left")
          .na.fill(0L, Seq("n_compliant", "n_url_unique",
            "n_after_cap", "n_clean"))
          .orderBy("source")
      },
      Some {
        val bl = blockCtes(
          Seq("slow merge", "window window", "batch batch"))
        s"""WITH $urlCtes,
           |$bl,
           |rules AS (SELECT * FROM (VALUES
           |  ('example.co.uk', '/a', 0),
           |  ('example.co.uk', '/a/b', 1),
           |  ('blog.github.io', '/', 0),
           |  ('example.net', '/p', 0),
           |  ('plain.de', '/A', 0))
           |  AS r(domain, prefix, is_allow)),
           |cand AS (
           |  SELECT u.id, r.is_allow,
           |    row_number() OVER (PARTITION BY u.id
           |      ORDER BY length(r.prefix) DESC, r.is_allow DESC) AS rn
           |  FROM urls u JOIN rules r ON r.domain = u.domain
           |    AND starts_with(u.mpath, r.prefix)),
           |s0 AS (
           |  SELECT u.id, u.canon, u.domain, doc.source, doc.text
           |  FROM urls u
           |  JOIN documents doc ON doc.doc_id = u.id
           |  LEFT JOIN (SELECT id, is_allow FROM cand WHERE rn = 1) v
           |    ON v.id = u.id
           |  WHERE u.canon IS NOT NULL AND coalesce(v.is_allow, 1) = 1),
           |${webCurateCtes("s0")}
           |SELECT doc.source,
           |  CAST(count(*) AS BIGINT) AS n_raw,
           |  CAST(coalesce(s0c.n, 0) AS BIGINT) AS n_compliant,
           |  CAST(coalesce(s1c.n, 0) AS BIGINT) AS n_url_unique,
           |  CAST(coalesce(s2c.n, 0) AS BIGINT) AS n_after_cap,
           |  CAST(coalesce(s3c.n, 0) AS BIGINT) AS n_clean
           |FROM documents doc
           |LEFT JOIN (SELECT source, count(*) AS n FROM s0 GROUP BY 1)
           |  s0c ON s0c.source = doc.source
           |LEFT JOIN (SELECT source, count(*) AS n FROM s1 GROUP BY 1)
           |  s1c ON s1c.source = doc.source
           |LEFT JOIN (SELECT source, count(*) AS n FROM s2 GROUP BY 1)
           |  s2c ON s2c.source = doc.source
           |LEFT JOIN (SELECT source, count(*) AS n FROM s3 GROUP BY 1)
           |  s3c ON s3c.source = doc.source
           |GROUP BY 1, s0c.n, s1c.n, s2c.n, s3c.n
           |ORDER BY doc.source""".stripMargin
      })

  private def q392 =
    // Per-agent robots groups (round 15, VERDICT r14 task 7 — RFC 9309
    // §2.2.1): the audit run twice over the same robots config, once
    // as the wildcard agent and once as "GraftBot", side by side. The
    // fixtures cover every selection branch: a specific group
    // OVERRIDING a domain's `*` group (example.co.uk, plain.de — the
    // latter with a case-folded token), a domain with ONLY a specific
    // group (example.com: `*` sees no rules at all), fallback to `*`
    // when no group names the agent (blog.github.io), and a domain
    // whose robots names neither (example.net: both allowed). The
    // oracle is relational and parser-independent: a hand-selected
    // EFFECTIVE-rules table per (domain, agent) — the §2.2.1 selection
    // applied by hand — then the same longest-prefix/Allow-ties argmax
    // as q390, per agent. Both verdict columns come out of ONE corpus
    // scan (robotsAuditMulti): K agents = K cached-parse prefix
    // matches per row off one broadcast join, never K scans.
    QueryDef("q392_robots_agent_audit",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents").select(col("doc_id"),
          fixtureUrl(col("doc_id").cast("long")).as("url"))
        val robots = Seq(
          ("example.co.uk",
            "User-agent: *\nDisallow: /a\nAllow: /a/b\n" +
              "User-agent: GraftBot\nDisallow: /\n"),
          ("example.com", "User-agent: GraftBot\nDisallow: /p\n"),
          ("blog.github.io", "User-agent: *\nDisallow: /\n"),
          ("plain.de",
            "User-agent: graftbot\nAllow: /\n" +
              "User-agent: *\nDisallow: /\n"),
          ("example.net", "User-agent: Other\nDisallow: /\n"))
          .toDF("domain", "robots_txt")
        WebCorpus.robotsAuditMulti(docs, "doc_id", "url", robots,
            Seq("*", "GraftBot"))
          .withColumnRenamed("allowed__", "allowed_star")
          .withColumnRenamed("allowed_graftbot", "allowed_bot")
          .orderBy("doc_id")
      },
      Some(
        s"""WITH $urlCtes,
           |rules AS (SELECT * FROM (VALUES
           |  ('example.co.uk', '*', '/a', 0),
           |  ('example.co.uk', '*', '/a/b', 1),
           |  ('example.co.uk', 'bot', '/', 0),
           |  ('example.com', 'bot', '/p', 0),
           |  ('blog.github.io', '*', '/', 0),
           |  ('blog.github.io', 'bot', '/', 0),
           |  ('plain.de', '*', '/', 0),
           |  ('plain.de', 'bot', '/', 1))
           |  AS r(domain, agent, prefix, is_allow)),
           |cand AS (
           |  SELECT u.id, r.agent, r.is_allow,
           |    row_number() OVER (PARTITION BY u.id, r.agent
           |      ORDER BY length(r.prefix) DESC, r.is_allow DESC) AS rn
           |  FROM urls u JOIN rules r ON r.domain = u.domain
           |    AND starts_with(u.mpath, r.prefix))
           |SELECT u.id AS doc_id, u.domain,
           |  CASE WHEN u.canon IS NULL THEN NULL
           |    ELSE CAST(coalesce(sv.is_allow, 1) AS INT) END
           |    AS allowed_star,
           |  CASE WHEN u.canon IS NULL THEN NULL
           |    ELSE CAST(coalesce(bv.is_allow, 1) AS INT) END
           |    AS allowed_bot
           |FROM urls u
           |LEFT JOIN (SELECT id, is_allow FROM cand
           |           WHERE agent = '*' AND rn = 1) sv ON sv.id = u.id
           |LEFT JOIN (SELECT id, is_allow FROM cand
           |           WHERE agent = 'bot' AND rn = 1) bv ON bv.id = u.id
           |ORDER BY doc_id""".stripMargin))

  private def q393 =
    // Gzip WARC round trip (round 15, VERDICT r14 task 3): q389's
    // reconciliation over writeGzip — each part file one gzip member,
    // the reader sniffing magic bytes and inflating all members before
    // the same strict record walk. The oracle (identical to q389's)
    // never touches WARC or gzip: both the compressed writer and the
    // inflating reader must be right for the domain-grain counts and
    // payload byte sums to land.
    QueryDef("q393_warc_gzip_roundtrip",
      (s, dir) => warcRoundtrip(s, dir, "graft_warc_gz_roundtrip")(
        graft.sources.Warc.writeGzip(_, _, "url", "text")),
      Some(warcRoundtripOracle))

  /** The q394 PSL fixture hosts and their hand-derived registrable
    * domains — one pair per doc_id residue, mirrored literally in the
    * oracle. The hosts exercise ccTLD second-level registries
    * (com.sg / gov.au / co.jp / com.br / gob.mx), the `*.ck` wildcard
    * with its `!www.ck` exception, the `*.np` wildcard, US/CA
    * geographic hierarchies, and private-section PaaS suffixes —
    * every rule KIND in [[graft.sources.PublicSuffix]].
    */
  private def pslHosts: Seq[(String, String)] = Seq(
    "www.example.com.sg" -> "example.com.sg",
    "a.b.example.gov.au" -> "example.gov.au",
    "x.example.co.jp" -> "example.co.jp",
    "shop.example.com.br" -> "example.com.br",
    "x.example.gob.mx" -> "example.gob.mx",
    "sub.www.ck" -> "www.ck",
    "foo.bar.ck" -> "foo.bar.ck",
    "w.example.com.np" -> "example.com.np",
    "x.app.myshopify.com" -> "app.myshopify.com",
    "y.site.netlify.app" -> "site.netlify.app",
    "school.district.ca.us" -> "district.ca.us",
    "b.blogspot.com.br" -> "b.blogspot.com.br",
    // an UNLISTED registry: .zz matches nothing, so the implicit `*`
    // default buckets it — the row the n_psl_default column (r15
    // task 7) exists to count
    "a.b.example.zz" -> "example.zz")

  private def q394 =
    // Bundled-PSL domain report (round 15, VERDICT r14 task 6): the
    // per-domain crawl report over hosts chosen to hit every
    // public-suffix rule kind — exact multi-label registries, wildcard
    // rules, the exception rule, and private-section PaaS suffixes.
    // The oracle never runs a suffix algorithm: the expected
    // registrable domain is HAND-DERIVED per host and written into the
    // VALUES literal, so a PSL lookup regression (e.g. wildcard or
    // exception handling) breaks the hash.
    QueryDef("q394_psl_domain_report",
      (s, dir) => {
        val host = elt(
          (pmod(col("doc_id").cast("long"), lit(pslHosts.size)) + 1)
            .cast("int")
            +: pslHosts.map(h => lit(h._1)): _*)
        WebCorpus.domainReport(
          t(s, dir, "documents")
            .select(concat(lit("http://"), host, lit("/p")).as("url")),
          "url")
          .orderBy("domain")
      },
      Some {
        val m = pslHosts.size
        val hostList = pslHosts.map(h => s"'${h._1}'").mkString(",")
        val domList = pslHosts.map(h => s"'${h._2}'").mkString(",")
        // hand-labeled rule kind per host: only the unlisted-registry
        // host rides the implicit default
        val defList = pslHosts
          .map(h => if (h._1.endsWith(".zz")) "1" else "0").mkString(",")
        s"""WITH h AS (
           |  SELECT doc_id AS id,
           |    ([$hostList])[doc_id % $m + 1] AS host,
           |    ([$domList])[doc_id % $m + 1] AS dom,
           |    ([$defList])[doc_id % $m + 1] AS is_default
           |  FROM documents)
           |SELECT dom AS domain,
           |  CAST(count(*) AS BIGINT) AS n_urls,
           |  CAST(count(DISTINCT host) AS BIGINT) AS n_pages,
           |  CAST((count(*) - count(DISTINCT host)) * 1000000
           |    // count(*) AS BIGINT) AS dup_ppm,
           |  CAST(sum(is_default) AS BIGINT) AS n_psl_default
           |FROM h
           |GROUP BY 1
           |ORDER BY domain""".stripMargin
      })

  private def q395 =
    // Recrawl politeness budget (WebCorpus.crawlBudget): per domain,
    // page volume × the crawl-delay the wildcard agent would honor
    // (graft_robots_delay — §2.2.1 group selection, largest across
    // selected groups, junk values skipped) plus the file-wide
    // sitemap count. The fixtures cover: a plain delay + sitemap, an
    // agent-specific delay NOT applying to `*` (example.net → null), a
    // `*` group whose delay differs from the bot group's
    // (example.co.uk → 10), a junk first delay superseded by a valid
    // one (shop-site.com → 2), sitemaps without any delay (plain.de),
    // and sites with no robots at all (null delay, default budget).
    // The oracle re-derives budgets relationally from a hand-derived
    // politeness VALUES table — independent of the parser.
    QueryDef("q395_crawl_budget",
      (s, dir) => {
        import s.implicits._
        val docs = t(s, dir, "documents")
          .select(fixtureUrl(col("doc_id").cast("long")).as("url"))
        val robots = Seq(
          ("example.com",
            "User-agent: *\nCrawl-delay: 1.5\nDisallow: /x\n" +
              "Sitemap: https://example.com/s.xml\n"),
          ("example.co.uk",
            "User-agent: GraftBot\nCrawl-delay: 0.5\n" +
              "User-agent: *\nCrawl-delay: 10\n"),
          ("plain.de",
            "User-agent: *\nDisallow: /\n" +
              "Sitemap: https://plain.de/a.xml\n" +
              "Sitemap: https://plain.de/b.xml\n"),
          ("example.net", "User-agent: GraftBot\nCrawl-delay: 3\n"),
          ("shop-site.com",
            "User-agent: *\nCrawl-delay: soon\nCrawl-delay: 2\n"))
          .toDF("domain", "robots_txt")
        WebCorpus.crawlBudget(docs, "url", robots,
            agent = "*", defaultDelay = 1.0)
          .orderBy("domain")
      },
      Some(
        s"""WITH $urlCtes,
           |agg AS (
           |  SELECT coalesce(domain, '(invalid)') AS domain,
           |    CAST(count(*) AS BIGINT) AS n_docs,
           |    CAST(count(DISTINCT canon) AS BIGINT) AS n_pages
           |  FROM urls GROUP BY 1),
           |pol AS (SELECT * FROM (VALUES
           |  ('example.com', 1.5, 1),
           |  ('example.co.uk', 10.0, 0),
           |  ('plain.de', NULL, 2),
           |  ('example.net', NULL, 0),
           |  ('shop-site.com', 2.0, 0))
           |  AS p(domain, crawl_delay, n_sitemaps))
           |SELECT a.domain, a.n_docs, a.n_pages,
           |  p.crawl_delay,
           |  CAST(coalesce(p.n_sitemaps, 0) AS INT) AS n_sitemaps,
           |  round(a.n_pages * coalesce(p.crawl_delay, 1.0), 1)
           |    AS budget_secs
           |FROM agg a LEFT JOIN pol p USING (domain)
           |ORDER BY a.domain""".stripMargin))

  /** The q396–q398 fixture HTML page per doc: deterministic structure
    * exercising a comment holding fake tags, script with a bare `<`,
    * style with a bare `>`, named + decimal + hex character
    * references, a quoted attribute containing `>`, NBSP, and three
    * anchors — one absolute cross-site link (target by `id % 5`), one
    * relative, one `javascript:`. Every oracle value is hand-derived
    * from the same residues, never a twin parser.
    */
  private def fixtureHtml(id: Column): Column = {
    val dst = elt((pmod(id, lit(5)) + 1).cast("int"),
      lit("example.com"), lit("news.co.uk"), lit("x.github.io"),
      lit("plain.de"), lit("a.example.com"))
    concat(
      lit("<!-- <p>boilerplate</p> --><html><head><title>Doc &#84;"),
      id.cast("string"),
      lit("</title><script>var a = 1 < 2;</script>" +
        "<style>p > span {}</style></head><body><h1>Head "),
      pmod(id, lit(9)).cast("string"),
      lit("</h1><p>alpha &amp; beta</p><a href=\"https://"), dst,
      lit("/l"), pmod(id, lit(4)).cast("string"),
      lit("\" title=\"a>b\">link &#x41;"),
      pmod(id, lit(3)).cast("string"),
      lit("</a><a href=\"/rel\">rel</a>" +
        "<a href=\"javascript:void(0)\">js</a>&nbsp;tail</body></html>"))
  }

  /** Hand-derived registrable domain of the q396 fixture's absolute
    * link target, as a DuckDB list literal indexed by `id % 5 + 1`
    * (`a.example.com` registers under `example.com`).
    */
  private def dstDomainList =
    "(['example.com','news.co.uk','x.github.io','plain.de'," +
      "'example.com'])"

  private def q396 =
    // HTML → text extraction (graft_html_text — the WARC→text step of
    // a crawl pipeline): comments, script/style contents and tags
    // drop; quoted attributes may hold '>'; character references
    // decode once; whitespace (incl. NBSP) collapses. The oracle never
    // parses HTML: the expected text is the hand-written concatenation
    // of the fixture's residue-driven parts, so every scanner rule
    // (comment skip, script skip, boundary spacing, entity decode)
    // must hold for the string equality — and the hash — to land.
    QueryDef("q396_html_text_extract",
      (s, dir) => {
        val html = fixtureHtml(col("doc_id").cast("long"))
        t(s, dir, "documents")
          .select(col("doc_id"),
            WebCorpus.htmlText(html).as("text"),
            length(WebCorpus.htmlText(html)).cast("long")
              .as("n_chars"))
          .orderBy("doc_id")
      },
      Some(
        """SELECT doc_id,
          |  'Doc T' || doc_id || ' Head ' || (doc_id % 9) ||
          |    ' alpha & beta link A' || (doc_id % 3) ||
          |    ' rel js tail' AS text,
          |  CAST(length('Doc T' || doc_id || ' Head ' || (doc_id % 9) ||
          |    ' alpha & beta link A' || (doc_id % 3) ||
          |    ' rel js tail') AS BIGINT) AS n_chars
          |FROM documents
          |ORDER BY doc_id""".stripMargin))

  private def q397 =
    // Cross-domain link graph (WebCorpus.linkGraph over
    // graft_html_links): each page's <a href> targets reduced to
    // registrable domains against the page's own domain — self edges
    // (incl. every relative link) and unresolvable targets drop. The
    // oracle re-derives the edge list from the residues: the fixture's
    // absolute link target by id % 5 (with a.example.com registering
    // under example.com — the PSL fold is part of the claim) against
    // the q382 urls CTE's hand-written source domain.
    QueryDef("q397_link_graph",
      (s, dir) => {
        val docs = t(s, dir, "documents").select(
          col("doc_id"),
          fixtureUrl(col("doc_id").cast("long")).as("url"),
          fixtureHtml(col("doc_id").cast("long")).as("html"))
        WebCorpus.linkGraph(docs, "url", "html")
          .orderBy("src_domain", "dst_domain")
      },
      Some(
        s"""WITH $urlCtes,
           |h AS (
           |  SELECT u.domain AS src,
           |    $dstDomainList[u.id % 5 + 1] AS dst
           |  FROM urls u WHERE u.domain IS NOT NULL)
           |SELECT src AS src_domain, dst AS dst_domain,
           |  CAST(count(*) AS BIGINT) AS n_links
           |FROM h WHERE src <> dst
           |GROUP BY 1, 2
           |ORDER BY src_domain, dst_domain""".stripMargin))

  private def q398 =
    // Domain-level PageRank over the q397 link graph — the
    // web-curation use of the shared q83 kernel: site authority for
    // crawl prioritization / source weighting, on the graph the
    // HTML tier just extracted. Nodes are the cross-domain edge
    // endpoints (hashed to ids, names joined back); the oracle chains
    // the q397 edge derivation into the unrolled pageRankCtes power
    // iteration — the same IEEE double trajectory as the op.
    QueryDef("q398_domain_pagerank",
      (s, dir) => {
        val docs = t(s, dir, "documents").select(
          col("doc_id"),
          fixtureUrl(col("doc_id").cast("long")).as("url"),
          fixtureHtml(col("doc_id").cast("long")).as("html"))
        val edges = WebCorpus.linkGraph(docs, "url", "html")
        val names = edges.select(col("src_domain").as("d"))
          .unionByName(edges.select(col("dst_domain").as("d")))
          .distinct()
          .select(col("d"), Hashing.portableHash(col("d")).as("id"))
        val e = edges.select(
          Hashing.portableHash(col("src_domain")).as("src"),
          Hashing.portableHash(col("dst_domain")).as("dst"))
        PageRank.run(names.select("id"), "id", e, "src", "dst",
            damping = 0.85, iters = 5)
          .join(names, "id")
          .select(col("d").as("domain"), col("pr"))
          .orderBy(col("pr").desc, col("domain"))
      },
      Some(
        s"""WITH $urlCtes,
           |h AS (
           |  SELECT u.domain AS src,
           |    $dstDomainList[u.id % 5 + 1] AS dst
           |  FROM urls u WHERE u.domain IS NOT NULL),
           |hx AS (SELECT src, dst FROM h WHERE src <> dst),
           |names AS (
           |  SELECT d, ${Hashing.duckPortableHash("d")} AS id
           |  FROM (SELECT src AS d FROM hx UNION SELECT dst FROM hx)),
           |ed AS (SELECT DISTINCT
           |    ${Hashing.duckPortableHash("src")} AS src,
           |    ${Hashing.duckPortableHash("dst")} AS dst
           |  FROM hx),
           |prnodes AS (SELECT id FROM names),
           |predges AS (SELECT src, dst FROM ed
           |            UNION SELECT dst, src FROM ed),
           |""".stripMargin +
        Shared.pageRankCtes(d = 0.85, iters = 5) + "\n" +
        """SELECT n.d AS domain,
          |  round(coalesce(p.pr, iso5.pr), 6) AS pr
          |FROM prnodes nd
          |LEFT JOIN pre5 p USING (id) CROSS JOIN iso5
          |JOIN names n ON n.id = nd.id
          |ORDER BY pr DESC, domain""".stripMargin))

  private def q399 =
    // The ingest capstone — archive bytes to trainable text, composed
    // from this round's tiers: fixture HTML pages written as a GZIP
    // WARC (per-member inflate on the read path), read back, text
    // extracted per record, reconciled per registrable domain with the
    // markup-overhead ppm. Writer framing, gzip member walk, payload
    // byte fidelity, the HTML scanner and the PSL fold ALL sit under
    // one hash: the oracle rebuilds the fixture html string and the
    // expected extracted text component-for-component in SQL and
    // derives every number from those strings — it never touches WARC,
    // gzip, or an HTML parser.
    QueryDef("q399_warc_html_ingest",
      (s, dir) => {
        val tmp = sys.props("java.io.tmpdir") + "/graft_warc_html_ingest"
        val docs = t(s, dir, "documents").select(
          fixtureUrl(col("doc_id").cast("long")).as("url"),
          fixtureHtml(col("doc_id").cast("long")).as("html"))
        graft.sources.Warc.writeGzip(docs, tmp, "url", "html")
        graft.sources.Warc.read(s, tmp)
          .select(
            coalesce(WebCorpus.domain(col("url")), lit("(invalid)"))
              .as("domain"),
            col("n_bytes"),
            length(WebCorpus.htmlText(col("payload"))).cast("long")
              .as("__tc"))
          .groupBy("domain")
          .agg(count(lit(1)).as("n_records"),
            sum("n_bytes").as("html_bytes"),
            sum("__tc").as("text_chars"),
            ((sum("n_bytes") - sum("__tc")) * lit(1000000L)
              / sum("n_bytes")).cast("long").as("markup_ppm"))
          .orderBy("domain")
      },
      Some(
        s"""WITH $urlCtes,
           |pages AS (
           |  SELECT u.id, coalesce(u.domain, '(invalid)') AS domain,
           |    length('<!-- <p>boilerplate</p> --><html><head>' ||
           |      '<title>Doc &#84;' || u.id ||
           |      '</title><script>var a = 1 < 2;</script>' ||
           |      '<style>p > span {}</style></head><body><h1>Head ' ||
           |      (u.id % 9) || '</h1><p>alpha &amp; beta</p>' ||
           |      '<a href="https://' ||
           |      (['example.com','news.co.uk','x.github.io','plain.de',
           |        'a.example.com'])[u.id % 5 + 1] ||
           |      '/l' || (u.id % 4) || '" title="a>b">link &#x41;' ||
           |      (u.id % 3) || '</a><a href="/rel">rel</a>' ||
           |      '<a href="javascript:void(0)">js</a>&nbsp;tail' ||
           |      '</body></html>') AS html_len,
           |    length('Doc T' || u.id || ' Head ' || (u.id % 9) ||
           |      ' alpha & beta link A' || (u.id % 3) ||
           |      ' rel js tail') AS text_len
           |  FROM urls u)
           |SELECT domain,
           |  CAST(count(*) AS BIGINT) AS n_records,
           |  CAST(sum(html_len) AS BIGINT) AS html_bytes,
           |  CAST(sum(text_len) AS BIGINT) AS text_chars,
           |  CAST((sum(html_len) - sum(text_len)) * 1000000
           |    // sum(html_len) AS BIGINT) AS markup_ppm
           |FROM pages
           |GROUP BY 1
           |ORDER BY domain""".stripMargin))

  private def q400 =
    // RFC 9309 §2.2.3 special characters in robots rules — `*` (any
    // octet sequence) and `$` (end anchor), both MUST-support; the
    // most-specific match is the longest RAW rule string (special
    // characters count), Allow winning ties. The fixtures hit: a
    // wildcard rule TYING a literal Allow at equal length (`/*/b` vs
    // `/a/b` → Allow), an end-anchored block that must NOT catch the
    // query-string variant, a mid-rule `$` as a literal, a `*` rule
    // outranking a shorter literal, and the exact-root `/$` block.
    // The oracle hand-translates each rule to a regex in the VALUES
    // table and ranks by the hand-written raw length — fully
    // independent of the engine's compiler.
    QueryDef("q400_robots_wildcards",
      (s, dir) => {
        import s.implicits._
        val robots = Seq(
          ("example.com",
            "User-agent: *\nDisallow: /*/b\nAllow: /a/b\n" +
              "Disallow: /index.html$\n"),
          ("example.co.uk",
            "User-agent: *\nAllow: /a\nDisallow: /a*b\n"),
          ("plain.de", "User-agent: *\nDisallow: /$\n"),
          ("example.net", "User-agent: *\nDisallow: /p*q$\n"))
          .toDF("domain", "robots_txt")
        WebCorpus.robotsAudit(
          t(s, dir, "documents").select(col("doc_id"),
            fixtureUrl(col("doc_id").cast("long")).as("url")),
          "doc_id", "url", robots)
          .orderBy("doc_id")
      },
      Some(
        s"""WITH $urlCtes,
           |rules AS (SELECT * FROM (VALUES
           |  ('example.com', 4, 0, '^/.*/b'),
           |  ('example.com', 4, 1, '^/a/b'),
           |  ('example.com', 12, 0, '^/index\\.html$$'),
           |  ('example.co.uk', 2, 1, '^/a'),
           |  ('example.co.uk', 4, 0, '^/a.*b'),
           |  ('plain.de', 2, 0, '^/$$'),
           |  ('example.net', 5, 0, '^/p.*q$$'))
           |  AS r(domain, rule_len, is_allow, rx)),
           |cand AS (
           |  SELECT u.id, r.is_allow,
           |    row_number() OVER (PARTITION BY u.id
           |      ORDER BY r.rule_len DESC, r.is_allow DESC) AS rn
           |  FROM urls u JOIN rules r ON r.domain = u.domain
           |    AND regexp_matches(u.mpath, r.rx))
           |SELECT u.id AS doc_id, u.domain,
           |  CASE WHEN u.canon IS NULL THEN NULL
           |    ELSE CAST(coalesce(v.is_allow, 1) AS INT) END AS allowed
           |FROM urls u
           |LEFT JOIN (SELECT id, is_allow FROM cand WHERE rn = 1) v
           |  ON v.id = u.id
           |ORDER BY doc_id""".stripMargin))

  /** Writes the documents' texts under their fixture URLs as WARC to
    * `java.io.tmpdir`/`name` with `write`, reads them back, and counts
    * records and payload bytes per registrable domain.
    */
  private def warcRoundtrip(s: SparkSession, dir: String, name: String)(
      write: (DataFrame, String) => Unit): DataFrame = {
    val tmp = sys.props("java.io.tmpdir") + "/" + name
    write(t(s, dir, "documents")
      .select(col("text"),
        fixtureUrl(col("doc_id").cast("long")).as("url")), tmp)
    graft.sources.Warc.read(s, tmp)
      .select(coalesce(WebCorpus.domain(col("url")),
        lit("(invalid)")).as("domain"), col("n_bytes"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_records"),
        sum("n_bytes").as("payload_bytes"))
      .orderBy("domain")
  }

  /** Oracle of [[warcRoundtrip]]: the payload is the document text. */
  private def warcRoundtripOracle: String =
    s"""WITH $urlCtes
       |SELECT coalesce(domain, '(invalid)') AS domain,
       |  CAST(count(*) AS BIGINT) AS n_records,
       |  CAST(sum(length(doc.text)) AS BIGINT) AS payload_bytes
       |FROM urls u JOIN documents doc ON doc.doc_id = u.id
       |GROUP BY 1
       |ORDER BY domain""".stripMargin

  /** The q382–q384 fixture URL: independent variant axes driven by
    * doc_id residues. Every component below is mirrored literally in
    * [[urlCtes]]; the CANONICAL forms in the oracle are hand-written
    * per variant, not computed by a twin canonicalizer.
    */
  private def fixtureUrl(id: Column): Column = {
    def pick(m: Int, opts: String*): Column =
      elt(((pmod(id, lit(m)) + 1).cast("int") +: opts.map(lit)): _*)
    val raw = concat(
      pick(4, "http", "https", "HTTP", "Https"), lit("://"),
      when(pmod(id, lit(11)) === 0, lit("user:pw@")).otherwise(lit("")),
      pick(8, "News.Example.co.uk", "cdn.assets.Example.com",
        "sub.Blog.github.io", "EXAMPLE.org.", "www.Shop-Site.com",
        "x.y.example.net", "plain.de", "localhost"),
      pick(5, "", ":80", ":443", ":8080", ":80"),
      pick(6, "", "/", "/a/b", "/A/B", "/p%20q", "/index.html"),
      pick(7, "", "?utm_source=x&b=2&a=1", "?gclid=123", "?z=9&y=8",
        "?b=2&a=1&a=0", "?UTM_Medium=m&x=1", "?ref=home&q=a+b"),
      when(pmod(id, lit(3)) === 0, lit("#frag")).otherwise(lit("")))
    when(pmod(id, lit(13)) === 0, lit("javascript:void(0)"))
      .otherwise(raw)
  }

  /** Oracle CTEs ending in `urls(id, url, canon, domain)`: the fixture
    * raw string rebuilt component-for-component, and the expected
    * canonical/domain values written out per variant index.
    */
  private def urlCtes: String =
    """ids AS (SELECT doc_id AS id FROM documents),
      |parts AS (
      |  SELECT id,
      |    (['http','https','HTTP','Https'])[id % 4 + 1] AS scheme,
      |    CASE WHEN id % 11 = 0 THEN 'user:pw@' ELSE '' END AS userinfo,
      |    (['News.Example.co.uk','cdn.assets.Example.com',
      |      'sub.Blog.github.io','EXAMPLE.org.','www.Shop-Site.com',
      |      'x.y.example.net','plain.de','localhost'])[id % 8 + 1]
      |      AS host,
      |    (['',':80',':443',':8080',':80'])[id % 5 + 1] AS port,
      |    (['','/','/a/b','/A/B','/p%20q','/index.html'])[id % 6 + 1]
      |      AS path,
      |    (['','?utm_source=x&b=2&a=1','?gclid=123','?z=9&y=8',
      |      '?b=2&a=1&a=0','?UTM_Medium=m&x=1','?ref=home&q=a+b'])
      |      [id % 7 + 1] AS query,
      |    CASE WHEN id % 3 = 0 THEN '#frag' ELSE '' END AS frag,
      |    CASE WHEN id % 4 IN (0, 2) THEN 'http' ELSE 'https' END
      |      AS cscheme,
      |    (['news.example.co.uk','cdn.assets.example.com',
      |      'sub.blog.github.io','example.org','www.shop-site.com',
      |      'x.y.example.net','plain.de','localhost'])[id % 8 + 1]
      |      AS chost,
      |    (['example.co.uk','example.com','blog.github.io',
      |      'example.org','shop-site.com','example.net','plain.de',
      |      'localhost'])[id % 8 + 1] AS cdomain,
      |    -- PSL rule kind per host: co.uk and github.io are bundled
      |    -- exact rules; the single-label TLDs ride the implicit `*`
      |    -- default (the bundled subset lists no bare TLDs)
      |    ([0,1,0,1,1,1,1,1])[id % 8 + 1] AS host_is_default,
      |    (['/','/','/a/b','/A/B','/p%20q','/index.html'])[id % 6 + 1]
      |      AS cpath,
      |    (['','?a=1&b=2','','?y=8&z=9','?a=0&a=1&b=2','?x=1',
      |      '?q=a+b'])[id % 7 + 1] AS cquery
      |  FROM ids),
      |urls AS (
      |  SELECT id,
      |    CASE WHEN id % 13 = 0 THEN 'javascript:void(0)'
      |      ELSE scheme || '://' || userinfo || host || port ||
      |        path || query || frag END AS url,
      |    CASE WHEN id % 13 = 0 THEN NULL
      |      ELSE cscheme || '://' || chost ||
      |        CASE
      |          WHEN id % 5 IN (1, 4) AND cscheme = 'http' THEN ''
      |          WHEN id % 5 = 2 AND cscheme = 'https' THEN ''
      |          ELSE port END ||
      |        cpath || cquery END AS canon,
      |    CASE WHEN id % 13 = 0 THEN NULL ELSE cdomain END AS domain,
      |    CASE WHEN id % 13 = 0 THEN NULL ELSE cpath END AS cpath,
      |    -- the RFC 9309 robots match target: path + RAW query
      |    CASE WHEN id % 13 = 0 THEN NULL ELSE cpath || query END
      |      AS mpath,
      |    CASE WHEN id % 13 = 0 THEN 0 ELSE host_is_default END
      |      AS is_default
      |  FROM parts)""".stripMargin
}
