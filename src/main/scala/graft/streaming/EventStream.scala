package graft.streaming

import graft.ops.Pin
import graft.sources.Layout
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference is batch-only (SURVEY.md §2.10); this is the additive
  * streaming tier a 100 TB engine needs: watermarked event-time windows
  * plus custom session state. Batch/stream parity: `windowedCounts`
  * accepts either a static or a streaming DataFrame — the same plan
  * runs in both modes, which is how we unit-test exact results.
  */
object EventStream {

  /** Tumbling event-time window aggregation with a watermark bounding
    * state. At scale: state store is keyed by (window, event_type) —
    * low cardinality; the watermark evicts closed windows so state
    * never grows unboundedly.
    */
  def windowedCounts(events: DataFrame, windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val in = if (events.isStreaming) events.withWatermark("ts", watermark) else events
    in.groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
      .select(col("window.start").as("window_start"), col("event_type"),
        col("n"), col("total_value"))
  }

  final case class Event(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
      event_type: String, value: Double)
  final case class SessionAgg(user_id: Long, n_events: Long, total_value: Double,
      first_ts: java.sql.Timestamp, last_ts: java.sql.Timestamp)

  /** Pure state-merge step, factored out so the session arithmetic is
    * unit-testable without driving a streaming query.
    */
  private[graft] def mergeSession(
      uid: Long, events: Seq[Event], prev: Option[SessionAgg]): SessionAgg =
    SessionAgg(
      uid,
      prev.map(_.n_events).getOrElse(0L) + events.size,
      prev.map(_.total_value).getOrElse(0.0) + events.map(_.value).sum,
      (prev.map(_.first_ts) ++ events.map(_.ts)).minBy(_.getTime),
      (prev.map(_.last_ts) ++ events.map(_.ts)).maxBy(_.getTime))

  /** Custom stateful sessionization: per-user running aggregate with a
    * processing-time idle timeout — the `mapGroupsWithState` tier for
    * semantics windows can't express. State per key is O(1) (five
    * fields), and idle keys ARE evicted: each update re-arms a
    * processing-time timeout, and on `hasTimedOut` the final session is
    * emitted and its state removed — without that the store grows with
    * every user ever seen (ADVICE.md r2).
    */
  def sessionize(spark: SparkSession, events: DataFrame,
      timeout: String = "30 minutes"): DataFrame = {
    import spark.implicits._
    events.select("event_id", "ts", "user_id", "event_type", "value").as[Event]
      .groupByKey(_.user_id)
      .mapGroupsWithState[SessionAgg, SessionAgg](
        GroupStateTimeout.ProcessingTimeTimeout) {
        (uid, batch, state: GroupState[SessionAgg]) =>
          if (state.hasTimedOut) {
            // Idle past the timeout: close the session, evict the state.
            val closed = state.get
            state.remove()
            closed
          } else {
            val merged = mergeSession(uid, batch.toSeq, state.getOption)
            state.update(merged)
            // Re-arm on every batch; only fires in streaming mode (batch
            // execution ignores timeouts — parity tests still run).
            state.setTimeoutDuration(timeout)
            merged
          }
      }.toDF()
  }

  final case class GapObs(event_id: Long, user_id: Long, v: Option[Double])
  final case class FillState(last: Double)
  final case class FilledObs(event_id: Long, user_id: Long,
      filled: Option[Double])

  /** Streaming forward-fill — the stateful twin of
    * [[graft.ops.Rolling.forwardFill]] (q124): per-key carry of the
    * last non-null observation ACROSS micro-batches, the gap-repair
    * every telemetry/price stream needs at ingest. State per key is
    * O(1) (one double); within a micro-batch the group's rows are
    * explicitly sorted by `event_id` (the group iterator carries no
    * order guarantee). No timeout eviction: the carried value IS the
    * semantics — evicting would resurrect leading nulls — so key
    * cardinality is the state bound, as with any keyed carry.
    */
  def fillForward(spark: SparkSession, obs: DataFrame): DataFrame = {
    import spark.implicits._
    obs.select("event_id", "user_id", "v").as[GapObs]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FillState, FilledObs](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid, batch, state: GroupState[FillState]) =>
          var last: Option[Double] = state.getOption.map(_.last)
          val out = batch.toSeq.sortBy(_.event_id).map { r =>
            if (r.v.isDefined) last = r.v
            FilledObs(r.event_id, uid, r.v.orElse(last))
          }
          last.foreach(v => state.update(FillState(v)))
          out.iterator
      }.toDF()
  }

  /** Streaming exact dedup on a key — the idempotency-key shape every
    * at-least-once ingest needs (the LLM-pipeline dedup tier applied to
    * the stream). Streaming mode: `dropDuplicatesWithinWatermark`, so
    * the dedup state store holds only keys younger than the watermark —
    * bounded state, unlike a plain streaming `dropDuplicates` whose
    * store grows with every key ever seen. Batch twin (same contract,
    * deterministic): keep the earliest `(ts, event_id)` row per key —
    * streaming keeps the first ARRIVAL, which coincides when arrival
    * order follows event time.
    *
    * Scale: the state store / window partition is keyed by the dedup
    * key itself — high cardinality, uniform hash partitioning, no
    * global ordering anywhere.
    */
  def dedupEvents(events: DataFrame, keys: Seq[String],
      watermark: String = "2 hours"): DataFrame =
    if (events.isStreaming)
      events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)
    else {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*).orderBy(col("ts"), col("event_id"))
      events.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") === 1).drop("_rn")
    }

  final case class DebounceIn(event_id: Long, key: Long, kind: String,
      t_us: Long)
  final case class DebounceState(lastUs: Long)
  final case class DebounceOut(event_id: Long, key: Long, kind: String,
      t_us: Long)

  /** Streaming debounce — the keyed-state twin of
    * [[graft.ops.Debounce.firstOfBurst]]: per (key, kind), an event
    * closer than `toleranceUs` to the previously SURVIVING event is
    * swallowed; the burst head passes through. State per key is one
    * long (the last emitted timestamp) carried across micro-batches,
    * so a retry storm spanning batches still collapses to one event.
    * In-batch rows are explicitly ordered by (t_us, event_id) — the
    * same tie pin as the batch twin — because Structured Streaming
    * guarantees no intra-batch order.
    *
    * State contract matches the batch twin exactly: the gap compares
    * against the last SEEN event (burst collapse), not the last kept
    * one (that would be rate limiting — a kept-anchored stream keeps
    * the third event of a long dense burst; burst collapse never
    * does). Results coincide with the batch op when arrival order
    * follows event time.
    */
  def debounce(spark: SparkSession, events: DataFrame,
      toleranceUs: Long): DataFrame = {
    import spark.implicits._
    events.select("event_id", "key", "kind", "t_us").as[DebounceIn]
      .groupByKey(e => (e.key, e.kind))
      .flatMapGroupsWithState[DebounceState, DebounceOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_, batch, state: GroupState[DebounceState]) =>
          var lastSeen: Option[Long] = state.getOption.map(_.lastUs)
          val out = batch.toSeq.sortBy(e => (e.t_us, e.event_id)).flatMap {
            e =>
              val keep = lastSeen.forall(l => e.t_us - l > toleranceUs)
              lastSeen = Some(e.t_us)
              if (keep) Some(DebounceOut(e.event_id, e.key, e.kind, e.t_us))
              else None
          }
          lastSeen.foreach(l => state.update(DebounceState(l)))
          out.iterator
      }.toDF()
  }

  /** Streaming NEAR-dup dedup at signature grain — the incremental
    * counterpart of [[graft.ops.Dedup.minhashNearDups]] for an ingest
    * stream: two docs sharing their FULL k-value MinHash signature are
    * near-identical (every hash minimum agrees — token sets differ at
    * most marginally), so deduping on `sig_key = md5(signature)` drops
    * streaming re-crawls and boilerplate copies without any pair join
    * at all. Coarser than the batch band/verify pipeline (which also
    * catches 0.8-Jaccard neighbors) — the stream gate catches the
    * near-identical mass cheaply NOW; the periodic batch sweep
    * ([[graft.ops.Dedup.incrementalNearDups]]) mops up the rest.
    *
    * Streaming mode: `dropDuplicatesWithinWatermark` on the signature
    * key — state bounded by the watermark horizon, keyed by a uniform
    * 128-bit hash (high cardinality, no hot partitions). Batch twin:
    * earliest `(orderCol, idCol)` row per signature survives. Docs
    * with NO signature (empty/whitespace text) pass through untouched
    * in both modes — a null key would otherwise glue all empty docs
    * into one "duplicate" class.
    */
  def dedupDocsBySignature(
      docs: DataFrame, idCol: String, textCol: String, orderCol: String,
      k: Int = 64, watermark: String = "2 hours"): DataFrame = {
    require(!docs.columns.contains("sig_key"),
      "dedupDocsBySignature emits sig_key: rename the existing column first")
    val sigKey = md5(array_join(transform(
      graft.ops.Dedup.minhashSignature(col(textCol), k),
      h => h.cast("string")), ","))
    val keyed = (if (docs.isStreaming) docs.withWatermark(orderCol, watermark)
      else docs).withColumn("sig_key", sigKey)
    val deduped =
      if (docs.isStreaming)
        keyed.filter(col("sig_key").isNotNull)
          .dropDuplicatesWithinWatermark(Seq("sig_key"))
      else {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("sig_key").orderBy(col(orderCol), col(idCol))
        keyed.filter(col("sig_key").isNotNull)
          .withColumn("_rn", row_number().over(w))
          .filter(col("_rn") === 1).drop("_rn")
      }
    deduped.unionByName(keyed.filter(col("sig_key").isNull))
  }

  /** Stream-stream event-time interval join — attribute each right-side
    * event to the left-side events it followed within `within` (the
    * view→click attribution shape). In streaming mode BOTH sides get a
    * watermark, and the time-bound join condition lets Spark evict
    * buffered rows once the watermark passes `within` — bounded state,
    * which an unconstrained stream-stream join would not have. The same
    * plan runs on static frames (an equi-join on the key with a range
    * predicate), which is how the oracle checks it.
    *
    * Caller pre-shapes the two sides with distinct column names apart
    * from the join key.
    */
  def correlate(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, within: String,
      watermark: String = "2 hours"): DataFrame =
    intervalJoin(left, right, key, leftTs, rightTs, within, watermark, "inner")

  /** LEFT-OUTER stream-stream correlation — [[correlate]]'s join with
    * the "what never got an answer" rows kept: a left event with no
    * right match inside `within` emits ONCE with nulls, but only
    * after the watermark passes its join window (Spark holds the row
    * in state until no future right event could still match — the
    * outer-join state-eviction contract). This is the streaming form
    * of [[graft.ops.TemporalAntiJoin]]: alerting on unanswered
    * requests without a batch sweep.
    *
    * Scale shape: state is bounded by watermark horizon × arrival
    * rate on both sides, same as the inner join; the null emission
    * adds no state, only delayed output.
    */
  def correlateOuter(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, within: String,
      watermark: String = "2 hours"): DataFrame =
    intervalJoin(left, right, key, leftTs, rightTs, within, watermark,
      "leftOuter")

  /** The watermarked interval join behind [[correlate]] and
    * [[correlateOuter]].
    */
  private def intervalJoin(left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, within: String, watermark: String,
      joinType: String): DataFrame = {
    // Explicit aliases: when both sides derive from the SAME source
    // frame (self-attribution), bare `l(key) === r(key)` resolves to
    // one attribute and Spark warns about a trivially-true predicate;
    // qualified names always mean "left's key = right's key".
    val l = (if (left.isStreaming) left.withWatermark(leftTs, watermark)
             else left).alias("cl")
    val r = (if (right.isStreaming) right.withWatermark(rightTs, watermark)
             else right).alias("cr")
    l.join(r, col(s"cl.$key") === col(s"cr.$key") &&
      col(rightTs) >= col(leftTs) &&
      col(rightTs) <= col(leftTs) + expr(s"INTERVAL $within"),
      joinType)
      .drop(col(s"cr.$key"))
  }

  /** The skeleton every foreachBatch maintainer below shares. Per
    * micro-batch it drops the cached file listing of each `refreshed`
    * table, pins the batch once, and hands (session, pinned batch,
    * batch id) to `body`. The tables grew LAST batch, and session
    * relation caches do not see appends made by other clones, so the
    * refresh makes this batch probe the appended state.
    */
  private def maintain(source: DataFrame, checkpoint: String,
      refreshed: String*)(body: (SparkSession, DataFrame, Long) => Unit)
      : org.apache.spark.sql.streaming.StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val sp = batch.sparkSession
        refreshed.foreach(Layout.refresh(sp, _))
        body(sp, Pin.shared(batch), batchId)
      }
      .start()

  /** Grows the persisted near-dup index by one pinned batch `b`: its
    * MinHash bands keep the `band_hash` bucket layout, its token sets
    * append flat.
    */
  private def appendNearDupIndex(b: DataFrame, bandsTable: String,
      toksTable: String, k: Int, bands: Int, batchId: Long): Unit = {
    import graft.ops.Dedup
    Layout.idempotentAppendBucketed(
      Dedup.lshBands(b, "doc_id", "text", k, bands),
      bandsTable, "band_hash", batchId = batchId)
    Layout.idempotentAppendTable(
      Dedup.tokenIndex(b, "doc_id", "text"), toksTable, batchId)
  }

  /** File-source streaming entry: treat a directory of event parquet as
    * an unbounded stream (the production shape for landing-zone
    * ingest). Caller starts/stops the query.
    */
  def streamFromDir(spark: SparkSession, dir: String): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "event_id BIGINT, ts TIMESTAMP, user_id BIGINT, event_type STRING, " +
        "value DOUBLE, props STRING")
    spark.readStream.schema(schema).parquet(dir)
  }

  /** Operational near-dup ingest: each micro-batch of documents
    * PROBES the persisted bucketed minhash index
    * ([[graft.ops.Dedup.incrementalNearDupsFromIndex]] — batch bands ×
    * index bands only, no index-side exchange thanks to the
    * band_hash bucketing) and is then APPENDED to the index, so the
    * next batch also dedups against it. This is the foreachBatch
    * composition of the q93 batch operator — the form a 100 TB crawl
    * ingest actually runs: per-batch cost scales with the batch, the
    * standing corpus is signature-indexed exactly once.
    *
    * Emitted pairs land in `outTable` tagged with the micro-batch id.
    * Delivery is EXACTLY-ONCE as of round 14: every append goes
    * through [[graft.sources.Layout.idempotentAppendBucketed]] /
    * `idempotentAppendTable` keyed by the micro-batch id — a replayed
    * batch whose marker exists is skipped whole, and a crashed
    * half-committed attempt is swept and re-staged to the identical
    * file set, so the index never carries duplicates and probes never
    * need a `distinct` (replay-parity is byte-asserted in
    * StreamingModeSpec).
    */
  def incrementalDedupIngest(
      docs: DataFrame, bandsTable: String, toksTable: String,
      outTable: String, checkpoint: String,
      k: Int = 16, bands: Int = 4, threshold: Double = 0.7)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.ops.Dedup
    maintain(docs, checkpoint, bandsTable, toksTable) { (sp, b, batchId) =>
      Layout.idempotentAppendTable(
        Dedup.incrementalNearDupsFromIndex(b, "doc_id", "text",
            Layout.table(sp, bandsTable), Layout.table(sp, toksTable),
            k, bands, threshold)
          .withColumn("ingest_batch", lit(batchId)),
        outTable, batchId)
      // Index growth: the batch joins the standing corpus for every
      // LATER batch.
      appendNearDupIndex(b, bandsTable, toksTable, k, bands, batchId)
    }
  }

  /** Operational EMBEDDING ingest — the vector twin of
    * [[incrementalDedupIngest]]: each micro-batch of (id, vector)
    * rows probes the persisted IVF+SQ8 codes index
    * ([[graft.ops.Similarity.ivfSq8TopKFromIndex]] against the FROZEN
    * bootstrap codebook `centsTable` — standard IVF operation: the
    * codebook never moves, codes append) for semantic near-dups in
    * the standing corpus, emits hits with `cos >= minCos` into
    * `outTable` tagged by micro-batch, then appends the batch's codes
    * (cell_id-bucketed) and float vectors so later batches dedup
    * against it. Same exactly-once contract as the MinHash ingest:
    * all three appends are batch-id-keyed idempotent moves.
    */
  def incrementalVectorIngest(
      vecs: DataFrame, centsTable: String, idxTable: String,
      vecsTable: String, outTable: String, checkpoint: String,
      idCol: String, vecCol: String, k: Int = 3, nProbe: Int = 2,
      shortlist: Int = 20, minCos: Double = 0.0, buckets: Int = 32)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.ops.Similarity
    maintain(vecs, checkpoint, idxTable, vecsTable) { (sp, b, batchId) =>
      val cents = Layout.table(sp, centsTable)
      Layout.idempotentAppendTable(
        Similarity.ivfSq8TopKFromIndex(
            Layout.table(sp, vecsTable), b, cents,
            Layout.table(sp, idxTable),
            idCol, vecCol, k, nProbe, shortlist)
          .where(col("cos") >= minCos)
          .select(col("query_id").as("batch_id"),
            col("neighbor_id").as("index_id"), col("rank"), col("cos"))
          .withColumn("ingest_batch", lit(batchId)),
        outTable, batchId)
      Layout.idempotentAppendBucketed(
        Similarity.buildIvfSq8Index(b, cents, idCol, vecCol),
        idxTable, "cell_id", buckets, batchId = batchId)
      Layout.idempotentAppendTable(b, vecsTable, batchId)
    }
  }

  /** Operational LEXICAL-index ingest — the BM25 member of the
    * streaming-maintenance family ([[incrementalDedupIngest]] bands,
    * [[incrementalVectorIngest]] codes): each micro-batch of documents
    * appends its postings rows (term-bucketed, so probes keep bucket-
    * pruning as the index grows) and ONE batch-tagged stats partial
    * ([[graft.ops.Retrieval.bm25StatsPartial]] — corpus scalars are
    * sums, so the 1-row stats table becomes an append-only partial
    * log folded at probe time by `bm25MergeStats`), then serves the
    * standing query's top-k FROM the updated stored index into
    * `outTable` tagged with the micro-batch id.
    *
    * Same exactly-once contract as the siblings: postings, the
    * tagged stats partial, and the served top-k all commit through
    * batch-id-keyed idempotent moves, so a replay is a no-op and no
    * compaction heal is ever needed for correctness.
    */
  def incrementalPostingsIngest(
      docs: DataFrame, postingsTable: String, statsTable: String,
      outTable: String, checkpoint: String, queryTerms: Seq[String],
      k: Int = 10, buckets: Int = 32)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.ops.Retrieval
    maintain(docs, checkpoint, postingsTable, statsTable) { (sp, b, batchId) =>
      Layout.idempotentAppendBucketed(
        Retrieval.bm25Postings(b, "doc_id", "text"),
        postingsTable, "term", buckets, batchId = batchId)
      Layout.idempotentAppendTable(
        Retrieval.bm25StatsPartial(b, "doc_id", "text")
          .withColumn("ingest_batch", lit(batchId)),
        statsTable, batchId)
      Layout.refresh(sp, postingsTable)
      Layout.refresh(sp, statsTable)
      Layout.idempotentAppendTable(
        Retrieval.bm25TopKFromIndex(
            Layout.table(sp, postingsTable),
            Retrieval.bm25MergeStats(Layout.table(sp, statsTable)),
            "doc_id", queryTerms, k)
          .withColumn("ingest_batch", lit(batchId)),
        outTable, batchId)
    }
  }

  /** Operational ANCHOR-FIELD ingest (round 18 — VERDICT r17 task 8):
    * the sixth maintained-index member, completing the q414 fielded
    * index's streaming story. Each micro-batch of crawl docs
    * (doc_id, url, text, html):
    *
    *  1. appends its BODY postings + tagged stats partial — the
    *     [[incrementalPostingsIngest]] discipline verbatim;
    *  2. appends its anchor EDGE counts
    *     ([[graft.ops.WebCorpus.anchorEdgeCounts]], bucketed on
    *     `dst_url`) and its (doc_id, canonical url) rows to the docs
    *     dimension — a page's in-link history accumulates append-only;
    *  3. rebuilds the anchor FIELD for exactly the TOUCHED pages (new
    *     in-link targets + the batch's own pages): stored edges prune
    *     to the touched set, fold to global counts, and the capped
    *     top-K field ([[graft.ops.WebCorpus.anchorFieldFromEdges]])
    *     re-derives. Affected docs get a FULL new postings GENERATION
    *     (`gen` = batch id) plus a (doc_id, dl, gen) row — an upsert
    *     expressed as append-and-resolve, the cluster-map idiom, so
    *     every write stays a batch-id-keyed idempotent move;
    *  4. serves the standing query's fielded top-k from the stored
    *     index ([[graft.ops.Retrieval.bm25TopKWithAnchorsFromIndex]]
    *     with [[graft.ops.Retrieval.anchorPostingsCurrent]] /
    *     `anchorStatsCurrent` resolution) into `outTable`, tagged.
    *
    * Parity (StreamingModeSpec): after any batch, the served ranking
    * equals the batch `bm25TopKWithAnchors` over everything landed —
    * a batch whose anchors describe an earlier doc's page re-ranks
    * that doc (the q413 flip, served from the maintained index).
    * Replay is a file-level no-op like the five sibling maintainers.
    *
    * Caller seeds the six tables (empty frames are fine). `touched` is
    * broadcast — batch-link-sized; a giant backfill batch should land
    * as several micro-batches (`maxFilesPerTrigger`), which is the
    * knob this source already documents.
    *
    * MARKUP-FREE batches (round 19 — VERDICT r18 task 7): a WET or
    * `text/plain` ingest ([[graft.ops.CorpusPipeline.fromWetStream]],
    * the extended-MIME `fromWarcStream`) has no markup — such docs
    * pass `html = null` (mixed batches are fine: null rides row-wise).
    * Their BODY postings and docs-dimension rows still maintain
    * (`explode(htmlAnchors(null))` contributes zero edges, null-in/
    * null-out), so a later HTML batch whose anchors point at an
    * earlier plain-text doc's URL re-ranks it exactly like an HTML
    * sibling — StreamingModeSpec drives the mixed-batch case.
    */
  def incrementalAnchorIngest(
      docs: DataFrame, bodyPostingsTable: String, bodyStatsTable: String,
      edgesTable: String, docsTable: String,
      anchorPostingsTable: String, docGenTable: String,
      outTable: String, checkpoint: String, queryTerms: Seq[String],
      k: Int = 10, buckets: Int = 32, anchorWeight: Double = 1.0,
      maxTexts: Int = 64)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.ops.{Retrieval, WebCorpus}
    maintain(docs, checkpoint, bodyPostingsTable, bodyStatsTable, edgesTable,
        docsTable, anchorPostingsTable, docGenTable) { (sp, b, batchId) =>
      // 1. body side
      Layout.idempotentAppendBucketed(
        Retrieval.bm25Postings(b, "doc_id", "text"),
        bodyPostingsTable, "term", buckets, batchId = batchId)
      Layout.idempotentAppendTable(
        Retrieval.bm25StatsPartial(b, "doc_id", "text")
          .withColumn("ingest_batch", lit(batchId)),
        bodyStatsTable, batchId)
      // 2. anchor history
      val bEdges = WebCorpus.anchorEdgeCounts(b, "url", "html")
        .transform(Pin.shared)
      val bDocs = b.select(col("doc_id"),
          WebCorpus.canonUrl(col("url")).as("dst_url"))
        .where(col("dst_url").isNotNull)
        .transform(Pin.shared)
      Layout.idempotentAppendBucketed(bEdges, edgesTable,
        "dst_url", buckets, batchId = batchId)
      Layout.idempotentAppendBucketed(bDocs, docsTable,
        "dst_url", buckets, batchId = batchId)
      Layout.refresh(sp, edgesTable)
      Layout.refresh(sp, docsTable)
      // 3. rebuild touched pages' field → new postings generation
      val touched = bEdges.select("dst_url")
        .union(bDocs.select("dst_url")).distinct()
      val folded = Layout.table(sp, edgesTable)
        .join(broadcast(touched), "dst_url")
        .groupBy("dst_url", "anchor_text")
        .agg(sum("n_links").as("n_links"))
      val field = WebCorpus.anchorFieldFromEdges(folded, maxTexts)
      val affected = Layout.table(sp, docsTable)
        .join(broadcast(touched), "dst_url")
        .join(field, "dst_url")
        .select("doc_id", "anchor_text")
        .transform(Pin.shared)
      Layout.idempotentAppendBucketed(
        Retrieval.bm25Postings(affected, "doc_id", "anchor_text")
          .withColumn("gen", lit(batchId)),
        anchorPostingsTable, "term", buckets, batchId = batchId)
      Layout.idempotentAppendBucketed(
        affected.select(col("doc_id"),
          size(graft.ops.TextAnalysis.tokens(col("anchor_text")))
            .as("dl"))
          .withColumn("gen", lit(batchId)),
        docGenTable, "doc_id", buckets, batchId = batchId)
      Layout.refresh(sp, anchorPostingsTable)
      Layout.refresh(sp, docGenTable)
      // 4. serve from the stored index
      Layout.idempotentAppendTable(
        Retrieval.bm25TopKWithAnchorsFromIndex(
            Layout.table(sp, bodyPostingsTable),
            Retrieval.bm25MergeStats(Layout.table(sp, bodyStatsTable)),
            Retrieval.anchorPostingsCurrent(
              Layout.table(sp, anchorPostingsTable),
              Layout.table(sp, docGenTable)),
            Retrieval.anchorStatsCurrent(
              Layout.table(sp, docGenTable)),
            "doc_id", queryTerms, k, anchorWeight = anchorWeight)
          .withColumn("ingest_batch", lit(batchId)),
        outTable, batchId)
    }
  }

  /** Operational CLUSTER-map ingest — incremental dedup clusters that
    * survive append without a rebuild, the fourth index's streaming
    * maintenance: each micro-batch probes the persisted band index
    * for batch↔corpus near-dup pairs, finds batch-internal pairs, and
    * MERGES both into the stored cluster map
    * ([[graft.ops.Components.mergeClusterIndex]] — union-find over
    * the touched components only, delta-frontier on the delta, never
    * the corpus), then appends the batch's bands + toks so later
    * batches link against it. After every batch,
    * `Components.clustersFromIndex` over the map equals a full
    * rebuild over everything ingested so far (parity-tested in
    * StreamingModeSpec).
    *
    * Exactly-once contract: the merge's relabel append and the
    * band/toks appends all commit through batch-id-keyed idempotent
    * moves ([[graft.ops.Components.mergeClusterIndex]] takes the
    * batch id), so a replayed batch leaves the stored files
    * byte-identical — no duplicate generations, no compaction heal.
    */
  def incrementalClusterIngest(
      docs: DataFrame, bandsTable: String, toksTable: String,
      clusterTable: String, checkpoint: String,
      k: Int = 16, bands: Int = 4, threshold: Double = 0.7,
      buckets: Int = 32)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.ops.{Components, Dedup}
    maintain(docs, checkpoint, bandsTable, toksTable, clusterTable) { (sp, b, batchId) =>
      val cross = Dedup.incrementalNearDupsFromIndex(b, "doc_id",
        "text", Layout.table(sp, bandsTable),
        Layout.table(sp, toksTable), k, bands, threshold)
      val internal = Dedup.minhashNearDups(b, "doc_id", "text",
        k, bands, threshold)
      Components.mergeClusterIndex(sp, clusterTable,
        b, "doc_id", internal, "id_a", "id_b",
        cross, "batch_id", "index_id", buckets,
        batchId = Some(batchId))
      appendNearDupIndex(b, bandsTable, toksTable, k, bands, batchId)
    }
  }

  /** Operational IMAGE ingest — the dHash member of the streaming-
    * maintenance family (round 16, VERDICT r15 task 5; every other
    * persisted index already had one): each micro-batch of
    * (id, bytes) rows is perceptually hashed
    * ([[graft.ops.ImageHash.dhash]] — real PNG/GIF decode, one narrow
    * map), probed against the persisted band index
    * ([[graft.ops.ImageHash.incrementalPairsFromIndex]] — batch bands
    * × index bands on the bucketed single-int `band_key`, no
    * index-side exchange), near-dup hits land in `outTable` tagged
    * with the micro-batch id, and the batch's band rows APPEND
    * (band_key-bucketed) so later batches dedup against them — the
    * standing corpus is decoded and hashed exactly once.
    *
    * Same exactly-once contract as the text/vector/postings/cluster
    * maintainers: both appends are batch-id-keyed idempotent moves,
    * so a replayed micro-batch leaves the stored files byte-identical
    * (parity + replay no-op in StreamingModeSpec). Undecodable blobs
    * hash to null and never enter the index — poisoned uploads cannot
    * grow state.
    */
  def incrementalImageIngest(
      media: DataFrame, bandsTable: String, outTable: String,
      checkpoint: String, idCol: String = "id",
      bytesCol: String = "bytes", maxHamming: Int = 3,
      buckets: Int = 32)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.ops.ImageHash
    maintain(media, checkpoint, bandsTable) { (sp, b, batchId) =>
      // Hash once, reuse for probe AND append (the decode is the
      // expensive step; Pin.shared materializes it once).
      val hashes = ImageHash
        .dhash(sp, b, idCol, bytesCol)
        .transform(Pin.shared)
      Layout.idempotentAppendTable(
        ImageHash.incrementalPairsFromIndex(hashes,
            Layout.table(sp, bandsTable), idCol, maxHamming)
          .withColumn("ingest_batch", lit(batchId)),
        outTable, batchId)
      Layout.idempotentAppendBucketed(
        ImageHash.bandIndexRows(hashes, idCol),
        bandsTable, "band_key", buckets, batchId = batchId)
    }
  }

  /** Streaming OT drift monitor — entropic-transport distance of every
    * micro-batch's value distribution against the PERSISTED reference
    * histogram ([[graft.ops.Stats.histPartials]] rows in `histTable`,
    * the same index [[incrementalHistIngest]] maintains): the
    * metric-aware "is today's ingest shaped like the corpus?" alarm,
    * served without touching a corpus row. Per batch: bin the batch
    * (one narrow pass), fold the stored partials to the same `otBins`
    * coarse bins, run [[graft.ops.Drift.sinkhornFromHists]] (all
    * model-sized frames), and append one row per group to `outTable`
    * tagged with the batch id.
    *
    * The index keeps its native `nbins` resolution; `otBins` must
    * divide it (rebin = integer division of bin ids, counts summed) —
    * OT on 16 coarse bins is the stable regime for a few Sinkhorn
    * rounds while the index stays sharp for quantile probes.
    */
  def otDriftMonitor(
      docs: DataFrame, histTable: String, outTable: String,
      checkpoint: String, groupCol: String, valueCol: String,
      lo: Double, hi: Double, nbins: Int, otBins: Int,
      eps: Double = 0.1, iters: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(nbins % otBins == 0,
      s"otBins must divide nbins: $nbins, $otBins")
    val fold = (nbins / otBins).toLong
    val w = (hi - lo) / nbins
    maintain(docs, checkpoint, histTable) { (sp, b, batchId) =>
      val bHist = b
        .where(col(valueCol).isNotNull)
        .select(col(groupCol).as("_g"),
          (least(greatest(floor(
            (col(valueCol).cast("double") - lit(lo)) / lit(w)),
            lit(0)), lit(nbins - 1)).cast("long") / lit(fold))
            .cast("long").as("_b"))
        .groupBy("_g", "_b").agg(count(lit(1)).as("_cnt"))
      val ref = Layout.table(sp, histTable)
        .select((col("b") / lit(fold)).cast("long").as("_b"),
          col("cnt").as("_cnt"))
        .groupBy("_b").agg(sum("_cnt").as("_cnt"))
      Layout.idempotentAppendTable(
        graft.ops.Drift.sinkhornFromHists(bHist, ref, otBins, eps, iters)
          .withColumnRenamed("_g", groupCol)
          .withColumn("ingest_batch", lit(batchId)),
        outTable, batchId)
    }
  }

  /** Streaming media-governance ledger — [[graft.ops.Multimodal
    * .exifScan]]'s closed-loop audit (build → parse GPS → strip APP1 →
    * RE-PARSE the stripped bytes) run per micro-batch, with one audit
    * row per (source, batch) appended to `outTable`: images seen, GPS
    * found, GPS remaining after scrub (the number a release gate
    * requires to be zero), bytes saved. The append is a batch-id-keyed
    * idempotent move, so a replay leaves the ledger byte-identical —
    * the same exactly-once contract as the index-ingest family.
    */
  def exifScrubLedger(
      docs: DataFrame, outTable: String, checkpoint: String,
      idCol: String, textCol: String, sourceCol: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    maintain(docs, checkpoint) { (sp, b, batchId) =>
      graft.sources.Layout.idempotentAppendTable(
        graft.ops.Multimodal.exifScan(sp, b, idCol, textCol).toDF()
          .withColumnRenamed("id", idCol)
          .join(b.select(idCol, sourceCol), idCol)
          .groupBy(sourceCol)
          .agg(count(lit(1)).as("n_images"),
            sum(when(col("hasGps"), 1L).otherwise(0L)).as("n_gps"),
            sum(when(col("gpsAfterStrip"), 1L).otherwise(0L))
              .as("n_gps_after_scrub"),
            sum(col("nBytes") - col("strippedBytes")).as("bytes_saved"))
          .withColumn("ingest_batch", lit(batchId)),
        outTable, batchId)
    }
  }

  /** Streaming blocklist ledger — the Aho–Corasick hygiene gate
    * ([[graft.ops.Blocklist]]) run per micro-batch: ONE automaton pass
    * per arriving document (O(text + matches) whatever the blocklist
    * size), appended as one row per (source, pattern, batch) with the
    * documents-hit and total-occurrence counts — the live feed a
    * curation dashboard watches for a poisoned source. Batch-id-keyed
    * idempotent append: a replayed batch leaves the ledger
    * byte-identical, the index-ingest family's exactly-once contract.
    */
  def blocklistLedger(
      docs: DataFrame, patterns: Seq[String], outTable: String,
      checkpoint: String, idCol: String, textCol: String,
      sourceCol: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    maintain(docs, checkpoint) { (_, b, batchId) =>
      graft.sources.Layout.idempotentAppendTable(
        graft.ops.Blocklist.scan(b, idCol, textCol, patterns)
          .join(b.select(idCol, sourceCol), idCol)
          .groupBy(sourceCol, "pattern")
          .agg(count(lit(1)).as("n_docs"),
            sum(col("n_hits")).as("n_hits"))
          .withColumn("ingest_batch", lit(batchId)),
        outTable, batchId)
    }
  }

  /** Streaming WARC→text extraction ledger — the HTML tier's live
    * twin: per micro-batch, each arriving record's payload is
    * text-extracted ([[graft.ops.WebCorpus.htmlText]], one narrow
    * codegen'd pass) and the per-domain record/char volumes append as
    * one ledger row per (domain, batch) — the feed an ingest dashboard
    * watches for a markup-heavy or text-empty source. Batch-id-keyed
    * idempotent append: replays leave the ledger byte-identical.
    */
  def extractionLedger(
      records: DataFrame, outTable: String, checkpoint: String,
      urlCol: String, payloadCol: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.ops.WebCorpus
    maintain(records, checkpoint) { (_, b, batchId) =>
      graft.sources.Layout.idempotentAppendTable(
        b.select(
            coalesce(WebCorpus.domain(col(urlCol)), lit("(invalid)"))
              .as("domain"),
            length(col(payloadCol)).cast("long").as("__h"),
            length(WebCorpus.htmlText(col(payloadCol))).cast("long")
              .as("__t"))
          .groupBy("domain")
          .agg(count(lit(1)).as("n_records"),
            sum("__h").as("html_chars"),
            sum("__t").as("text_chars"))
          .withColumn("ingest_batch", lit(batchId)),
        outTable, batchId)
    }
  }

  /** HTTP-aware twin of [[extractionLedger]] (round 16): the records
    * carry RAW payload bytes (the [[graft.sources.Warc.readBinary]]
    * shape); each micro-batch parses envelopes, gates on status/MIME
    * BEFORE extraction, decodes charset-aware, and appends the
    * per-domain funnel row (records → http → gated → text chars) —
    * the live data card of a crawl ingest. Same batch-id-keyed
    * idempotent append contract.
    */
  def httpExtractionLedger(
      records: DataFrame, outTable: String, checkpoint: String,
      urlCol: String, payloadBytesCol: String)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.ops.WebCorpus
    maintain(records, checkpoint) { (_, b, batchId) =>
      // Head-only gate (round 17): status/MIME need no body decode,
      // so the body inflates only inside the gated `when` below —
      // once per gate-passing record, the single-parse discipline.
      val e = WebCorpus.httpHead(col(payloadBytesCol))
      val gate = col("__s") >= 200 && col("__s") <= 299 &&
        (col("__ct") === "text/html" ||
          col("__ct") === "application/xhtml+xml")
      graft.sources.Layout.idempotentAppendTable(
        b.select(
            coalesce(WebCorpus.domain(col(urlCol)), lit("(invalid)"))
              .as("domain"),
            e.getField("status").as("__s"),
            e.getField("content_type").as("__ct"),
            col(payloadBytesCol))
          .select(col("domain"),
            col("__s").isNotNull.cast("long").as("__http"),
            coalesce(gate.cast("long"), lit(0L)).as("__g"),
            when(gate, length(WebCorpus.htmlText(
                WebCorpus.httpText(col(payloadBytesCol))))
              .cast("long"))
              .otherwise(lit(0L)).as("__tc"))
          .groupBy("domain")
          .agg(count(lit(1)).as("n_records"),
            sum("__http").as("n_http"),
            sum("__g").as("n_gated"),
            sum("__tc").as("text_chars"))
          .withColumn("ingest_batch", lit(batchId)),
        outTable, batchId)
    }
  }

  /** Operational QUANTILE-index ingest — the histogram member of the
    * streaming-maintenance family, completing the symmetry: every
    * persisted index (bands, codes, postings, cluster map, hist
    * partials) now has a foreachBatch maintenance path. Each
    * micro-batch aggregates its own `graft_hist` partial per group
    * (shard-tagged with the batch id) and APPENDS the occupied-bucket
    * rows ([[graft.ops.Stats.histPartials]] — counts are sums, so the
    * probe's combinable fold is bit-identical to a single-pass build
    * over everything ingested), then serves the current per-group
    * percentiles FROM the stored index into `outTable`.
    *
    * Exactly-once contract: the partial append and the served
    * percentile rows commit through batch-id-keyed idempotent moves,
    * so replay is a no-op (the batch id still doubles as the shard
    * key, keeping the fold combinable).
    */
  def incrementalHistIngest(
      docs: DataFrame, histTable: String, outTable: String,
      checkpoint: String, groupCol: String, valueCol: String,
      lo: Double, hi: Double, nbins: Int, ps: Seq[Double],
      buckets: Int = 8)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.ops.Stats
    maintain(docs, checkpoint, histTable) { (sp, b, batchId) =>
      Layout.idempotentAppendBucketed(
        Stats.histPartials(
          b.withColumn("_shard", lit(batchId)),
          groupCol, "_shard", valueCol, lo, hi, nbins),
        histTable, groupCol, buckets, batchId = batchId)
      Layout.refresh(sp, histTable)
      Layout.idempotentAppendTable(
        Stats.histPercentilesFromIndex(
            Layout.table(sp, histTable), groupCol, lo, hi, nbins, ps)
          .withColumn("ingest_batch", lit(batchId)),
        outTable, batchId)
    }
  }
}
