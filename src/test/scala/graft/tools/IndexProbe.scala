package graft.tools

import graft.core.Graft
import graft.ops.{Components, Dedup, Retrieval, Similarity}
import graft.sources.Layout
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Operational-index probe benchmark (builder-side tool): for each of
  * the three persisted indexes (MinHash bands, IVF+SQ8 codes, BM25
  * postings), time the one-off BUILD+WRITE against repeated PROBES of
  * the stored tables — the measured form of "the corpus is scanned
  * once at build time and never again per query". Prints one JSON
  * line per (index, phase, rep).
  *
  * Usage: `sbt "Test/runMain graft.tools.IndexProbe [sfDir] [reps]"`.
  */
object IndexProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = Graft.session("graft-indexprobe")
    import spark.implicits._

    def time(body: => DataFrame): Double = {
      val t0 = System.nanoTime()
      body.write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    def timed(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    def emit(index: String, phase: String, rep: Int, sec: Double): Unit =
      println(f"""{"index":"$index","phase":"$phase","rep":$rep,"sec":$sec%.3f}""")

    val docs = Graft.table(spark, sfDir, "documents")
      .select("doc_id", "text").localCheckpoint(true)
    val emb = Graft.table(spark, sfDir, "embeddings")
      .select("vec_id", "embedding").localCheckpoint(true)

    // --- MinHash band index ---
    emit("minhash", "build", 0, timed {
      Layout.replaceBucketed(spark,
        Dedup.lshBands(docs, "doc_id", "text", 64, 8),
        "ip_mh_bands", "band_hash", buckets = 32)
      Layout.replaceTable(spark,
        Dedup.tokenIndex(docs, "doc_id", "text"), "ip_mh_toks")
    })
    for (r <- 1 to reps) {
      val batch = docs.where(col("doc_id") % 97 === r)
      emit("minhash", "probe", r, time(
        Dedup.incrementalNearDupsFromIndex(batch, "doc_id", "text",
          Layout.table(spark, "ip_mh_bands"),
          Layout.table(spark, "ip_mh_toks"),
          k = 64, bands = 8, threshold = 0.8)))
      emit("minhash", "inline", r, time(
        Dedup.incrementalNearDups(batch, docs, "doc_id", "text",
          k = 64, bands = 8, threshold = 0.8)))
    }

    // --- IVF+SQ8 codes index ---
    val cents = Similarity.trainCentroids(
      emb, "vec_id", "embedding", k = 8, iters = 2).localCheckpoint(true)
    emit("ivf_sq8", "build", 0, timed {
      Layout.replaceBucketed(spark,
        Similarity.buildIvfSq8Index(emb, cents, "vec_id", "embedding"),
        "ip_ivf_idx", "cell_id", buckets = 8)
    })
    for (r <- 1 to reps) {
      val queries = emb.where(col("vec_id") % 97 === r).limit(20)
        .localCheckpoint(true)
      emit("ivf_sq8", "probe", r, time(
        Similarity.ivfSq8TopKFromIndex(emb, queries, cents,
          Layout.table(spark, "ip_ivf_idx"), "vec_id", "embedding",
          k = 3, nProbe = 2, shortlist = 20)))
      emit("ivf_sq8", "inline", r, time(
        Similarity.ivfSq8TopK(emb, queries, cents,
          "vec_id", "embedding", k = 3, nProbe = 2, shortlist = 20)))
    }

    // --- BM25 postings index ---
    emit("bm25", "build", 0, timed {
      Layout.replaceBucketed(spark,
        Retrieval.bm25Postings(docs, "doc_id", "text"),
        "ip_bm25_post", "term", buckets = 32)
      Layout.replaceTable(spark,
        Retrieval.bm25CorpusStats(docs, "doc_id", "text"), "ip_bm25_stats")
    })
    val termSets = Seq(Seq("spark", "join", "stream"),
      Seq("data", "shuffle", "plan"), Seq("quick", "brown", "fox"))
    for (r <- 1 to reps) {
      val terms = termSets(r % termSets.length)
      emit("bm25", "probe", r, time(
        Retrieval.bm25TopKFromIndex(Layout.table(spark, "ip_bm25_post"),
          Layout.table(spark, "ip_bm25_stats"), "doc_id", terms, k = 10)))
      emit("bm25", "inline", r, time(
        Retrieval.bm25TopK(docs, "doc_id", "text", terms, k = 10)))
    }

    // --- Near-dup cluster map (the fourth index, round 13) ---
    // Build = minhash pairs + component iteration + bucketed write —
    // the full-corpus cost every governance query used to pay INLINE.
    // Probe = min-resolve + size aggregate over the stored map (no
    // minhash fold, no iteration). Inline = dedupClusters from raw
    // text, the pre-r13 shape of q318/q325/q329/q334/q343.
    emit("cluster_map", "build", 0, timed {
      val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
        k = 64, bands = 8, threshold = 0.8).localCheckpoint(true)
      Components.writeClusterIndex(spark, docs, "doc_id",
        pairs, "id_a", "id_b", "ip_cmap", buckets = 32)
    })
    for (r <- 1 to reps) {
      emit("cluster_map", "probe", r, time(
        Components.clustersFromIndex(Layout.table(spark, "ip_cmap"))))
      emit("cluster_map", "inline", r, time {
        val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
          k = 64, bands = 8, threshold = 0.8)
        Components.dedupClusters(docs, "doc_id", pairs, "id_a", "id_b")
      })
    }

    // --- Index-only dashboard (q367, round 13 session 2) ---
    // Build = the three sketch/dimension tables beside the cluster map
    // just built (ip_cmap is reused). Probe = healthFromIndexes — the
    // plan's only leaves are the stored tables. Inline = the same
    // report recomputed from raw text/values: minhash + components +
    // HLL fold + histogram, the cost a nightly dashboard would pay
    // per run without the indexes.
    import graft.ops.{CardinalityEstimate, CorpusPipeline, Stats}
    val docsFull = Graft.table(spark, sfDir, "documents")
      .select("doc_id", "source", "text", "n_chars").localCheckpoint(true)
    val toks = docsFull.select(col("source"),
      explode(split(col("text"), " +")).as("token"))
      .where(col("token") =!= "")
    emit("dashboard", "build", 0, timed {
      Layout.replaceBucketed(spark, docsFull.select("doc_id", "source"),
        "ip_docstore", "doc_id", buckets = 32)
      Layout.replaceTable(spark,
        CardinalityEstimate.hllRegisters(toks, "source", "token", p = 6),
        "ip_hll")
      Layout.replaceBucketed(spark,
        Stats.histPartials(docsFull.withColumn("_s", lit(0L)),
          "source", "_s", "n_chars", 0.0, 1024.0, 256),
        "ip_hist", "source", buckets = 8)
    })
    for (r <- 1 to reps) {
      emit("dashboard", "probe", r, time {
        // one manifest snapshot pins all four index versions — the
        // dashboard can never mix a fresh cluster map with stale HLLs
        val snap = Layout.snapshot(spark)
        CorpusPipeline.healthFromIndexes(
          snap.table("ip_cmap"), snap.table("ip_docstore"),
          snap.table("ip_hll"), snap.table("ip_hist"),
          "source", p = 6, lo = 0.0, hi = 1024.0, nbins = 256)
      })
      emit("dashboard", "inline", r, time {
        val pairs = Dedup.minhashNearDups(docs, "doc_id", "text",
          k = 64, bands = 8, threshold = 0.8)
        val dup = Components
          .dedupClusters(docs, "doc_id", pairs, "id_a", "id_b")
          .join(docsFull.select("doc_id", "source"), "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("cluster_size") > 1, 1L).otherwise(0L))
              .as("n_dup_docs"))
        val hll = CardinalityEstimate.hllFromRegisters(
            CardinalityEstimate.hllRegisters(toks, "source", "token", 6),
            "source", 6)
          .select(col("source"), col("hll_est"))
        val qs = Stats.histPercentilesFromIndex(
            Stats.histPartials(docsFull.withColumn("_s", lit(0L)),
              "source", "_s", "n_chars", 0.0, 1024.0, 256),
            "source", 0.0, 1024.0, 256, Seq(0.5, 0.9))
          .groupBy("source")
          .agg(max(when(col("p") === 0.5, col("est"))).as("p50"),
            max(when(col("p") === 0.9, col("est"))).as("p90"))
        dup.join(hll, "source").join(qs, "source")
      })
    }

    Seq("ip_mh_bands", "ip_mh_toks", "ip_ivf_idx", "ip_bm25_post",
      "ip_bm25_stats", "ip_cmap", "ip_docstore", "ip_hll", "ip_hist")
      .foreach(t => Layout.drop(spark, t))
    spark.stop()
  }
}
