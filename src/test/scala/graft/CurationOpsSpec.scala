package graft

import graft.ops.{LanguageModel, LineDedup, Rolling, Sampling, TextAnalysis}
import org.apache.spark.sql.functions._

/** Edge semantics for the round-8 curation operators: segment-level
  * dedup, corpus-repeated n-grams, unigram-LM scoring, token-budget
  * sampling, KMV sketch, trailing-window stats.
  */
class CurationOpsSpec extends SparkSpec {
  import spark.implicits._

  test("tokenSegments: windows of n, short tail kept, empty text empty") {
    val df = Seq("", "a b c d e", "a b c").toDF("t")
      .select(LineDedup.tokenSegments(col("t"), 2).as("segs"))
    val got = df.collect().map(_.getSeq[String](0).toList).toList
    assert(got == List(Nil, List("a b", "c d", "e"), List("a b", "c")))
  }

  test("dedupSegments: first (doc, pos) occurrence survives, rest drop") {
    val docs = Seq(
      (1L, Seq("x y", "z w")),
      (2L, Seq("x y", "q r")), // "x y" already seen in doc 1
      (3L, Seq("z w", "x y")), // loses both
      (4L, Seq[String]()) // nothing to keep
    ).toDF("doc_id", "segs")
    val got = LineDedup.dedupSegments(docs, "doc_id", "segs")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(got(1L) == ((2L, 2L, "x y z w")))
    assert(got(2L) == ((2L, 1L, "q r")))
    assert(got(3L) == ((2L, 0L, "")))
    assert(got(4L) == ((0L, 0L, "")))
  }

  test("dedupSegments: within-doc duplicate keeps only the first copy") {
    val docs = Seq((1L, Seq("a b", "a b", "c d"))).toDF("doc_id", "segs")
    val got = LineDedup.dedupSegments(docs, "doc_id", "segs").collect().head
    assert(got.getLong(1) == 3L && got.getLong(2) == 2L &&
      got.getString(3) == "a b c d")
  }

  test("repeatedNgramSignals: cross-doc n-grams flagged, short docs null") {
    val docs = Seq(
      (1L, "a b c"), // bigrams "a b", "b c"
      (2L, "b c d"), // shares "b c" with doc 1
      (3L, "x y"), // unique bigram
      (4L, "solo") // no bigram
    ).toDF("doc_id", "text")
    val got = TextAnalysis.repeatedNgramSignals(docs, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), Option(r.getAs[Any]("repeated_frac"))))).toMap
    assert(got(1L) == ((2L, 1L, Some(0.5))))
    assert(got(2L) == ((2L, 1L, Some(0.5))))
    assert(got(3L) == ((1L, 0L, Some(0.0))))
    assert(got(4L) == ((0L, 0L, None)))
  }

  test("repeatedNgramSignals counts DOCS, not occurrences") {
    // "p q" appears 2× inside doc 1 but in no other doc — not repeated.
    val docs = Seq((1L, "p q r p q"), (2L, "s t")).toDF("doc_id", "text")
    val got = TextAnalysis.repeatedNgramSignals(docs, "doc_id", "text", n = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(got(1L) == 0L && got(2L) == 0L)
  }

  test("scoreNll: add-1 smoothing incl. OOV, zero-token doc null") {
    val train = Seq((1L, "a a b")).toDF("doc_id", "text")
    val lm = LanguageModel.trainUnigram(train, "text")
    // T=3, V=2, alpha=1: p(a)=3/5, p(b)=2/5, p(OOV)=1/5
    val docs = Seq((1L, "a z"), (2L, "b"), (3L, "")).toDF("doc_id", "text")
    val got = LanguageModel.scoreNll(docs, "doc_id", "text", lm)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.getAs[Any]("nll"))))).toMap
    val expected1 = BigDecimal(-(math.log(3.0 / 5) + math.log(1.0 / 5)) / 2)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    val expected2 = BigDecimal(-math.log(2.0 / 5))
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((2L, Some(expected1))))
    assert(got(2L) == ((1L, Some(expected2))))
    assert(got(3L) == ((0L, None)))
  }

  test("budgetSample: longest prefix in (priority desc, key) that fits") {
    val df = Seq(
      // stratum s: priorities 9 > 8 > 7, tokens 5, 4, 3 — budget 9
      // admits 5 and 4 (cum 9), drops the 3 (cum 12)
      ("s", 1L, 5L, 9.0), ("s", 2L, 4L, 8.0), ("s", 3L, 3L, 7.0),
      // stratum t: its own budget — one row of 9 fits exactly
      ("t", 4L, 9L, 1.0)
    ).toDF("src", "id", "tok", "prio")
    val got = Sampling.budgetSample(df, "id", "src", "tok", col("prio"), 9L)
      .collect().map(r => r.getLong(1) -> r.getLong(4)).toMap
    assert(got == Map(1L -> 5L, 2L -> 9L, 4L -> 9L))
  }

  test("budgetSample ties break on the key ascending") {
    val df = Seq(("s", 2L, 4L, 1.0), ("s", 1L, 4L, 1.0)).toDF("src", "id", "tok", "prio")
    val got = Sampling.budgetSample(df, "id", "src", "tok", col("prio"), 4L)
      .collect().map(_.getLong(1)).toList
    assert(got == List(1L)) // same priority: lower id admitted first
  }

  test("graft_kmv: k smallest distinct hashes, exact under k, bounded over") {
    val df = (1L to 5000L).toDF("id")
      .repartition(8) // force partial buffers + merge
      .select(graft.functions.Hashing.portableHash(col("id").cast("string")).as("h"))
    val sk = df.agg(expr("graft_kmv(h, 128)").as("sk"))
      .collect().head.getSeq[Long](0)
    val exact = df.select(col("h")).distinct()
      .orderBy("h").limit(128).collect().map(_.getLong(0)).toSeq
    assert(sk == exact) // merge across partitions loses nothing
    // Estimator sanity: (k−1)·2^60/h_k within 35% of 5000 distinct ids
    // (deterministic — the hash is fixed).
    val est = 127.0 * 1.152921504606846976e18 / sk.last.toDouble
    assert(math.abs(est - 5000) / 5000 < 0.35, s"estimate $est")
    // Fewer distinct values than k: sketch IS the distinct set.
    val small = (1L to 7L).toDF("id")
      .select(graft.functions.Hashing.portableHash(col("id").cast("string")).as("h"))
    val ssk = small.agg(expr("graft_kmv(h, 128)").as("sk"))
      .collect().head.getSeq[Long](0)
    assert(ssk.size == 7 && ssk == ssk.sorted)
  }

  test("graft_kmv ignores nulls and duplicates") {
    val df = Seq(Some(5L), None, Some(5L), Some(3L)).toDF("h")
    val sk = df.agg(expr("graft_kmv(h, 4)")).collect().head.getSeq[Long](0)
    assert(sk == Seq(3L, 5L))
  }

  test("trailingStats: inclusive range frame, z null under 2 events") {
    val events = Seq(
      (1L, 10L, "2024-01-01 00:00:00", 10.0),
      (2L, 10L, "2024-01-01 00:30:00", 20.0),
      (3L, 10L, "2024-01-01 01:00:00", 30.0), // exactly 1h after #1: in
      (4L, 10L, "2024-01-01 02:00:01", 40.0), // 1h+1s after #3: alone
      (5L, 99L, "2024-01-01 00:00:00", 7.0) // other user isolated
    ).toDF("event_id", "user_id", "tss", "value")
      .withColumn("ts", to_timestamp(col("tss"))).drop("tss")
    val got = Rolling.trailingStats(events, "user_id", "ts", "value", 3600L)
      .collect().map(r => r.getAs[Long]("event_id") ->
        ((r.getAs[Long]("n_win"), r.getAs[Double]("avg_win"),
          Option(r.getAs[Any]("z"))))).toMap
    assert(got(1L) == ((1L, 10.0, None)))
    assert(got(2L) == ((2L, 15.0, Some(0.7071))))
    assert(got(3L) == ((3L, 20.0, Some(1.0))))
    assert(got(4L) == ((1L, 40.0, None)))
    assert(got(5L) == ((1L, 7.0, None)))
  }

  test("scoreBigramNll: seen bigrams beat unseen; first token is unigram-only") {
    val train = Seq("x y x y x y").toDF("text")
    val uni = LanguageModel.trainUnigram(train, "text")
    val bi = LanguageModel.trainBigram(train, "text")
    val docs = Seq((1L, "x y"), (2L, "x x"), (3L, "")).toDF("doc_id", "text")
    val got = LanguageModel.scoreBigramNll(docs, "doc_id", "text", uni, bi)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), Option(r.getAs[Any]("nll")).map(_.asInstanceOf[Double])))
      .toMap
    assert(got(3L) == ((0L, None)), "zero-token doc scores null")
    val (n1, Some(nll1)) = got(1L)
    val (n2, Some(nll2)) = got(2L)
    assert(n1 == 2L && n2 == 2L)
    assert(nll1 < nll2, s"'x y' (seen bigram) must beat 'x x': $nll1 vs $nll2")
    // First token has no context: both docs share the unigram term for
    // 'x', so the gap comes entirely from the bigram position.
    // p_bi(y|x) = (3+1)/(3+2) = 0.8 vs p_bi(x|x) = (0+1)/(3+2) = 0.2.
    val pU = (3.0 + 1.0) / (6.0 + 2.0)
    def nllOf(pBi: Double) =
      (-math.log(pU) + -math.log(0.7 * pBi + (1.0 - 0.7) * pU)) / 2.0
    assert(math.abs(nll1 - nllOf(0.8)) < 6e-5) // 4-decimal rounding slack
    assert(math.abs(nll2 - nllOf(0.2)) < 6e-5)
  }

  /** Brute-force reference for [[graft.ops.SpanDedup.removeRepeatedSpans]]:
    * same semantics, sequential Scala — the ground truth the
    * distributed plan must reproduce exactly.
    */
  private def refRemoveSpans(
      docs: Seq[(Long, String)], n: Int): Map[Long, (Long, Long, String)] = {
    val tok = docs.map { case (id, t) =>
      id -> t.split(" +").filter(_.nonEmpty).toSeq }.toMap
    val windows = for {
      (id, tk) <- tok.toSeq
      i <- 0 to tk.length - n
    } yield (id, i, tk.slice(i, i + n).mkString(" "))
    val marked = windows.groupBy(_._3).values.flatMap { occ =>
      if (occ.size > 1) occ.sortBy(w => (w._1, w._2)).tail else Nil
    }
    val covered = marked.toSeq.groupBy(_._1).map { case (id, ms) =>
      id -> ms.flatMap(m => m._2 until m._2 + n).toSet
    }
    docs.map { case (id, _) =>
      val tk = tok(id)
      val cov = covered.getOrElse(id, Set.empty[Int])
      val kept = tk.zipWithIndex.collect { case (t, i) if !cov(i) => t }
      id -> ((tk.length.toLong, cov.size.toLong, kept.mkString(" ")))
    }.toMap
  }

  test("removeRepeatedSpans: shared span excised everywhere but its first occurrence") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over it"), // canonical for the 3-gram run
      (2L, "intro words the quick brown fox jumps and more"), // loses the span
      (3L, "totally unrelated text here today"),
      (4L, "a b"), // shorter than n: untouched
      (5L, "") // empty: 0 tokens, rides the left join
    ).toDF("doc_id", "text")
    val got = graft.ops.SpanDedup.removeRepeatedSpans(docs, "doc_id", "text", n = 5)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    // Doc 2 shares the 5-gram "the quick brown fox jumps" (one window);
    // doc 1 has the smaller (doc, pos) and keeps it.
    assert(got(1L) == ((7L, 0L, "the quick brown fox jumps over it")))
    assert(got(2L) == ((9L, 5L, "intro words and more")))
    assert(got(3L) == ((5L, 0L, "totally unrelated text here today")))
    assert(got(4L) == ((2L, 0L, "a b")))
    assert(got(5L) == ((0L, 0L, "")))
  }

  test("removeRepeatedSpans: matches the brute-force reference on a repeat-heavy corpus") {
    // Tiny vocabulary => overlapping repeated spans, intra-doc repeats,
    // docs that lose everything, docs shorter than n.
    val rnd = new scala.util.Random(20260813)
    val vocab = Vector("a", "b", "c", "d", "e")
    val docs = (1L to 40L).map { id =>
      id -> Seq.fill(rnd.nextInt(16))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
    }
    val got = graft.ops.SpanDedup.removeRepeatedSpans(
        docs.toDF("doc_id", "text"), "doc_id", "text", n = 3)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got == refRemoveSpans(docs, n = 3))
  }

  test("tfidfTopTerms: hand-computed scores, exact ties break on term") {
    val docs = Seq(
      (1L, "apple apple banana"),
      (2L, "banana cherry"), // tf=1, df=2 for BOTH terms: exact tie
      (3L, "cherry cherry cherry")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.tfidfTopTerms(docs, "doc_id", "text", k = 2)
      .as[(Long, Int, String, Long, Long, Double)].collect()
      .map(r => (r._1, r._2) -> ((r._3, r._4, r._5, r._6))).toMap
    // N=3; df: apple 1, banana 2, cherry 2.
    assert(got((1L, 1)) == (("apple", 2L, 1L,
      BigDecimal(2 * math.log(3.0)).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble)))
    assert(got((1L, 2))._1 == "banana")
    // the doc-2 tie ranks banana before cherry (term asc)
    assert(got((2L, 1))._1 == "banana" && got((2L, 2))._1 == "cherry")
    // doc 3 has one distinct term -> one row despite k=2
    assert(got((3L, 1))._1 == "cherry" && !got.contains((3L, 2)))
    assert(got.size == 5)
  }

  test("graft_cms: never underestimates, exact when rows don't collide") {
    val (d, w) = (4, 512)
    val keys = (1L to 300L).flatMap(i => Seq.fill((i % 7 + 1).toInt)(i))
    val df = keys.toDF("k").repartition(8)
      .select(graft.functions.Hashing.portableHash(col("k").cast("string"))
        .as("h"))
    val sk = df.agg(expr(s"graft_cms(h, $d, $w)").as("sk"))
    // matrix total: every occurrence lands once per row
    val total = sk.select(aggregate(col("sk"), lit(0L), _ + _)).head.getLong(0)
    assert(total == d.toLong * keys.size)
    val est = (1L to 300L).toDF("k")
      .select(col("k"), graft.functions.Hashing.portableHash(
        col("k").cast("string")).as("h"))
      .crossJoin(sk)
      .select(col("k"),
        graft.functions.CmsSketch.estimate(col("sk"), col("h"), d, w)
          .as("est"))
      .as[(Long, Long)].collect().toMap
    (1L to 300L).foreach { k =>
      assert(est(k) >= k % 7 + 1, s"underestimate for $k")
    }
    // 300 keys into 4 rows of 512 cells: some row is collision-free
    // for MOST keys; the min must then be exact
    val exact = (1L to 300L).count(k => est(k) == k % 7 + 1)
    assert(exact > 200, s"only $exact exact estimates")
  }

  test("collocations: hand-computed PMI, minCount prunes the tail") {
    val docs = Seq("new york new york", "new york city").toDF("text")
    val got = TextAnalysis.collocations(docs, "text", minCount = 2)
      .as[(String, String, Long, Double)].collect().toList
    // uni: new 3, york 3, city 1 (N=7); bi: (new,york) 3, (york,new) 1,
    // (york,city) 1 (N=5). Only (new,york) survives minCount=2:
    // pmi = ln((3/5) / ((3/7)(3/7))) = ln(49/15) ~ 1.1838
    assert(got == List(("new", "york", 3L,
      BigDecimal(math.log(49.0 / 15.0)).setScale(4,
        BigDecimal.RoundingMode.HALF_UP).toDouble)))
  }

  test("lexicalDiversity: uniform text maxes entropy, repetition zeros it") {
    val docs = Seq((1L, "a b c d"), (2L, "a a a a"), (3L, ""))
      .toDF("doc_id", "text")
    val got = TextAnalysis.lexicalDiversity(docs, "doc_id", "text")
      .as[(Long, Long, Long, Option[Double], Option[Double])]
      .collect().map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    // 4 distinct tokens: H = ln 4; ttr = 1
    val ln4 = BigDecimal(math.log(4.0)).setScale(4,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got(1L) == ((4L, 4L, Some(1.0), Some(ln4))))
    // one token repeated: H = 0, ttr = 0.25
    assert(got(2L) == ((4L, 1L, Some(0.25), Some(0.0))))
    assert(got(3L) == ((0L, 0L, None, None)))
  }

  test("snapshotDiff: four statuses; null vs empty string is 'changed'") {
    val oldV = Seq(
      (1L, Some("a"), "x"), (2L, Some("b"), "x"), (3L, Some("c"), "x"),
      (4L, Option.empty[String], "x"), (5L, Some("NULL"), "x")
    ).toDF("k", "t", "s")
    val newV = Seq(
      (1L, Some("a"), "x"), // unchanged
      (2L, Some("B"), "x"), // changed
      // 3 removed
      (6L, Some("f"), "x"), // added
      (4L, Some(""), "x"), // null -> empty MUST be 'changed'
      (5L, Some("NULL"), "x") // literal "NULL" text: unchanged
    ).toDF("k", "t", "s")
    val got = graft.ops.SnapshotDiff.diff(oldV, newV, "k", Seq("t", "s"))
      .as[(Long, String)].collect().toMap
    assert(got == Map(1L -> "unchanged", 2L -> "changed", 3L -> "removed",
      4L -> "changed", 5L -> "unchanged", 6L -> "added"))
  }

  test("forwardFill: carries last non-null per key, leading nulls stay") {
    val df = Seq(
      (1L, 1L, Some(10.0)), (1L, 2L, None), (1L, 3L, None),
      (1L, 4L, Some(40.0)), (1L, 5L, None),
      (2L, 1L, None), (2L, 2L, Some(7.0)) // leading null isolated per key
    ).toDF("k", "ord", "v")
    val got = Rolling.forwardFill(df, Seq("k"), Seq("ord"), Seq("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        Option(r.get(2)).map(_ => r.getDouble(2))).toMap
    assert(got((1L, 2L)).contains(10.0) && got((1L, 3L)).contains(10.0))
    assert(got((1L, 5L)).contains(40.0))
    assert(got((2L, 1L)).isEmpty) // no prior observation in key 2
    assert(got((2L, 2L)).contains(7.0))
  }

  test("weightedSample: proportional bias, null/zero weights excluded") {
    val rows = (1L to 200L).map(i => (i, 1000L)) ++
      (201L to 400L).map(i => (i, 1L))
    val df = rows.toDF("id", "w")
      .union(Seq((401L, 0L), (402L, -5L)).toDF("id", "w"))
      .union(Seq(403L).toDF("id").withColumn("w", lit(null).cast("long")))
    val got = Sampling.weightedSample(df, "id", "w", k = 50)
      .as[(Long, Long, Double)].collect()
    assert(got.length == 50)
    assert(got.forall { case (id, _, _) => id <= 400 }) // no w <= 0 / null
    // 1000x weight ratio: the heavy class must dominate the draw
    val heavy = got.count(_._1 <= 200)
    assert(heavy >= 45, s"only $heavy heavy rows sampled")
    // deterministic: a second run draws the identical set
    val again = Sampling.weightedSample(df, "id", "w", k = 50)
      .as[(Long, Long, Double)].collect()
    assert(got.sortBy(_._1).toSeq == again.sortBy(_._1).toSeq)
  }

  test("logreg: 3 GD steps separate a linearly separable toy corpus") {
    val docs = Seq(
      (1L, "good clean prose", 1), (2L, "good tidy text", 1),
      (3L, "spam junk noise", 0), (4L, "junk spam garbage", 0)
    ).toDF("doc_id", "text", "y")
    val model = graft.ops.LogReg.train(
      docs, "doc_id", "text", "y", dim = 256, lr = 1.0, iters = 3)
    val p = graft.ops.LogReg.score(docs, "doc_id", "text", model, dim = 256)
      .as[(Long, Double, Double)].collect().map(r => r._1 -> r._3).toMap
    assert(p(1L) > 0.5 && p(2L) > 0.5, s"positives not above 0.5: $p")
    assert(p(3L) < 0.5 && p(4L) < 0.5, s"negatives not below 0.5: $p")
    // every weight is finite and the model covers every seen bucket
    val ws = model.as[(Long, Double)].collect()
    assert(ws.forall { case (_, w) => !w.isNaN && !w.isInfinite })
  }

  test("logreg: a null doc id fails training instead of vanishing") {
    val docs = Seq(
      (Some(1L), "good clean prose", 1), (None, "good tidy text", 1),
      (Some(3L), "spam junk noise", 0)
    ).toDF("doc_id", "text", "y")
    val e = intercept[Exception](graft.ops.LogReg.train(
      docs, "doc_id", "text", "y", dim = 256, lr = 1.0, iters = 1))
    val msgs = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
    assert(msgs.exists(_.contains("LogReg.train: null doc_id")), e.toString)
  }

  test("dsir importanceSelect: target-like docs outrank disjoint ones") {
    val raw = Seq(
      (1L, "the cat sat"), // shares all features with the target
      (2L, "zzz qqq www"), // disjoint vocabulary
      (3L, "") // no features
    ).toDF("doc_id", "text")
    val target = Seq("the cat sat", "the cat ran").toDF("text")
    val got = graft.ops.Dsir.importanceSelect(
        raw, "doc_id", "text", target, dim = 64, alpha = 1.0, k = 1)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), Option(r.get(2)).map(_ => r.getDouble(2)),
          r.getBoolean(3)))).toMap
    assert(got(1L)._1 == 5L) // 3 unigrams + 2 bigrams
    assert(got(2L)._1 == 5L)
    assert(got(3L) == ((0L, None, false)))
    // d1's hashed features all occur in the target; d2's occur only in
    // the raw corpus -> strictly larger importance weight for d1
    assert(got(1L)._2.get > got(2L)._2.get)
    assert(got.values.count(_._3) == 1)
  }

  test("temporalLeakage: future vs past split, invalid dates rejected") {
    val df = Seq(
      ("a", "released 2024-03-15 and 2026-01-02"), // one past, one future
      ("a", "v2024-13-05 and 2023-06-99"),         // both calendar-invalid
      ("a", "no dates at all"),
      ("b", "meeting 2025-12-31")                  // ON the cutoff: not a leak
    ).toDF("src", "text")
    val got = TextAnalysis.temporalLeakage(df, "text", "src", "2025-12-31")
      .collect().map(r => r.getAs[String]("src") -> r).toMap
    val a = got("a")
    assert(a.getAs[Long]("n_docs") == 3L)
    assert(a.getAs[Long]("n_docs_dated") == 1L) // invalid-only doc not dated
    assert(a.getAs[Long]("n_dates") == 2L)
    assert(a.getAs[Long]("n_future_dates") == 1L)
    assert(a.getAs[Long]("n_leaking_docs") == 1L)
    assert(a.getAs[Long]("leak_ppm") == 333333L)
    assert(a.getAs[String]("max_date") == "2026-01-02")
    val b = got("b")
    assert(b.getAs[Long]("n_future_dates") == 0L)
    assert(b.getAs[Long]("leak_ppm") == 0L)
    assert(b.getAs[String]("max_date") == "2025-12-31")
  }

  test("truncationWaste: exact token accounting at each cap") {
    // Docs of 2, 4 and 6 tokens; caps 3 and 10.
    val df = Seq("a b", "a b c d", "a b c d e f").toDF("text")
    val got = TextAnalysis.truncationWaste(df, "text", Seq(3L, 10L))
      .collect().map(r => r.getAs[Long]("cap") -> r).toMap
    val c3 = got(3L)
    assert(c3.getAs[Long]("n_docs") == 3L)
    assert(c3.getAs[Long]("n_truncated") == 2L)
    assert(c3.getAs[Long]("total_tokens") == 12L)
    assert(c3.getAs[Long]("kept_tokens") == 2L + 3L + 3L)
    assert(c3.getAs[Long]("lost_tokens") == 0L + 1L + 3L)
    assert(c3.getAs[Long]("waste_ppm") == 333333L)
    val c10 = got(10L)
    assert(c10.getAs[Long]("n_truncated") == 0L)
    assert(c10.getAs[Long]("lost_tokens") == 0L)
    assert(c10.getAs[Long]("kept_tokens") == 12L)
    assert(c10.getAs[Long]("waste_ppm") == 0L)
  }

  test("readability: hand-counted Flesch on a two-sentence doc; sentence floor") {
    val df = Seq(
      ("g", "Hello world. This is a test!"),
      ("h", "no punctuation here at all"))
      .toDF("src", "text")
    val m = TextAnalysis.readability(df, "src", "text")
      .collect().map(r => r.getAs[String]("src") -> r).toMap
    val g = m("g")
    assert(g.getAs[Long]("words") == 6L)
    assert(g.getAs[Long]("sentences") == 2L)
    // vowel-group runs: he-llo(2) world(1) this(1) is(1) a(1) test(1)
    assert(g.getAs[Long]("syllables") == 7L)
    assert(g.getAs[Double]("wps") == 3.0)
    assert(g.getAs[Double]("flesch") == 105.09)
    assert(g.getAs[Double]("fk_grade") == -0.6533)
    // no terminal punctuation -> the per-doc sentence floor of 1.
    val h = m("h")
    assert(h.getAs[Long]("sentences") == 1L)
    assert(h.getAs[Long]("words") == 5L)
  }
}
