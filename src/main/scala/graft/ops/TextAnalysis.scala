package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines over the
  * `documents` table: tokenization, language ID, quality scoring,
  * fingerprinting. All built from codegen'd built-in expressions —
  * narrow (per-row) transforms with zero shuffle, so they scale
  * linearly with input splits at any data size.
  */
object TextAnalysis {

  /** Zipf rank–frequency fit: OLS of ln(freq) on ln(rank) over the
    * top-`topK` tokens — natural language sits near slope −1
    * (Zipf's law); a much flatter slope flags synthetic/templated
    * text, much steeper flags a degenerate vocabulary. The
    * frequency twin of [[heapsProfile]]'s growth exponent.
    *
    * Rank is an integer (count desc, token asc — no float ties);
    * both lns snap to integer micro-nats so the regression runs on
    * exact integers (order-free). The ranked frame is top-K-sized.
    *
    * @return one row: `total_tokens`, `vocab`, `top_k`,
    *         `zipf_slope` (round 4), `zipf_r2` (round 4)
    */
  def zipfFit(
      df: DataFrame, textCol: String, topK: Int): DataFrame = {
    val counts = df
      .select(explode(tokens(col(textCol))).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .transform(Pin.shared)
    val tot = counts.agg(sum("c").as("total_tokens"),
      count(lit(1)).as("vocab"))
    // Explicit top-K over the vocab frame (TakeOrderedAndProject —
    // per-partition heaps, one K-row merge); the rank VALUE ln(r) is
    // then a window over the ≤ topK survivors only, never the vocab.
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("c").desc, col("tok").asc)
    val pts = counts
      .orderBy(col("c").desc, col("tok").asc)
      .limit(topK)
      .withColumn("r", row_number().over(w).cast("long"))
      .select(
        round(log(col("r").cast("double")) * lit(1e6)).cast("long")
          .as("x"),
        round(log(col("c").cast("double")) * lit(1e6)).cast("long")
          .as("y"))
    val fit = pts.agg(count(lit(1)).as("n"), sum("x").as("sx"),
      sum("y").as("sy"), sum(col("x") * col("x")).as("sxx"),
      sum(col("x") * col("y")).as("sxy"),
      sum(col("y") * col("y")).as("syy"))
    def d(c: String) = col(c).cast("double")
    val covN = d("n") * d("sxy") - d("sx") * d("sy")
    val varXN = d("n") * d("sxx") - d("sx") * d("sx")
    val varYN = d("n") * d("syy") - d("sy") * d("sy")
    tot.crossJoin(broadcast(fit))
      .select(col("total_tokens"), col("vocab"),
        col("n").as("top_k"),
        (round(covN / varXN, 4) + lit(0.0)).as("zipf_slope"),
        round(covN * covN / (varXN * varYN), 4).as("zipf_r2"))
  }

  /** Term-dispersion (burstiness) profile: per token the document
    * frequency, collection frequency, and the Fano factor of its
    * per-document counts over the WHOLE corpus (zeros included) —
    * Fano ≈ 1 is Poisson scatter, Fano ≫ 1 means the token clumps
    * into few documents (keyword stuffing, boilerplate, code blocks).
    * The corpus-linguistics triage behind stopword and boilerplate
    * lists.
    *
    * Var over all N docs needs only Σc and Σc² of the PRESENT docs
    * (absent docs contribute zero), so the whole profile is one
    * inverted-index aggregate; the top-k rank runs on the integer
    * micro-snapped Fano so ties can't split engines.
    *
    * @return top `k` tokens by Fano (df ≥ `minDf`): `token`, `df`,
    *         `cf`, `max_in_doc`, `fano` (round 4)
    */
  def termDispersion(
      df: DataFrame, idCol: String, textCol: String, minDf: Long,
      k: Int): DataFrame = {
    val perDoc = df.select(col(idCol).as("id"),
        explode(tokens(col(textCol))).as("token"))
      .groupBy("token", "id").agg(count(lit(1)).as("c"))
    val nDocs = df.agg(count(lit(1)).as("nn"))
    val stats = perDoc.groupBy("token")
      .agg(count(lit(1)).as("df"), sum("c").as("cf"),
        max("c").as("max_in_doc"), sum(col("c") * col("c")).as("_scc"))
      .where(col("df") >= minDf)
      .crossJoin(broadcast(nDocs))
    def d(c: org.apache.spark.sql.Column) = c.cast("double")
    // Fano = var/mean over ALL docs = (Σc² − (Σc)²/N)/(N−1) / (Σc/N).
    val fano = (d(col("_scc")) - d(col("cf")) * d(col("cf")) /
      d(col("nn"))) / (d(col("nn")) - lit(1.0)) /
      (d(col("cf")) / d(col("nn")))
    val snapped = stats
      .withColumn("_fu", round(fano * lit(1e6)).cast("long"))
    // Explicit top-k over the vocab frame (TakeOrderedAndProject), not
    // a rank window only an optimizer rule defuses.
    snapped
      .orderBy(col("_fu").desc, col("token").asc)
      .limit(k)
      .select(col("token"), col("df"), col("cf"), col("max_in_doc"),
        round(col("_fu").cast("double") / lit(1e6), 4).as("fano"))
  }

  /** Heaps'-law vocabulary-growth profile: per corpus slice the token
    * count N, vocabulary V, and hapax count (once-only tokens — the
    * long-tail mass OOV handling must absorb), plus ONE fitted Heaps
    * exponent β from the OLS of ln V on ln N across slices (V ≈
    * k·N^β; English prose sits near β ≈ 0.5 — a slice family far off
    * that is boilerplate or spam). The β fit runs on ln-values
    * snapped to integer micro-nats, so the 20-point regression is
    * exact-integer arithmetic (order-free), and β is scale-free so
    * the snap cancels.
    *
    * One token explode + two vocabulary-sized aggregates; the
    * regression runs on the |slices|-row frame.
    *
    * @return per slice: `slice`, `n_tokens`, `vocab`, `n_hapax`,
    *         `hapax_frac` (round 4), `heaps_beta` (global fit,
    *         round 4, repeated), `heaps_lnk` (round 4)
    */
  def heapsProfile(
      df: DataFrame, sliceCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(sliceCol).as("slice"),
        explode(tokens(col(textCol))).as("tok"))
    val counts = toks.groupBy("slice", "tok").agg(count(lit(1)).as("c"))
    val per = counts.groupBy("slice").agg(
      sum("c").as("n_tokens"), count(lit(1)).as("vocab"),
      sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"))
    val pts = per.select(col("slice"),
      round(log(col("n_tokens").cast("double")) * lit(1e6)).cast("long")
        .as("x"),
      round(log(col("vocab").cast("double")) * lit(1e6)).cast("long")
        .as("y"))
    val fit = pts.agg(count(lit(1)).as("n"), sum("x").as("sx"),
        sum("y").as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
    def d(c: String) = col(c).cast("double")
    val beta = (d("n") * d("sxy") - d("sx") * d("sy")) /
      (d("n") * d("sxx") - d("sx") * d("sx"))
    val fitRow = fit.select(beta.as("_beta"),
      ((d("sy") - beta * d("sx")) / d("n") / lit(1e6)).as("_lnk"))
    per.crossJoin(broadcast(fitRow))
      .select(col("slice"), col("n_tokens"), col("vocab"), col("n_hapax"),
        round(col("n_hapax").cast("double") / col("vocab").cast("double"),
          4).as("hapax_frac"),
        round(col("_beta"), 4).as("heaps_beta"),
        round(col("_lnk"), 4).as("heaps_lnk"))
  }

  /** The house tokenizer — SCRIPT-AWARE since round 19
    * ([[graft.functions.TokensKit]], `graft_tokens`): space-split
    * words for space-delimited scripts with EXACT `[^ ]+` parity on
    * text free of char-grain code points (so every ASCII oracle
    * replay of `string_split_regex(text, ' +')` is unchanged), and
    * overlapping character BIGRAMS within Han/kana/Hangul/Thai runs —
    * the standard web-corpus practice that gives spaceless CJK text
    * real token counts, type-token ratios and MinHash signatures
    * instead of one giant pseudo-token per document. One codegen'd
    * pass, replacing the `regexp_extract_all` kernel (which the
    * original `filter(split(...))` HOF pair predated: higher-order
    * functions are CodegenFallback).
    */
  def tokens(text: Column): Column = call_function("graft_tokens", text)

  /** Canonical text — Unicode NFC + lowercase + whitespace collapse in
    * one fused pass (`graft_canon`, [[graft.functions.CanonTextExpr]]):
    * the normalization step BEFORE hashing/dedup, so byte-different
    * spellings of the same content (composed vs decomposed accents,
    * case, ragged spacing) collapse to one dedup key.
    */
  def canonText(text: Column): Column = call_function("graft_canon", text)

  def tokenCount(text: Column): Column =
    call_function("graft_token_count", text)

  /** Distinct-token ratio (type-token ratio) — a standard repetitiveness
    * quality signal for LLM corpus filtering.
    */
  def typeTokenRatio(text: Column): Column =
    size(array_distinct(tokens(text))).cast("double") / size(tokens(text))

  /** Stopword ratio against a tiny English function-word list — the
    * classic cheap quality / language signal.
    */
  val EnStopwords: Seq[String] = Seq("the", "a", "an", "of", "and", "to", "in", "is")

  def stopwordRatio(text: Column): Column = {
    val sw = EnStopwords.map(lit(_))
    size(filter(tokens(text), t => t.isin(sw: _*))).cast("double") / size(tokens(text))
  }

  /** N-gram-free heuristic language ID: English if the function-word
    * ratio clears a threshold, else "other". (A production system would
    * score per-language character n-gram profiles; the *shape* — narrow
    * per-row scoring, no shuffle — is identical.)
    */
  def langIdHeuristic(text: Column, threshold: Double = 0.05): Column =
    when(stopwordRatio(text) >= threshold, "en").otherwise("other")

  /** TRAINED language ID (round 17 — the production replacement for
    * [[langIdHeuristic]]): script gate for the script-unique languages
    * (ja/ko/zh/ru/ar/el/he/hi/th) + a bundled char-trigram Naive Bayes
    * for the Latin eleven (en/de/fr/es/it/pt/nl/pl/tr/fi/ro), `und` on
    * too-short input. One codegen'd kernel riding the corpus scan — no
    * shuffle, no UDF ([[graft.functions.LangIdKit]]).
    */
  def langId(text: Column): Column = call_function("graft_langid", text)

  /** Language-mix report (the shard-mix table a multilingual corpus
    * publishes): per (source, [[langId]]-predicted language), document
    * and token volume. One narrow classify pass + one
    * |sources × langs|-keyed combinable rollup — the key set is tiny
    * by construction (≤ 16 languages per source).
    */
  def langMix(df: DataFrame, sourceCol: String,
      textCol: String): DataFrame =
    df.groupBy(col(sourceCol), langId(col(textCol)).as("lang"))
      .agg(count(lit(1)).as("n_docs"),
        coalesce(sum(tokenCount(col(textCol))), lit(0L)).as("tokens"))

  /** Mean token length — degenerate values flag boilerplate/binary. */
  def meanTokenLen(text: Column): Column =
    aggregate(tokens(text), lit(0L), (acc, t) => acc + length(t)).cast("double") /
      size(tokens(text))

  /** Bag-of-words document fingerprint: md5 over the sorted distinct
    * token set. Word-order-insensitive exact dedup key (step between
    * exact hash dedup and MinHash).
    */
  def bowFingerprint(text: Column): Column =
    md5(array_join(array_sort(array_distinct(tokens(text))), " "))

  /** BPE-ish regex tokenizer: word runs OR single non-word-non-space
    * marks, the pre-tokenization shape BPE vocabularies assume —
    * punctuation becomes its own token instead of vanishing into the
    * whitespace split.
    */
  def regexTokens(text: Column): Column =
    regexp_extract_all(text, lit("[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]"), lit(0))

  /** Order-SENSITIVE document fingerprint: polynomial rolling hash of
    * the token hash sequence mod 2^31−1 (Rabin–Karp). Complements the
    * order-insensitive [[bowFingerprint]]; all operands stay < 2^62 so
    * ANSI mode cannot overflow, and the fold is reproducible in SQL.
    */
  def rollingFingerprint(text: Column): Column = {
    import graft.functions.Hashing.{portableHash, P31}
    aggregate(tokens(text), lit(0L),
      (acc, t) => pmod(acc * lit(1000003L) + pmod(portableHash(t), lit(P31)), lit(P31)))
  }

  /** Composite quality score in [0,1]: length band + lexical diversity +
    * stopword presence, equally weighted.
    */
  def qualityScore(text: Column): Column = {
    val n = tokenCount(text)
    val lengthOk = when(n.between(5, 10000), 1.0).otherwise(0.0)
    val diversity = typeTokenRatio(text)
    val sw = when(stopwordRatio(text) > 0, 1.0).otherwise(0.0)
    round((lengthOk + diversity + sw) / 3.0, 4)
  }

  /** Per-language function-word lists for SPACE-DELIMITED scripts
    * (token-equality matching) — a handful of the highest-frequency
    * closed-class words per language, the [[EnStopwords]] discipline
    * extended to every language [[langId]] can emit. Public knowledge
    * (basic frequency lists); swapping in larger profiles is a data
    * edit.
    */
  val SpaceStopwords: Map[String, Seq[String]] = Map(
    "en" -> EnStopwords,
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "dans", "que", "pour"),
    "es" -> Seq("el", "la", "los", "y", "es", "en", "que", "para"),
    "it" -> Seq("il", "la", "di", "e", "che", "per", "non", "sono"),
    "pt" -> Seq("o", "a", "os", "de", "e", "que", "para", "com"),
    "nl" -> Seq("de", "het", "een", "en", "van", "is", "niet", "met"),
    "pl" -> Seq("i", "w", "na", "z", "do", "że", "się", "jest"),
    "tr" -> Seq("bir", "ve", "bu", "için", "ile", "da", "de", "ne"),
    "fi" -> Seq("ja", "on", "ei", "että", "se", "hän", "mutta", "kun"),
    "ro" -> Seq("și", "de", "la", "cu", "un", "o", "este", "pentru"),
    "ru" -> Seq("и", "в", "не", "на", "что", "с", "как", "это"),
    "ar" -> Seq("في", "من", "على", "أن", "إلى", "عن", "مع", "هذا"),
    "el" -> Seq("και", "το", "η", "να", "του", "με", "για", "από"),
    "he" -> Seq("של", "את", "על", "לא", "זה", "עם", "הוא", "כי"),
    "hi" -> Seq("के", "है", "में", "की", "और", "से", "का", "को"))

  /** Function-character/particle markers for the CHAR-GRAIN scripts
    * (Han, kana, Hangul, Thai — no inter-word spaces, tokenized as
    * character bigrams by [[tokens]]): matched by SUBSTRING presence
    * in the raw text, because a grammatical particle rides inside
    * bigrams rather than standing alone as a token. Presence of any
    * marker is the same "reads like running prose" signal the
    * stopword check gives space-delimited text.
    */
  val CharGrainMarkers: Map[String, Seq[String]] = Map(
    "ja" -> Seq("の", "は", "を", "が", "に", "と", "で", "した"),
    "zh" -> Seq("的", "是", "了", "在", "和", "有", "不", "我"),
    "ko" -> Seq("이", "가", "는", "을", "를", "의", "에", "하"),
    "th" -> Seq("ที่", "ของ", "ใน", "และ", "เป็น", "ได้", "การ", "มี"))

  /** Languages [[qualityScoreFor]] can score honestly (has a stopword
    * or marker list). `und` is accepted in a gate set but contributes
    * no markers.
    */
  private[graft] val QualityLangs: Set[String] =
    SpaceStopwords.keySet ++ CharGrainMarkers.keySet

  /** Does the text carry any of the requested languages' function
    * words/markers? Token equality over the union of the
    * space-delimited lists plus substring presence for the char-grain
    * markers — both narrow codegen'd passes.
    */
  def stopwordHit(text: Column, langs: Set[String]): Column = {
    val words = langs.toSeq.sorted
      .flatMap(SpaceStopwords.get).flatten.distinct.map(lit(_))
    val markers = langs.toSeq.sorted
      .flatMap(CharGrainMarkers.get).flatten.distinct
    val tokHit =
      if (words.isEmpty) lit(false)
      else exists(tokens(text), t => t.isin(words: _*))
    markers.foldLeft(tokHit)((acc, m) => acc || text.contains(m))
  }

  /** [[qualityScore]] for a MULTILINGUAL language-set gate (round 19 —
    * VERDICT r18 task 1): the same three equally-weighted components,
    * each script-honest for every requested language — the length
    * band and type-token ratio ride the script-aware [[tokens]]
    * (char-bigram grain for CJK/Thai, so a spaceless document gets a
    * real length and diversity), and the stopword-presence component
    * is the UNION of the requested languages' lists
    * ([[stopwordHit]]) instead of English-only — the composition gap
    * that made `curate(langs = {en, ja})` language-keep Japanese
    * documents and then quality-kill every one of them (no spaces →
    * 1 giant token → length 0, English stopwords → 0).
    *
    * Monotone vs the English-only score on space-delimited text (the
    * stopword union can only widen), and IDENTICAL on text whose
    * stopword verdict already passed via the English list.
    */
  def qualityScoreFor(text: Column, langs: Set[String]): Column = {
    val known = langs.filter(_ != "und")
    require(known.nonEmpty && known.subsetOf(QualityLangs),
      s"no quality profile for ${(known -- QualityLangs).toSeq.sorted
        .mkString(", ")} — supported: ${QualityLangs.toSeq.sorted.mkString(", ")}")
    val n = tokenCount(text)
    val lengthOk = when(n.between(5, 10000), 1.0).otherwise(0.0)
    val diversity = typeTokenRatio(text)
    val sw = when(stopwordHit(text, known), 1.0).otherwise(0.0)
    round((lengthOk + diversity + sw) / 3.0, 4)
  }

  /** Minimal PII mask (the q54 form): chained `regexp_replace`
    * (codegen'd, narrow, zero shuffle) over emails, IPv4 addresses,
    * and long digit runs. Patterns deliberately stay inside the regex
    * subset Java and RE2 share (no lookarounds), so the same pattern
    * text runs in the DuckDB oracle. The full release-gate suite —
    * per-class DETECTION counts, Luhn-checked card validation, E.164
    * phones, per-source reporting, closed-loop residual proof — is
    * [[Pii]] (q309/q310); this stays as the one-expression scrubber
    * for inline use.
    */
  def redactPii(text: Column): Column = {
    val email = regexp_replace(text,
      lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"), lit("<EMAIL>"))
    val ip = regexp_replace(email,
      lit("\\b(\\d{1,3}\\.){3}\\d{1,3}\\b"), lit("<IP>"))
    regexp_replace(ip, lit("\\b\\d{9,}\\b"), lit("<NUM>"))
  }

  /** Adjacent-token bigram array ("a b" strings) from an ALREADY
    * MATERIALIZED token array column. The lambda's `tkCol` reference
    * must be a cheap attribute, NOT an inlined expression: `transform`'s
    * input here is the index `sequence`, so anything inside the lambda
    * is re-evaluated PER ELEMENT — inlining `tokens(text)` made every
    * bigram re-run the tokenizer regex over the whole text, turning the
    * row O(n) into O(n²) regex scans (measured 7 s → sub-second on q62
    * at sf0.1). The `transform` HOF itself is acceptable (unlike in
    * [[tokens]]) because every caller immediately explodes the result —
    * the row already leaves whole-stage codegen at the generate.
    * Guarded for <2 tokens: Spark's `sequence(1, 0)` DESCENDS rather
    * than returning empty.
    */
  def bigramsFromTokens(tkCol: Column): Column =
    when(size(tkCol) < 2, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(tkCol) - 1),
        i => concat_ws(" ", element_at(tkCol, i), element_at(tkCol, i + 1))))

  /** Convenience single-expression form — ONLY for one-off row counts /
    * tests: inlines the tokenizer into the lambda (see
    * [[bigramsFromTokens]] for why that is quadratic). Hot paths must
    * materialize `tokens(text)` in a projection first.
    */
  def bigrams(text: Column): Column = bigramsFromTokens(tokens(text))

  /** Per-document n-gram repetition signals — the Gopher-rules
    * repetition filters (Rae et al. 2021, §A1.1): a document whose
    * single most frequent bigram covers a large fraction of all its
    * bigrams is boilerplate/spam, and a low distinct-bigram ratio is
    * templated text. [[typeTokenRatio]] is the unigram analogue; the
    * bigram statistics need a most-frequent-element count, which is not
    * a per-row expression — this is the distributed formulation:
    * explode → count per (doc, bigram) → max/sum per doc. Both
    * aggregates map-side combine, and the shuffle key (doc_id, bigram)
    * is high-cardinality and uniform, so the plan scales linearly — no
    * per-doc hash map ever materializes on one executor.
    *
    * Output: `idCol`, `n_bigrams` (0 for <2-token docs),
    * `top_bigram_frac`, `distinct_bigram_frac` (null for <2-token docs).
    */
  def repetitionSignals(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val perBigram = df
      // tokenize in its own (codegen'd) projection so the bigram
      // lambda reads a materialized array — see bigramsFromTokens
      .select(col(idCol), tokens(col(textCol)).as("tk"))
      .select(col(idCol), explode(bigramsFromTokens(col("tk"))).as("bigram"))
      .groupBy(idCol, "bigram").agg(count(lit(1)).as("c"))
    val perDoc = perBigram.groupBy(idCol).agg(
      sum("c").as("n_bigrams"),
      max("c").as("top_c"),
      count(lit(1)).as("n_distinct"))
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        round(col("top_c").cast("double") / col("n_bigrams"), 4)
          .as("top_bigram_frac"),
        round(col("n_distinct").cast("double") / col("n_bigrams"), 4)
          .as("distinct_bigram_frac"))
  }

  /** Sliding token n-gram windows ("a b c" strings, stride 1) from an
    * ALREADY MATERIALIZED token array — the generalization of
    * [[bigramsFromTokens]] (same quadratic-inlining trap, same guard
    * for short docs).
    */
  def ngramsFromTokens(tkCol: Column, n: Int): Column = {
    require(n > 0, s"n-gram size must be positive: $n")
    when(size(tkCol) < n, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), size(tkCol) - n),
        i => array_join(slice(tkCol, i + 1, lit(n)), " ")))
  }

  /** Corpus-repeated n-gram signals — the detection half of
    * exact-substring deduplication (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): a token n-gram that
    * occurs in two DIFFERENT documents marks a copied span (news-wire
    * syndication, licence boilerplate, benchmark leakage). Per
    * document: how many of its distinct n-grams appear in at least one
    * other document, and the fraction. Docs shorter than `n` tokens
    * report 0 n-grams and a null fraction.
    *
    * Scale shape: explode to distinct (doc, ngram), count documents
    * per ngram (map-side combinable — the true Lee et al. suffix-array
    * formulation is a single-machine algorithm; this is the
    * hash-groupBy re-expression that distributes), join the count
    * back, aggregate per doc. The ngram key is high-cardinality and
    * uniform — no skew.
    */
  def repeatedNgramSignals(
      df: DataFrame, idCol: String, textCol: String, n: Int): DataFrame = {
    val docNgrams = df
      .select(col(idCol), tokens(col(textCol)).as("tk"))
      .select(col(idCol), explode(ngramsFromTokens(col("tk"), n)).as("ngram"))
      .distinct()
    val freq = docNgrams.groupBy("ngram").agg(count(lit(1)).as("n_docs"))
    val perDoc = docNgrams
      .join(freq, "ngram")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_ngrams"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_repeated"))
    df.select(col(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("n_repeated"), lit(0L)).as("n_repeated"),
        round(col("n_repeated").cast("double") / col("n_ngrams"), 4)
          .as("repeated_frac"))
  }

  /** Top-k tokens per stratum by occurrence count — the vocabulary
    * heavy-hitters report (tokenizer coverage checks, stopword-list
    * construction, corpus drift monitoring). Counting is a map-side
    * combinable groupBy; the rank window runs on the POST-AGGREGATE
    * frame (one row per distinct (stratum, token) — vocabulary-sized,
    * orders of magnitude under the corpus), so the giant input never
    * meets a window. Ties rank deterministically by token.
    */
  def topTokens(
      df: DataFrame, strataCol: String, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val counts = df
      .select(col(strataCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(strataCol, "token").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(strataCol).orderBy(col("cnt").desc, col("token"))
    counts.withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col(strataCol), col("rank"), col("token"), col("cnt"))
  }

  /** Top-k adjacent character pairs within tokens — the first merge
    * round of BPE tokenizer training (Sennrich et al., ACL'16): the
    * pair with the highest corpus count becomes the first merge rule,
    * and production training repeats this count-and-merge loop.
    * Pair extraction (`substr(token, i, 2)` per position) stays in one
    * codegen'd projection; counting is map-side combinable; the rank
    * window runs on the pair-vocabulary aggregate only — the corpus
    * never meets a window. Ties rank deterministically by pair.
    */
  def bpePairCounts(df: DataFrame, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val tok = explode(tokens(col(textCol))).as("token")
    // Guard 1-char tokens: Spark's sequence(1, 0) counts DOWN ([1, 0])
    // instead of returning empty like SQL generate_series.
    val pairs = df.select(tok)
      .select(explode(when(length(col("token")) >= 2,
        transform(sequence(lit(1), length(col("token")) - 1),
          i => col("token").substr(i, lit(2))))
        .otherwise(array().cast("array<string>"))).as("pair"))
    val counts = pairs.groupBy("pair").agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("pair"))
    // Explicit top-k over the pair aggregate (TakeOrderedAndProject);
    // the rank window then runs on the ≤ k survivors only.
    counts.orderBy(col("cnt").desc, col("pair")).limit(k)
      .withColumn("rank", row_number().over(w).cast("int"))
      .select(col("rank"), col("pair"), col("cnt"))
  }

  /** Non-empty lines of `text`, and how many of them open with a bullet
    * or end in an ellipsis — the Gopher line-gate inputs, as longs.
    */
  private def lineCounts(text: Column): (Column, Column, Column) = {
    val lines = filter(split(text, "\n"), l => l =!= "")
    (size(lines).cast("long"),
      size(filter(lines, l =>
        l.startsWith("- ") || l.startsWith("* ") || l.startsWith("•")))
        .cast("long"),
      size(filter(lines, l =>
        l.endsWith("...") || l.endsWith("…"))).cast("long"))
  }

  /** A passed gate as 1, a failed one as 0. */
  private def passes(c: Column): Column = when(c, 1).otherwise(0)

  /** Gopher quality gates (Rae et al. 2021, Appendix A1) — the
    * rule-based document filter every web-scale corpus applies before
    * model-based scoring: word-count bounds, mean-word-length bounds,
    * symbol-to-word ratio, alphabetic-word fraction, required
    * stopwords, and bullet/ellipsis line fractions.
    *
    * Every gate is EXACT INTEGER arithmetic — a ratio bound `a/b <= r`
    * is evaluated as `a*denom <= r_num*b` (e.g. mean word length in
    * [3, 10] ⇔ `3*n_words <= n_chars <= 10*n_words`), so no rounded
    * float can tie at a boundary and any engine reproduces the gates
    * bit-for-bit (the q87 lesson). Narrow per-row expressions
    * throughout: no shuffle, no UDF.
    *
    * @param requiredStops the stopword list for the ≥2-distinct gate —
    *        defaults to Gopher's English-web eight; swap it for the
    *        corpus's language profile (the gate is a "reads like
    *        running prose" check, not an English check)
    * @return `idCol`, `n_words`, and one 0/1 column per gate
    *         (`g_word_count`, `g_mean_len`, `g_symbol`, `g_alpha`,
    *         `g_stopwords`, `g_bullets`, `g_ellipsis`) plus `keep` =
    *         every gate passed
    */
  def gopherGates(
      df: DataFrame, idCol: String, textCol: String,
      requiredStops: Seq[String] = Seq("the", "be", "to", "of", "and",
        "that", "have", "with")): DataFrame = {
    val text = col(textCol)
    val words = tokens(text)
    val nWords = size(words).cast("long")
    val nChars = aggregate(words, lit(0L), (acc, w) => acc + length(w))
    // symbol occurrences ('#' and the ellipsis char) in the raw text
    val nSym = ((length(text) - length(replace(text, lit("#"), lit("")))) +
      (length(text) - length(replace(text, lit("…"), lit(""))))).cast("long")
    val nAlpha = size(filter(words, w => w.rlike("[A-Za-z]"))).cast("long")
    require(requiredStops.nonEmpty, "requiredStops must not be empty")
    val nStop = size(array_intersect(
      array_distinct(transform(words, w => lower(w))),
      array(requiredStops.map(lit): _*))).cast("long")
    val (nLines, nBullet, nEllipsis) = lineCounts(text)
    val gates = Seq(
      "g_word_count" -> passes(nWords.between(50L, 100000L)),
      "g_mean_len" -> passes(nWords > 0 &&
        lit(3L) * nWords <= nChars && nChars <= lit(10L) * nWords),
      "g_symbol" -> passes(lit(10L) * nSym <= nWords),
      "g_alpha" -> passes(lit(5L) * nAlpha >= lit(4L) * nWords),
      "g_stopwords" -> passes(nStop >= 2L),
      "g_bullets" -> passes(lit(10L) * nBullet <= lit(9L) * nLines),
      "g_ellipsis" -> passes(lit(10L) * nEllipsis <= lit(3L) * nLines))
    df.select(
      col(idCol) +: nWords.as("n_words") +:
        gates.map { case (n, c) => c.as(n) } :+
        gates.map(_._2).reduce(_ * _).as("keep"): _*)
  }

  /** [[gopherGates]] for a MULTILINGUAL corpus (round 19 — VERDICT r18
    * tasks 1/6): the same seven rule-gates, each made script-honest
    * for the requested language set instead of silently English:
    *
    *  - word counts/lengths ride the script-aware [[tokens]] (a
    *    Japanese document counts ~|chars| bigram tokens, not 1);
    *  - the mean-word-length band lowers its floor to 2 — char-grain
    *    tokens are bigrams, exactly length 2, so Gopher's
    *    English-prose [3,10] would kill every CJK/Thai document
    *    (integer-exact: `2*n_words <= n_chars <= 10*n_words`);
    *  - the alphabetic gate's letter class widens from `[A-Za-z]` to
    *    the explicit letter ranges of every script [[langId]] gates
    *    on (Latin, Han, kana, Hangul, Thai, Cyrillic, Greek, Arabic,
    *    Hebrew, Devanagari) — literal ranges, not `\p{…}` classes;
    *  - the required-stopwords gate needs ≥2 DISTINCT hits from the
    *    union of the requested languages' profiles: token equality
    *    for space-delimited lists, substring presence for char-grain
    *    markers (a particle rides inside bigrams).
    *
    * Same output schema as [[gopherGates]].
    */
  def gopherGatesFor(
      df: DataFrame, idCol: String, textCol: String,
      langs: Set[String]): DataFrame = {
    val gates = gopherGateCols(col(textCol), langs)
    df.select(
      col(idCol) +: size(tokens(col(textCol))).cast("long").as("n_words") +:
        gates.map { case (n, c) => c.as(n) } :+
        gates.map(_._2).reduce(_ * _).as("keep"): _*)
  }

  /** The seven multilingual Gopher gate columns of [[gopherGatesFor]],
    * exposed for composition (the per-language gate report rolls them
    * up without a per-doc frame in between).
    */
  private[graft] def gopherGateCols(
      text: Column, langs: Set[String]): Seq[(String, Column)] = {
    val known = langs.filter(_ != "und")
    require(known.nonEmpty && known.subsetOf(QualityLangs),
      s"no gate profile for ${(known -- QualityLangs).toSeq.sorted
        .mkString(", ")}")
    val words = tokens(text)
    val nWords = size(words).cast("long")
    val nChars = aggregate(words, lit(0L), (acc, w) => acc + length(w))
    val nSym = ((length(text) - length(replace(text, lit("#"), lit("")))) +
      (length(text) - length(replace(text, lit("…"), lit(""))))).cast("long")
    val letterClass = "[A-Za-z一-鿿㐀-䶿぀-ヿ가-힣ᄀ-ᇿ㄰-㆏฀-๿Ѐ-ӿͰ-Ͽ؀-ۿ֐-׿ऀ-ॿ]"
    val nAlpha = size(filter(words, w => w.rlike(letterClass))).cast("long")
    val spaceWords = known.toSeq.sorted
      .flatMap(SpaceStopwords.get).flatten.distinct
    val markers = known.toSeq.sorted
      .flatMap(CharGrainMarkers.get).flatten.distinct
    val nStopTok =
      if (spaceWords.isEmpty) lit(0L)
      else size(array_intersect(
        array_distinct(transform(words, w => lower(w))),
        array(spaceWords.map(lit): _*))).cast("long")
    val nStop = markers.foldLeft(nStopTok)((acc, m) =>
      acc + when(text.contains(m), 1L).otherwise(0L))
    val (nLines, nBullet, nEllipsis) = lineCounts(text)
    Seq(
      "g_word_count" -> passes(nWords.between(50L, 100000L)),
      "g_mean_len" -> passes(nWords > 0 &&
        lit(2L) * nWords <= nChars && nChars <= lit(10L) * nWords),
      "g_symbol" -> passes(lit(10L) * nSym <= nWords),
      "g_alpha" -> passes(lit(5L) * nAlpha >= lit(4L) * nWords),
      "g_stopwords" -> passes(nStop >= 2L),
      "g_bullets" -> passes(lit(10L) * nBullet <= lit(9L) * nLines),
      "g_ellipsis" -> passes(lit(10L) * nEllipsis <= lit(3L) * nLines))
  }

  /** Top-k characteristic terms per document by TF-IDF — the standard
    * keyword-extraction / topic-tagging primitive (corpus labeling,
    * domain drift monitoring, dedup-cluster naming). Score = tf ·
    * ln(N / df) with N the corpus document count.
    *
    * Scale shape: one map-side-combinable (doc, term) count, one
    * vocabulary-grain document-frequency aggregate joined back on the
    * term (high-cardinality uniform key), the 1-row corpus count
    * broadcast onto the VOCAB-sized frame (never the corpus), and the
    * rank window partitioned by document id — the corpus never meets
    * an unpartitioned window. Ties rank deterministically by term.
    */
  def tfidfTopTerms(
      df: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val tf = df
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
      .groupBy(idCol, "term").agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val scored = tf
      .join(dfreq, "term")
      .crossJoin(broadcast(nDocs))
      .withColumn("score",
        col("tf") * log(col("n_docs").cast("double") / col("df")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("score").desc, col("term"))
    scored
      .withColumn("rank", row_number().over(w).cast("int"))
      .filter(col("rank") <= k)
      .select(col(idCol), col("rank"), col("term"), col("tf"), col("df"),
        round(col("score"), 4).as("tfidf"))
  }

  /** Collocation mining by pointwise mutual information — the classic
    * phrase-discovery primitive (Church & Hanks 1990; word2vec's
    * phrase pass, Mikolov et al. 2013): for every adjacent token pair
    * seen at least `minCount` times,
    * `pmi = ln(p(x,y) / (p(x) p(y)))` with `p(x,y) = c_xy / N_bi` and
    * `p(x) = c_x / N_uni`. High-PMI pairs are multiword units ("new
    * york"); the score feeds tokenizer pre-merges and n-gram feature
    * selection.
    *
    * Scale shape: unigram and bigram counts are each one map-side-
    * combinable aggregate; everything after runs on the VOCAB-bounded
    * bigram frame (already `minCount`-pruned before any join), with
    * the unigram counts broadcast twice and the 1-row totals crossed
    * on — the corpus is read once and never joined. The `minCount`
    * gate is an integer comparison, so the emitted set is exact in
    * any engine; the PMI value computes `ln` of a pure-double ratio
    * (each factor cast before multiplying, overflow-free at any N).
    *
    * @return `prev`, `cur`, `n_pair`, `pmi` (rounded to 4)
    */
  def collocations(
      df: DataFrame, textCol: String, minCount: Int = 5): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1: $minCount")
    val uni = LanguageModel.trainUnigram(df, textCol)
    val bi = LanguageModel.trainBigram(df, textCol)
    val totals = uni.agg(sum("cnt").cast("double").as("n_uni"))
      .crossJoin(bi.agg(sum("bcnt").cast("double").as("n_bi")))
    bi.filter(col("bcnt") >= minCount)
      .join(broadcast(uni.select(col("token").as("prev"),
        col("cnt").as("c_prev"))), Seq("prev"))
      .join(broadcast(uni.select(col("token").as("cur"),
        col("cnt").as("c_cur"))), Seq("cur"))
      .crossJoin(broadcast(totals))
      .select(col("prev"), col("cur"), col("bcnt").as("n_pair"),
        // + 0.0 canonicalizes IEEE -0.0 (a rounded tiny-negative PMI)
        // to +0.0 so engines cannot disagree on the zero's sign
        (round(log((col("bcnt").cast("double") / col("n_bi")) /
          ((col("c_prev").cast("double") / col("n_uni")) *
            (col("c_cur").cast("double") / col("n_uni")))), 4) + lit(0.0))
          .as("pmi"))
  }

  /** Per-document token entropy and type-token ratio — the lexical-
    * diversity quality signals (low entropy = keyword stuffing /
    * boilerplate; used alongside the Gopher gates and repetition
    * signals). `H = ln(n) - (sum tf ln tf) / n` over the document's
    * token frequencies — one combinable (doc, token) count and one
    * per-doc aggregate; the corpus never joins anything.
    *
    * @return `idCol`, `n_tokens`, `n_types`, `ttr` (types/tokens),
    *         `entropy` (nats) — floats rounded to 4, zero-token docs
    *         null
    */
  def lexicalDiversity(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tf = df
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(idCol, "token").agg(count(lit(1)).as("tf"))
    val per = tf.groupBy(idCol).agg(
      sum("tf").as("n_tokens"),
      count(lit(1)).as("n_types"),
      sum(col("tf").cast("double") * log(col("tf").cast("double")))
        .as("_stlt"))
    df.select(col(idCol))
      .join(per, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        (round(col("n_types").cast("double") /
          col("n_tokens").cast("double"), 4) + lit(0.0)).as("ttr"),
        (round(log(col("n_tokens").cast("double")) -
          col("_stlt") / col("n_tokens").cast("double"), 4) + lit(0.0))
          .as("entropy"))
  }

  /** Per-document script profile — character counts by EXPLICIT
    * codepoint range (Latin letters, ASCII digits, CJK unified
    * ideographs, Cyrillic) and the dominant script. Explicit ranges,
    * not `\p{script=...}` classes: property classes differ across
    * regex engines and Unicode versions, literal ranges cannot. The
    * lang-ID sanity check (a doc tagged `en` that is 90% CJK is
    * mislabeled) and the mixed-script spam signal.
    *
    * Pure per-row projection — four codegen'd regexp_replace+length
    * passes, no shuffle. Dominant ties resolve in fixed priority
    * latin > digit > cjk > cyrillic (deterministic in any engine).
    */
  def scriptProfile(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    def n(ranges: String): Column =
      length(regexp_replace(col(textCol), s"[^$ranges]", ""))
        .cast("long")
    val latin = n("A-Za-z")
    val digit = n("0-9")
    val cjk = n("一-鿿")
    val cyr = n("Ѐ-ӿ")
    df.select(col(idCol),
        latin.as("n_latin"), digit.as("n_digit"),
        cjk.as("n_cjk"), cyr.as("n_cyr"))
      .withColumn("dominant",
        when(col("n_latin") >= col("n_digit") &&
          col("n_latin") >= col("n_cjk") &&
          col("n_latin") >= col("n_cyr"), "latin")
          .when(col("n_digit") >= col("n_cjk") &&
            col("n_digit") >= col("n_cyr"), "digit")
          .when(col("n_cjk") >= col("n_cyr"), "cjk")
          .otherwise("cyrillic"))
  }

  /** Vocabulary coverage curve: what fraction of all token
    * OCCURRENCES the top-K most frequent types cover, reported at the
    * given vocab-size checkpoints — the tokenizer-budget planning
    * curve (the integral view of the Zipf fit q291 estimates): "how
    * big a vocab covers 99% of the corpus" read directly off the
    * cumulative mass.
    *
    * Scale shape: one combinable (token → count) aggregate, then the
    * round-12 global-rank discipline end-to-end — frequency ranks via
    * [[Rank.globalRowNumber]] (distributed range-partitioned sort of
    * the vocab frame) and cumulative mass via [[Rank.prefixSum]] (the
    * two-pass bucketed scan), never a single-task
    * `Window.orderBy(count)` over the vocabulary (data-proportional:
    * Heaps' law says it grows with the corpus).
    *
    * @return one row per checkpoint present in the vocab: `vocab_k`,
    *         `boundary_token` (the K-th type — rank ties broken by
    *         token), `boundary_count`, `cum_tokens`, `coverage_ppm`
    *         (exact integer floor), plus corpus totals `n_types`,
    *         `n_tokens` on every row
    */
  def vocabCoverage(
      df: DataFrame, textCol: String,
      checkpoints: Seq[Long]): DataFrame = {
    require(checkpoints.nonEmpty, "checkpoints must be non-empty")
    val counts = df
      .select(explode(tokens(col(textCol))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("cnt"))
    val ranked = Rank.globalRowNumber(
      counts, Seq("cnt" -> false, "token" -> true), "vocab_k")
    val cum = Rank.prefixSum(ranked, "vocab_k", "cnt", "cum_tokens")
    val tot = counts.agg(count(lit(1)).as("n_types"),
      sum("cnt").as("n_tokens"))
    cum.where(col("vocab_k").isin(checkpoints: _*))
      .crossJoin(broadcast(tot))
      .select(col("vocab_k"), col("token").as("boundary_token"),
        col("cnt").as("boundary_count"), col("cum_tokens"),
        expr("(cum_tokens * 1000000) DIV n_tokens").as("coverage_ppm"),
        col("n_types"), col("n_tokens"))
  }

  /** Temporal-leakage audit: documents that mention dates AFTER the
    * training cutoff either post-date the claimed snapshot (crawl
    * metadata is wrong) or discuss events the model must not have
    * seen — both invalidate "trained on data up to X" claims and
    * contaminate time-split evaluations. Extracts ISO `YYYY-MM-DD`
    * candidates, keeps calendar-plausible ones (month 01–12, day
    * 01–31 — loose by design: an audit wants recall), and compares
    * LEXICOGRAPHICALLY against the cutoff (ISO dates order as
    * strings, so no engine-specific date parsing crosses the oracle).
    *
    * Scale shape: extraction/validation are narrow per-row
    * higher-order functions inside codegen; the only shuffle is the
    * final group-grain aggregate.
    *
    * @param cutoff ISO date string; dates strictly after it leak
    * @return per group: `n_docs`, `n_docs_dated`, `n_dates`,
    *         `n_future_dates`, `n_leaking_docs`, `leak_ppm`
    *         (exact integer floor), `max_date` (null when no dates)
    */
  def temporalLeakage(
      df: DataFrame, textCol: String, groupCol: String,
      cutoff: String): DataFrame = {
    val cands = regexp_extract_all(col(textCol),
      lit("[0-9]{4}-[0-9]{2}-[0-9]{2}"), lit(0))
    val valid = filter(cands, d =>
      substring(d, 6, 2).between("01", "12") &&
        substring(d, 9, 2).between("01", "31"))
    val future = filter(valid, d => d > lit(cutoff))
    df.select(col(groupCol),
        size(valid).cast("long").as("_nd"),
        size(future).cast("long").as("_nf"),
        array_max(valid).as("_mx"))
      .groupBy(groupCol)
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_nd") > 0L, 1L).otherwise(0L)).as("n_docs_dated"),
        sum("_nd").as("n_dates"),
        sum("_nf").as("n_future_dates"),
        sum(when(col("_nf") > 0L, 1L).otherwise(0L))
          .as("n_leaking_docs"),
        max("_mx").as("max_date"))
      .withColumn("leak_ppm",
        expr("(n_leaking_docs * 1000000) DIV n_docs"))
      .select(col(groupCol), col("n_docs"), col("n_docs_dated"),
        col("n_dates"), col("n_future_dates"), col("n_leaking_docs"),
        col("leak_ppm"), col("max_date"))
  }

  /** Context-length planning: what a per-document token cap costs at
    * each candidate limit — the curve that picks a packing length
    * (q91's bin size) or a truncation policy. For every limit L:
    * how many documents exceed it, how many tokens survive
    * (Σ min(n_tokens, L)), how many are cut (Σ max(n_tokens − L, 0)),
    * and the waste as an exact ppm of the corpus.
    *
    * Scale shape: one narrow token-count projection, fanned out by
    * the (tiny, caller-bounded) limit list, then a |limits|-group
    * combinable aggregate — linear in rows × limits, no row ever
    * carries text past the first projection.
    *
    * @return per limit: `cap`, `n_docs`, `n_truncated`,
    *         `total_tokens`, `kept_tokens`, `lost_tokens`,
    *         `waste_ppm`
    */
  def truncationWaste(
      df: DataFrame, textCol: String, limits: Seq[Long]): DataFrame = {
    require(limits.nonEmpty, "limits must be non-empty")
    df.select(tokenCount(col(textCol)).cast("long").as("_nt"))
      .select(col("_nt"),
        explode(array(limits.map(lit): _*)).as("cap"))
      .groupBy("cap")
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("_nt") > col("cap"), 1L).otherwise(0L))
          .as("n_truncated"),
        sum("_nt").as("total_tokens"),
        sum(least(col("_nt"), col("cap"))).as("kept_tokens"),
        sum(greatest(col("_nt") - col("cap"), lit(0L)))
          .as("lost_tokens"))
      .withColumn("waste_ppm",
        expr("(lost_tokens * 1000000) DIV total_tokens"))
  }

  /** Convenience: annotate a documents frame with all signals.
    * `lang_pred` rides the TRAINED [[langId]] kernel by default (round
    * 18 — the stopword heuristic mislabels short and non-Latin docs);
    * `trainedLangId = false` keeps the heuristic leg reachable (q28's
    * per-doc oracle replays it in SQL — the trained kernel's per-doc
    * labels are pinned by the hand-labeled q411/q416/q420 fixtures
    * instead).
    */
  def annotate(textCol: String = "text", trainedLangId: Boolean = true)(
      df: DataFrame): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_tokens", tokenCount(t))
      .withColumn("type_token_ratio", round(typeTokenRatio(t), 4))
      .withColumn("stopword_ratio", round(stopwordRatio(t), 4))
      .withColumn("lang_pred",
        if (trainedLangId) langId(t) else langIdHeuristic(t))
      .withColumn("fingerprint", bowFingerprint(t))
      .withColumn("quality", qualityScore(t))
  }

  /** Flesch readability per group — the classic document-difficulty
    * signal next to [[qualityScore]]'s surface ratios, built entirely
    * from three EXACT integer run counts per doc (words = the house
    * tokenizer; sentences = `[.!?]+` runs, floored at 1 per doc;
    * syllables ≈ `[aeiouy]+` vowel-group runs in the lowercased text —
    * the standard heuristic, and a run can never span a space so the
    * doc-level count equals the per-word sum). Counts sum map-side per
    * group; the Flesch reading-ease 206.835 − 1.015·(W/S) −
    * 84.6·(Y/W) and Flesch–Kincaid grade 0.39·(W/S) + 11.8·(Y/W) −
    * 15.59 are then single double expressions over the exact sums
    * (mass-weighted group scores, not mean-of-doc-scores —
    * documented), so any engine replays them bit-for-bit.
    *
    * @return per group: `n_docs`, `words`, `sentences`, `syllables`,
    *         `wps` (words/sentence, round 4), `spw` (syllables/word,
    *         round 4), `flesch` (round 4), `fk_grade` (round 4);
    *         ratio columns null when a denominator is 0
    */
  def readability(
      df: DataFrame, groupCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val words = tokenCount(t).cast("long")
    val sentences = greatest(
      size(regexp_extract_all(t, lit("[.!?]+"), lit(0))).cast("long"),
      lit(1L))
    val syllables =
      size(regexp_extract_all(lower(t), lit("[aeiouy]+"), lit(0)))
        .cast("long")
    df.groupBy(col(groupCol))
      .agg(count(lit(1)).as("n_docs"),
        sum(words).as("words"),
        sum(sentences).as("sentences"),
        sum(syllables).as("syllables"))
      .select(col(groupCol), col("n_docs"), col("words"),
        col("sentences"), col("syllables"),
        expr("round(CAST(words AS DOUBLE) /" +
          " CAST(sentences AS DOUBLE), 4)").as("wps"),
        expr("CASE WHEN words > 0 THEN round(CAST(syllables AS DOUBLE)" +
          " / CAST(words AS DOUBLE), 4) END").as("spw"),
        expr("CASE WHEN words > 0 THEN round(206.835" +
          " - 1.015 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))" +
          " - 84.6 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))," +
          " 4) END").as("flesch"),
        expr("CASE WHEN words > 0 THEN round(0.39" +
          " * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))" +
          " + 11.8 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))" +
          " - 15.59, 4) END").as("fk_grade"))
  }
}
