package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** BPE tokenizer training — the iterative count → merge → recount loop
  * of Sennrich et al., "Neural Machine Translation of Rare Words with
  * Subword Units" (ACL'16). Each round counts adjacent symbol pairs
  * across the corpus (weighted by word frequency), merges the most
  * frequent pair everywhere, and records the rule; the ordered rule
  * list IS the trained tokenizer. Extends the single-round pair count
  * (`TextAnalysis.bpePairCounts`, q101) to full training.
  *
  * Scale shape: the corpus is aggregated ONCE to the (word, freq)
  * vocabulary — vocab-sized, orders of magnitude under the corpus —
  * and every training round runs on that small frame: one explode +
  * map-side-combinable sum for pair counts, one `limit(1)` collect for
  * the argmax (the merge rule is a driver-side decision by nature, K
  * rows total), one narrow `replace` projection to apply the rule.
  * A per-round [[Pin.loop]] truncates the growing lineage — the
  * [[Components]] / [[PageRank]] iteration pattern.
  *
  * Engine-parity by construction: a word's working state is the string
  * `" s1  s2  ...  sn "` (symbols joined by TWO spaces, one space at
  * each edge; symbols are non-space runs so the delimiter cannot occur
  * inside one). Applying merge (a, b) is then a LITERAL left-to-right
  * non-overlapping `replace(state, " a  b ", " ab ")` — exactly BPE's
  * greedy left-to-right merge (consecutive disjoint matches keep their
  * own delimiters, so "a b a b" merges twice; overlapping "a a a"
  * merges once), and `replace` has identical semantics in Spark and
  * DuckDB, so the oracle can replay training as K unrolled CTE rounds.
  * No end-of-word marker: words are trained as plain symbol sequences
  * (the `</w>` variant is a wrapping of the same loop).
  */
object Bpe {

  /** Ordered merge rules learned from a text corpus: one row per round,
    * `(step, left, right, merged, cnt)` — `cnt` is the pair's corpus
    * count (weighted by word frequency, counting every adjacent
    * position) at the time it was chosen. Ties break on (left, right)
    * so training is deterministic in any engine. Stops early if fewer
    * than `merges` rounds have a pair left to merge.
    */
  def train(df: DataFrame, textCol: String, merges: Int): DataFrame =
    trainWithVocab(df, textCol, merges)._1

  /** [[train]] plus the post-training vocabulary `(state, freq)` —
    * the segmentation evidence the property tests assert on.
    */
  def trainWithVocab(
      df: DataFrame, textCol: String, merges: Int): (DataFrame, DataFrame) = {
    require(merges > 0, s"merges must be positive: $merges")
    val spark = df.sparkSession

    // Corpus → (word, freq), once; then each word becomes its initial
    // symbol state " c1  c2  ... cn " (one symbol per character).
    val chars = transform(
      sequence(lit(1), length(col("word"))),
      i => col("word").substr(i, lit(1)))
    var vocab = df
      .select(explode(TextAnalysis.tokens(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("state",
        concat(lit(" "), concat_ws("  ", chars), lit(" ")))
      .select("state", "freq")
      .transform(Pin.shared)

    // Adjacent symbol pairs of a state, with multiplicity. Guard
    // single-symbol states: Spark's sequence(1, 0) counts DOWN.
    val syms = split(trim(col("state")), "  ")
    val pairCols = explode(when(size(syms) >= 2,
      transform(sequence(lit(1), size(syms) - 1),
        i => struct(element_at(syms, i).as("left"),
          element_at(syms, i + 1).as("right"))))
      .otherwise(array().cast("array<struct<left:string,right:string>>")))

    val rules = Seq.newBuilder[Row]
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      val best = vocab
        .select(col("freq"), pairCols.as("p"))
        .groupBy(col("p.left").as("left"), col("p.right").as("right"))
        .agg(sum("freq").as("cnt"))
        .orderBy(col("cnt").desc, col("left"), col("right"))
        .limit(1).collect()
      best.headOption match {
        case None => exhausted = true // every word fully merged
        case Some(r) =>
          val (l, rgt, cnt) = (r.getString(0), r.getString(1), r.getLong(2))
          rules += Row(step, l, rgt, l + rgt, cnt)
          // Pin.loop: merges is caller-chosen and each step chains a
          // checkpoint generation (Pin's planning-knee doc).
          vocab = Pin.loop(step, vocab
            .withColumn("state", replace(
              col("state"), lit(s" $l  $rgt "), lit(s" ${l + rgt} "))))
          step += 1
      }
    }

    val schema = StructType(Seq(
      StructField("step", IntegerType, nullable = false),
      StructField("left", StringType, nullable = false),
      StructField("right", StringType, nullable = false),
      StructField("merged", StringType, nullable = false),
      StructField("cnt", LongType, nullable = false)))
    val merged = spark.createDataFrame(
      spark.sparkContext.parallelize(rules.result(), 1), schema)
    (merged.orderBy("step"), vocab)
  }

  /** Per-row BPE token count of `text` under an ordered merge list —
    * the ENCODE side of the tokenizer: each word starts as characters
    * and the K learned rules replay in training order, so a corpus can
    * be budgeted in model tokens ("how many tokens is this dataset
    * under MY tokenizer") without materializing the segmentation.
    * Entirely narrow per-row HOF expressions (no shuffle, no UDF, no
    * join): the merge list is tiny by construction (K rules) and is
    * baked into the plan as literals.
    */
  def tokenCount(text: Column, merges: Seq[(String, String)]): Column = {
    def stateOf(w: Column) =
      concat(lit(" "), array_join(
        transform(sequence(lit(1), length(w)), i => w.substr(i, lit(1))),
        "  "), lit(" "))
    def applied(st: Column) =
      merges.foldLeft(st) { case (s, (a, b)) =>
        replace(s, lit(s" $a  $b "), lit(s" ${a + b} "))
      }
    aggregate(
      transform(TextAnalysis.tokens(text),
        w => size(split(trim(applied(stateOf(w))), "  ")).cast("long")),
      lit(0L), (acc, x) => acc + x)
  }

}
