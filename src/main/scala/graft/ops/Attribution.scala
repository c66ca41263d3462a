package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multi-touch conversion attribution: credit each conversion's value
  * to the touch events (clicks/views/…) that preceded it within a
  * lookback window, under the three standard position models at once —
  * first-touch, last-touch, and linear. Conversions with no preceding
  * touch fall into a `direct` channel so every model's column sums to
  * total conversion value (the books must balance).
  *
  * Exactness: value is credited in integer cents. The linear model
  * splits floor(cents/n) per touch and assigns the remainder to the
  * FIRST touch (deterministic largest-position rule), so all three
  * model columns are exact integer sums — no order-sensitive double
  * accumulation anywhere.
  *
  * Scale shape: conversions and touches join on the entity key (one
  * shuffle each); the per-conversion window runs over that entity's
  * touches inside the lookback only — per-conversion fan-in is bounded
  * by the entity's activity in the window, never by corpus size. At
  * 100 TB this is the standard sessionized-join discipline: both
  * sides pre-filtered to their type sets before the shuffle.
  */
object Attribution {

  /** Conversions (`cid`, `e`, `cts`, `cents`) and, joined to them on
    * the entity, every touch (`tts`, `channel`) inside the lookback
    * window before the conversion.
    */
  private def matchTouches(
      df: DataFrame, idCol: String, entityCol: String, tsCol: String,
      typeCol: String, convType: String, touchTypes: Seq[String],
      valueCol: String, lookbackDays: Int): (DataFrame, DataFrame) = {
    val conv = df.where(col(typeCol) === convType)
      .select(col(idCol).as("cid"), col(entityCol).as("e"),
        expr(s"unix_micros(cast($tsCol as timestamp))").as("cts"),
        round(col(valueCol) * 100).cast("long").as("cents"))
    val touch = df.where(col(typeCol).isin(touchTypes: _*))
      .select(col(entityCol).as("e"),
        expr(s"unix_micros(cast($tsCol as timestamp))").as("tts"),
        col(typeCol).as("channel"))
    val lookbackUs = lookbackDays.toLong * 86400000000L
    (conv, conv.join(touch, Seq("e"))
      .where(col("tts") < col("cts") &&
        col("tts") >= col("cts") - lit(lookbackUs)))
  }

  /** Conversions nothing touched: the 'direct' bucket. */
  private def untouched(conv: DataFrame, matched: DataFrame): DataFrame =
    conv.join(
        matched.select("cid").distinct().withColumn("_hit", lit(1)),
        Seq("cid"), "left")
      .where(col("_hit").isNull)

  /** @param df event frame
    * @param idCol      unique event id (the conversion grain key —
    *                   deterministic, so the oracle groups identically)
    * @param entityCol  user/account key
    * @param tsCol      event-time column (timestamp)
    * @param typeCol    event-type column
    * @param convType   the conversion event type
    * @param touchTypes channel event types eligible for credit
    * @param valueCol   conversion value (double currency units)
    * @param lookbackDays attribution window
    * @return per channel (touch types + 'direct'): `n_conversions`
    *         (conversions where this channel took ANY credit — for
    *         linear, any touched conversion), `first_cents`,
    *         `last_cents`, `linear_cents` (exact integer credit)
    */
  def report(
      df: DataFrame, idCol: String, entityCol: String, tsCol: String,
      typeCol: String, convType: String, touchTypes: Seq[String],
      valueCol: String, lookbackDays: Int): DataFrame = {
    val (conv, matched) = matchTouches(df, idCol, entityCol, tsCol,
      typeCol, convType, touchTypes, valueCol, lookbackDays)
    val wC = Window.partitionBy("cid")
    // Tie-break on (tts, channel): two touches in the same microsecond
    // must rank deterministically in both engines.
    val wAsc = wC.orderBy(col("tts").asc, col("channel").asc)
    val credited = matched
      .withColumn("pos", row_number().over(wAsc))
      .withColumn("n_t", count(lit(1)).over(wC))
      .withColumn("first_c",
        when(col("pos") === 1, col("cents")).otherwise(0L))
      .withColumn("last_c",
        when(col("pos") === col("n_t"), col("cents")).otherwise(0L))
      .withColumn("linear_c",
        expr("cents DIV n_t") +
          when(col("pos") === 1, col("cents") % col("n_t"))
            .otherwise(0L))
    val byChannel = credited.groupBy("channel").agg(
      countDistinct("cid").as("n_conversions"),
      sum("first_c").as("first_cents"),
      sum("last_c").as("last_cents"),
      sum("linear_c").as("linear_cents"))
    val direct = untouched(conv, matched)
      .agg(count(lit(1)).as("n_conversions"),
        sum("cents").as("first_cents"))
      .select(lit("direct").as("channel"), col("n_conversions"),
        coalesce(col("first_cents"), lit(0L)).as("first_cents"),
        coalesce(col("first_cents"), lit(0L)).as("last_cents"),
        coalesce(col("first_cents"), lit(0L)).as("linear_cents"))
      .where(col("n_conversions") > 0)
    byChannel.unionByName(direct)
  }

  /** Time-decay attribution — the fourth standard model beside
    * [[report]]'s first/last/linear: each touch's credit is
    * proportional to 2^(−Δt/halfLife), so recency wins smoothly
    * instead of winner-take-all. Weights snap to integer micro-units;
    * each touch gets ⌊cents·w/Σw⌋ and the integer remainder goes to
    * the first touch, so the books balance exactly (the [[report]]
    * discipline).
    *
    * @return per channel (+ 'direct'): `n_conversions`, `decay_cents`
    */
  def decayReport(
      df: DataFrame, idCol: String, entityCol: String, tsCol: String,
      typeCol: String, convType: String, touchTypes: Seq[String],
      valueCol: String, lookbackDays: Int,
      halfLifeDays: Double): DataFrame = {
    val (conv, touched) = matchTouches(df, idCol, entityCol, tsCol,
      typeCol, convType, touchTypes, valueCol, lookbackDays)
    val hlUs = halfLifeDays * 86400000000.0
    val matched = touched
      // Clamp to >= 1 micro-unit: a touch whose decay rounds to 0
      // (conversion-touch gap >> halfLife under a long lookback) must
      // not zero Σw — (cents · w) DIV 0 is null and would silently
      // drop that conversion's value from the books.
      .withColumn("w_u", greatest(round(exp(lit(-math.log(2.0)) *
        (col("cts") - col("tts")).cast("double") / lit(hlUs)) *
        lit(1e6)).cast("long"), lit(1L)))
    val wC = Window.partitionBy("cid")
    val wAsc = wC.orderBy(col("tts").asc, col("channel").asc)
    val credited = matched
      .withColumn("pos", row_number().over(wAsc))
      .withColumn("sw", sum("w_u").over(wC))
      .withColumn("base", expr("(cents * w_u) DIV sw"))
      .withColumn("rem", col("cents") - sum("base").over(wC))
      .withColumn("decay_c",
        col("base") + when(col("pos") === 1, col("rem")).otherwise(0L))
    val byChannel = credited.groupBy("channel").agg(
      countDistinct("cid").as("n_conversions"),
      sum("decay_c").as("decay_cents"))
    val direct = untouched(conv, matched)
      .agg(count(lit(1)).as("n_conversions"),
        coalesce(sum("cents"), lit(0L)).as("decay_cents"))
      .select(lit("direct").as("channel"), col("n_conversions"),
        col("decay_cents"))
      .where(col("n_conversions") > 0)
    byChannel.unionByName(direct)
  }

  /** Conversion-latency profile: for each conversion, the time since
    * the LAST touch of each channel inside the lookback, summarized
    * as per-channel percentiles — "how long after a click does the
    * purchase land", the input for choosing [[report]]'s lookback
    * (and a watermark-style design aid: a lookback below p99 leaks
    * credit). Same join discipline as [[report]]; the percentile
    * frame is (channels × conversions)-sized before the final
    * channel-sized aggregate.
    *
    * @return per channel: `n_conversions` (with ≥1 touch of that
    *         channel in window), `p50_s`, `p90_s`, `p99_s` (latency
    *         seconds, round 3)
    */
  def conversionLatency(
      df: DataFrame, idCol: String, entityCol: String, tsCol: String,
      typeCol: String, convType: String, touchTypes: Seq[String],
      lookbackDays: Int): DataFrame = {
    val conv = df.where(col(typeCol) === convType)
      .select(col(idCol).as("cid"), col(entityCol).as("e"),
        expr(s"unix_micros(cast($tsCol as timestamp))").as("cts"))
    val touch = df.where(col(typeCol).isin(touchTypes: _*))
      .select(col(entityCol).as("e"),
        expr(s"unix_micros(cast($tsCol as timestamp))").as("tts"),
        col(typeCol).as("channel"))
    val lookbackUs = lookbackDays.toLong * 86400000000L
    conv.join(touch, Seq("e"))
      .where(col("tts") < col("cts") &&
        col("tts") >= col("cts") - lit(lookbackUs))
      .groupBy("cid", "channel")
      .agg(min(col("cts") - col("tts")).as("lat_us"))
      .groupBy("channel")
      .agg(count(lit(1)).as("n_conversions"),
        expr("percentile(lat_us, 0.5D)").as("_p50"),
        expr("percentile(lat_us, 0.9D)").as("_p90"),
        expr("percentile(lat_us, 0.99D)").as("_p99"))
      .select(col("channel"), col("n_conversions"),
        round(col("_p50") / lit(1e6), 3).as("p50_s"),
        round(col("_p90") / lit(1e6), 3).as("p90_s"),
        round(col("_p99") / lit(1e6), 3).as("p99_s"))
  }
}
