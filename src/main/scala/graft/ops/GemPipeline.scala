package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** The parameterized per-tracker wrangle pipeline. All eight reference
  * scripts (`Coalplants_GEM.R` … `bioenergyplants_GEM.R`) are ONE
  * pipeline differing only in configuration (SURVEY.md §0) — source
  * columns, status whitelist, start-year policy, ownership-split mode,
  * technology constant.
  *
  * Every step is a lazy `DataFrame => DataFrame`; nothing materializes
  * until the sink. At 100 TB the plan is: parquet scan (pruned to the
  * configured columns, status filter pushed down) → narrow cleans →
  * one broadcast join (coords) → explode → window (split mode v2 only)
  * → explode (years) → partial+final hash agg. Exactly one wide shuffle
  * (the rollup) plus the optional window shuffle.
  */
object GemPipeline {

  /** Start-year handling, three reference variants:
    *  - coal drops every unknown-start row (`Coalplants_GEM.R:46-47`);
    *  - gas/oil drops unknown starts only for pre-operation statuses,
    *    operating plants keep a null start (`GasOilplants_GEM.R:79-81`);
    *  - hydro imputes 2030 for pre-operation and 2024 for operating
    *    (`Hydroplants_GEM.R:102-107`).
    */
  sealed trait StartYearPolicy
  case object DropUnknown extends StartYearPolicy
  final case class DropUnknownForStatuses(statuses: Seq[String]) extends StartYearPolicy
  final case class Impute(
      preOperation: Seq[String] = Seq("announced", "construction", "pre-construction"),
      preOperationYear: Int = 2030,
      otherYear: Int = 2024) extends StartYearPolicy

  final case class TrackerConfig(
      name: String,
      technology: Column, // lit("CoalCap") or a case_when over classification
      unitIdCol: String,
      locationIdCol: String,
      plantNameCol: String,
      countryCol: String,
      regionCol: String,
      ownerCol: String,
      capacityCol: String,
      statusCol: String,
      startYearCol: String,
      retireYearCol: Option[String],
      ageCol: Option[String],
      statusWhitelist: Seq[String],
      startYearPolicy: StartYearPolicy,
      ownershipMode: Ownership.Mode,
      preSteps: Seq[DataFrame => DataFrame] = Nil, // G3 binational, fuel classify…
      // Only coal (`Coalplants_GEM.R:126-128`) and gas/oil
      // (`GasOilplants_GEM.R:153-155`) drop units retired before 2024;
      // the v2 trackers keep them as zero-capacity rows across the
      // 2023-2050 expansion.
      dropPre2024Retirees: Boolean = false
  )

  private def unknownStart(c: Column): Column =
    c.isin("unknown", "not found") || c.isNull

  /** Full per-tracker pipeline, steps 4-14 of the canonical template
    * (SURVEY.md §0). Input: the raw all-string tracker frame.
    */
  def wrangle(cfg: TrackerConfig)(raw: DataFrame): DataFrame = {
    // Spread the raw tracker frame before the compute-dense cleans
    // (ownership regex split, year explode): the driver's synthetic
    // trackers are built over single-row-group parquet scans that plan
    // as 1-2 tasks, serializing the whole wrangle (measured ~5 s of
    // q43's 9.6 s wall). Hashing on the location id keeps a location's
    // rows together; no-op at production input sizes ([[Par.spread]]).
    val spreadRaw = Par.spread(raw, col(cfg.locationIdCol))
    val statusFiltered = cfg.preSteps.foldLeft(spreadRaw)((d, f) => f(d))
      .filter(col(cfg.statusCol).isin(cfg.statusWhitelist: _*))
      .transform(Cleaning.replaceEverywhere(">0", "unknown"))
      .transform(Cleaning.dropUnusableCapacity(cfg.capacityCol, Seq("unknown", "N/A", "not found")))

    val startYearHandled = cfg.startYearPolicy match {
      case DropUnknown =>
        statusFiltered.filter(!unknownStart(col(cfg.startYearCol)))
      case DropUnknownForStatuses(statuses) =>
        statusFiltered.filter(
          !(col(cfg.statusCol).isin(statuses: _*) && unknownStart(col(cfg.startYearCol))))
      case Impute(pre, preYear, otherYear) =>
        statusFiltered.withColumn(
          cfg.startYearCol,
          when(unknownStart(col(cfg.startYearCol)),
            when(col(cfg.statusCol).isin(pre: _*), lit(preYear.toString))
              .otherwise(lit(otherYear.toString)))
            .otherwise(col(cfg.startYearCol)))
    }

    val numericCols = Seq(cfg.capacityCol, cfg.startYearCol) ++ cfg.retireYearCol
    val retireOk = // pre-2024 retiree drop, per-config (`Coalplants_GEM.R:126-128`)
      if (cfg.dropPre2024Retirees)
        cfg.retireYearCol.map(r => col(r).isNull || col(r) >= 2024).getOrElse(lit(true))
      else lit(true)

    // Canonicalize BEFORE the retiree drop: the reference computes the
    // per-location coordinate summary over all rows (`Coalplants_GEM.R:
    // 59-76`) and only then drops pre-2024 retirees (`:126-128`), so a
    // location mixing retired and live units averages over both.
    startYearHandled
      .transform(Cleaning.toNumeric(numericCols: _*))
      .transform(Coordinates.canonicalize(cfg.locationIdCol, "Latitude", "Longitude"))
      .filter(retireOk)
      .withColumn("technology", cfg.technology)
      .transform(Ownership.split(cfg.ownerCol, cfg.capacityCol, cfg.ownershipMode))
      .filter(col(cfg.unitIdCol).isNotNull)
      .transform(Timeseries.expandYears("Capacity_allocated", cfg.startYearCol, cfg.retireYearCol))
      .transform(Timeseries.rollupCapacity(
        Seq(cfg.locationIdCol, cfg.plantNameCol, cfg.countryCol, cfg.regionCol,
          "Latitude", "Longitude", "technology") ++ cfg.ageCol ++ Seq("Company", "year")))
  }

  /** G3 binational row duplication — reference `Hydroplants_GEM.R:23-74`:
    * plants operating across a border become two rows; the country-2 side
    * gets `_2`-suffixed ids and the `… 2` fields promoted into the `… 1`
    * columns. Pure union of two narrow projections — no shuffle, scales
    * trivially.
    *
    * @param promote pairs (country1Col, country2Col) to promote on the
    *   second side; the `… 2` source columns are nulled afterwards as in
    *   the reference.
    */
  def expandBinational(
      binationalCol: String, idCols: Seq[String],
      promote: Seq[(String, String)])(df: DataFrame): DataFrame = {
    val national = df.filter(col(binationalCol) =!= "Yes" || col(binationalCol).isNull)
    val bi = df.filter(col(binationalCol) === "Yes")
    val side2 = promote.foldLeft(
      idCols.foldLeft(bi)((d, c) => d.withColumn(c, concat(col(c), lit("_2"))))
    ) { case (d, (c1, c2)) => d.withColumn(c1, col(c2)) }
    val cleared = promote.foldLeft(bi.unionByName(side2)) { case (d, (_, c2)) =>
      d.withColumn(c2, lit(null).cast("string"))
    }
    national.unionByName(cleared)
  }

  /** Gas/oil fuel classification — reference `GasOilplants_GEM.R:20-42`:
    * substring positions of "fossil gas" / "fossil liquids" in the Fuel
    * column decide the class; when both appear the EARLIER one wins.
    * instr==0 ≡ str_locate NA (SURVEY.md §2.9 X5).
    */
  def classifyFuel(fuelCol: String = "Fuel")(df: DataFrame): DataFrame = {
    val f = lower(col(fuelCol))
    val posGas = nullif(instr(f, "fossil gas"), lit(0))
    val posLiq = nullif(instr(f, "fossil liquids"), lit(0))
    df.withColumn("classification",
      when(posGas.isNotNull && posLiq.isNull, "Gas Power Plant")
        .when(posGas.isNull && posLiq.isNotNull, "Oil Power Plant")
        .when(posGas.isNotNull && posLiq.isNotNull,
          when(posGas < posLiq, "Gas Power Plant").otherwise("Oil Power Plant"))
        .otherwise("Not Sure"))
  }

  /** The 19-column output contract every tracker lands on — reference
    * `Coalplants_GEM.R:177-223`. `coordinates` keeps R's paste0 NA
    * semantics: a missing side prints as the string "NA" (SURVEY.md
    * §2.9 X7).
    */
  def finalizeSchema(cfg: TrackerConfig, countryDim: DataFrame)(rolled: DataFrame): DataFrame = {
    val naStr = (c: Column) => coalesce(c.cast("string"), lit("NA"))
    rolled
      .withColumnRenamed(cfg.locationIdCol, "asset_id")
      .withColumnRenamed(cfg.plantNameCol, "asset_name")
      .withColumnRenamed("Company", "company_name")
      .withColumnRenamed(cfg.countryCol, "country_name")
      .withColumnRenamed(cfg.regionCol, "region")
      .withColumnRenamed("year", "production_year")
      .withColumn("coordinates",
        concat(naStr(col("Latitude")), lit(", "), naStr(col("Longitude"))))
      .transform(countryToIso2(countryDim, "country_name"))
      .withColumn("company_id", lit(null).cast("string"))
      .withColumn("workforce_size", lit(null).cast("double"))
      .withColumn("workforce_source", lit(null).cast("string"))
      .withColumn("sector", lit("Power"))
      .withColumn("capacity_unit", lit("MW"))
      .withColumn("plant_age_years",
        cfg.ageCol.map(col(_).cast("double")).getOrElse(lit(null).cast("double")))
      .withColumn("plant_age_rank", lit(null).cast("double"))
      .withColumn("capacity_factor", lit(null).cast("double"))
      .withColumn("emission_factor", lit(null).cast("double"))
      .select(FinalColumns.map(col): _*)
  }

  /** Fixed output column order — `Coalplants_GEM.R:214-223`. */
  val FinalColumns: Seq[String] = Seq(
    "asset_id", "asset_name", "company_id", "company_name", "country_iso2",
    "country_name", "region", "coordinates", "workforce_size", "workforce_source",
    "sector", "technology", "capacity", "capacity_unit", "production_year",
    "plant_age_years", "plant_age_rank", "capacity_factor", "emission_factor")

  /** The cross-tracker totals job — reference `TotalData_GEM.R:6-148`:
    * union the tracker outputs, assign company ids, overlay the steel
    * dataset's ids (first-per-company), enrich with emission factors,
    * zero factors for non-fossil technologies.
    *
    * Scale: one distributed id assignment, two broadcast-scale joins
    * (steel dim, factor dim), no other shuffles beyond the input unions.
    *
    * The unioned tracker output is deliberately NOT persisted, though
    * id assignment is two-pass (a ranking pass for the company dim,
    * then the enrichment join): the dim pass only reads the owner
    * column, so Catalyst prunes the recomputed union down to a skinny
    * projection — measurably cheaper than materializing the full
    * 19-column fact through the storage layer (persisting was 2-3×
    * slower at sf0.1 and pins cache until LRU eviction).
    */
  def totals(
      trackers: Seq[DataFrame], steel: DataFrame,
      factors: DataFrame, // technology, country_iso2, emissions_factor
      fossilTechs: Seq[String] = Seq("CoalCap", "OilCap", "GasCap")): DataFrame = {
    val unioned = trackers.reduce(_ unionByName _)
    val withIds = assignCompanyIds("company_name")(unioned)
    // Steel overlay (`TotalData_GEM.R:48-62`): steel's id wins, then the
    // steel rows themselves are appended.
    val steelDim = firstPerGroup("company_name", "asset_id")(steel)
      .select(col("company_name"), col("company_id").as("_steel_id"))
    val overlaid = withIds
      .join(broadcast(steelDim), Seq("company_name"), "left")
      .withColumn("company_id", coalesce(col("_steel_id"), col("company_id")))
      .drop("_steel_id")
      .select(FinalColumns.map(col): _*)
      .unionByName(steel.select(FinalColumns.map(col): _*))
    overlaid
      .drop("emission_factor")
      .transform(emissionFactorJoin(factors))
      .withColumn("emission_factor",
        when(col("technology").isin(fossilTechs: _*), col("emission_factor"))
          .otherwise(lit(0.0)))
      .select(FinalColumns.map(col): _*)
  }

  /** Deterministic TFL company-id assignment — reference
    * `TotalData_GEM.R:21-34` draws seeded random 8-digit ids; opaque ids
    * only need format + uniqueness + referential integrity (SURVEY.md
    * §2.9 X13), so we derive them from the row's rank in the sorted
    * distinct-name dimension: reproducible on any cluster, no RNG state.
    *
    * Scale shape: a partition-LESS `Window.orderBy(name)` would funnel
    * every distinct company through one task; [[Rank.globalRowNumber]]
    * ranks the distinct names with a distributed sort instead, no
    * single-task stage. The join back is left to AQE (the dim has no
    * size stats; AQE broadcast-converts it at runtime when small).
    */
  def assignCompanyIds(nameCol: String)(df: DataFrame): DataFrame = {
    val names = df.select(col(nameCol)).na.drop().distinct()
    val dim = Rank.globalRowNumber(names, Seq(nameCol -> true), "_rank")
      .select(col(nameCol),
        format_string("TFL%08d", col("_rank") + 10000000L)
          .as("_new_company_id"))
    val joined = df.join(dim, Seq(nameCol), "left")
    // Pre-existing ids win (`TotalData_GEM.R:31-34`: company_id.x kept
    // when present, the generated id only fills gaps).
    val merged =
      if (df.columns.contains("company_id"))
        joined.withColumn("company_id",
          coalesce(col("company_id"), col("_new_company_id")))
      else joined.withColumn("company_id", col("_new_company_id"))
    merged.drop("_new_company_id")
  }

  /** Climate-Trace emission-factor enrichment — reference
    * `TotalData_GEM.R:65-135`: mean factor per (technology, country),
    * global unweighted mean-of-means per technology as fallback, then a
    * two-level left join: country-specific factor if present, else the
    * global one. Both dims are tiny → broadcast joins.
    */
  def emissionFactorJoin(
      factors: DataFrame, // columns: technology, country_iso2, emissions_factor
      techCol: String = "technology",
      countryCol: String = "country_iso2"
  )(df: DataFrame): DataFrame = {
    val perCountry = factors
      .groupBy(col(techCol), col(countryCol))
      .agg(avg("emissions_factor").as("ef_country"))
    val global = perCountry
      .groupBy(col(techCol))
      .agg(avg("ef_country").as("ef_global"))
    df.join(broadcast(perCountry), Seq(techCol, countryCol), "left")
      .join(broadcast(global), Seq(techCol), "left")
      .withColumn("emission_factor", coalesce(col("ef_country"), col("ef_global")))
      .drop("ef_country", "ef_global")
  }

  /** Country-name → ISO2 lookup — reference uses the `countrycode` R
    * package (`Coalplants_GEM.R:200`) plus a Kosovo patch (`:201`).
    * Modeled as a broadcast dimension join (SURVEY.md §2.3 J4); the
    * alias dimension is provided by the caller (bundled CSV in prod,
    * in-test fixture here).
    */
  def countryToIso2(dim: DataFrame, countryCol: String)(df: DataFrame): DataFrame = {
    // Rename dim columns so a df column also named country_name survives.
    val d = dim.select(col("country_name").as("_dim_country"), col("iso2").as("_dim_iso2"))
    df.join(broadcast(d), df(countryCol) === col("_dim_country"), "left")
      .withColumn("country_iso2",
        when(col(countryCol) === "Kosovo", "XK").otherwise(col("_dim_iso2")))
      .drop("_dim_country", "_dim_iso2")
  }

  /** First-row-per-group dedup — reference steel merge
    * `TotalData_GEM.R:48-51` (`group_by(name) %>% slice(1)`). R's
    * slice(1) is "first in file order"; distributed-deterministic
    * equivalent: min over an explicit ordinal.
    */
  def firstPerGroup(keyCol: String, ordinalCol: String)(df: DataFrame): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(ordinalCol))
    df.withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1).drop("_rn")
  }

  /** Incremental tracker ingest: drive the FULL batch wrangle over a
    * stream of raw tracker rows, one micro-batch at a time.
    * `foreachBatch` is the canonical Structured Streaming shape for ETL
    * whose aggregations (coordinate canonicalization, the year rollup)
    * are not append-expressible — each tracker snapshot drop lands as a
    * complete batch, so per-batch semantics ARE the reference
    * semantics. The caller owns the sink (normally an idempotent
    * overwrite-by-batch parquet/CSV write) and query start/stop.
    */
  def streamingWrangle(cfg: TrackerConfig, raw: DataFrame)(
      sink: (DataFrame, Long) => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    raw.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      sink(wrangle(cfg)(batch), batchId)
    }
}
