package graft.sources

import org.apache.spark.sql.types._

/** The reference's fixed data model, transcribed:
  * - the 13 sink tables (databaseOperations.py:133-382), flat schemas with
  *   TEXT/FLOAT/INT/TIMESTAMP only;
  * - the per-endpoint source row schemas (all values arrive as strings;
  *   numeric/timestamp parsing is the engine's job —
  *   EIA930PipelineHourlyData.py:114, FIXTURES.md §A1).
  *
  * Explicit StructTypes instead of inference: the reference patches schemas
  * dynamically based on which columns an API happens to return
  * (EIA930PipelineHourlyData.py:105); here every endpoint has a declared
  * shape, and the only dynamic dispatch left is the documented
  * respondent-vs-fromba key choice.
  */
object Schemas {

  val weatherVariables: Seq[String] = Seq(
    "temperature_2m", "relative_humidity_2m", "dew_point_2m",
    "apparent_temperature", "precipitation",
    "rain", "snowfall", "snow_depth", "weather_code", "pressure_msl",
    "surface_pressure", "cloud_cover", "cloud_cover_low", "cloud_cover_mid",
    "cloud_cover_high",
    "et0_fao_evapotranspiration", "vapour_pressure_deficit", "wind_speed_10m",
    "wind_speed_100m", "wind_direction_10m",
    "wind_direction_100m", "wind_gusts_10m", "soil_temperature_0_to_7cm",
    "soil_temperature_7_to_28cm", "soil_temperature_28_to_100cm",
    "soil_temperature_100_to_255cm", "soil_moisture_0_to_7cm",
    "soil_moisture_7_to_28cm", "soil_moisture_28_to_100cm",
    "soil_moisture_100_to_255cm")

  private def s(n: String) = StructField(n, StringType)
  private def f(n: String) = StructField(n, DoubleType)
  private def i(n: String) = StructField(n, IntegerType)
  private def t(n: String) = StructField(n, TimestampType)

  // ---- source row schemas (per endpoint; every field a string) -----------

  val fuelTypeDataRow: StructType = StructType(Seq(
    "period", "respondent", "respondent-name", "fueltype", "type-name",
    "value", "value-units").map(s))

  val regionDataRow: StructType = StructType(Seq(
    "period", "respondent", "respondent-name", "type", "type-name",
    "value", "value-units").map(s))

  val interchangeDataRow: StructType = StructType(Seq(
    "period", "fromba", "fromba-name", "toba", "toba-name",
    "value", "value-units").map(s))

  val crudeOilImportsRow: StructType = StructType(Seq(
    "period", "originId", "originName", "originType", "originTypeName",
    "destinationId", "destinationName", "destinationType",
    "destinationTypeName", "gradeId", "gradeName", "quantity",
    "quantity-units").map(s))

  val coalImportsExportsRow: StructType = StructType(Seq(
    "period", "exportImportType", "coalRankId", "coalRankDescription",
    "countryId", "countryDescription", "customsDistrictId",
    "customsDistrictDescription", "price", "quantity", "price-units",
    "quantity-units").map(s))

  val coalShipmentReceiptsRow: StructType = StructType(Seq(
    "period", "plantStateId", "plantStateDescription", "mineStateId",
    "mineStateDescription", "mineTypeId", "mineTypeDescription", "mineMSHAID",
    "mineName", "mineBasinId", "mineBasinDescription", "mineCountyId",
    "mineCountyName", "contractType", "transportationMode", "coalSupplier",
    "coalRankId", "coalRankDescription", "plantId", "plantName",
    "ash-content", "heat-content", "price", "quantity", "sulfur-content",
    "ash-content-units", "heat-content-units", "price-units",
    "quantity-units", "sulfur-content-units").map(s))

  // ---- the 13 sink schemas ------------------------------------------------

  private val weatherCols = weatherVariables.map(f)

  val sinks: Map[String, StructType] = Map(
    "eia930_balancing_authorities" -> StructType(Seq(
      s("ba_code"), s("ba_name"), s("time_zone"), s("region_country_code"),
      s("region_country_name"), s("generation_only_ba"))),
    "eia930_energy_sources" -> StructType(Seq(
      s("energy_source_code"), s("energy_source_name"))),
    "eia930_cleaned_hourly_net_generation" -> StructType(Seq(
      t("date"), s("respondent"), s("respondent_name"), s("fueltype"),
      s("type_name"), f("value"), s("value_units"))),
    "eia930_cleaned_hourly_demand_interchange_generation" -> StructType(Seq(
      t("date"), s("respondent"), s("respondent_name"), s("type"),
      s("type_name"), f("value"), s("value_units"))),
    "eia930_cleaned_hourly_interchange_by_neighboring_ba" -> StructType(Seq(
      t("date"), s("fromba"), s("fromba_name"), s("toba"), s("toba_name"),
      f("value"), s("value_units"))),
    "eia930_hourly_net_generation_by_energy_source" -> StructType(Seq(
      t("date"), s("fueltype"), f("value"))),
    "eia930_hourly_respondents_producing_and_generating" -> StructType(Seq(
      t("date"), s("respondent"), s("respondent_name"),
      f("d"), f("df"), f("ng"), f("ti"))),
    "eia930_hourly_statistics_by_response_type" -> StructType(Seq(
      t("date"), f("d"), f("df"), f("ng"), f("ti"))),
    "openmeteo_cleaned_weather" -> StructType(
      Seq(t("date"), f("latitude"), f("longitude")) ++ weatherCols),
    "openmeteo_weather_means_per_hour" -> StructType(
      Seq(t("date"), s("state")) ++ weatherCols),
    "openmeteo_weather_deviations_per_hour" -> StructType(
      Seq(t("date"), s("state")) ++ weatherCols),
    "eia814_cleaned_monthly_crude_oil_imports" -> StructType(Seq(
      t("date"), s("origin_id"), s("origin_name"), s("origin_type"),
      s("origin_type_name"), s("destination_id"), s("destination_name"),
      s("destination_type"), s("destination_type_name"), s("grade_id"),
      s("grade_name"), f("quantity"), s("quantity_units"))),
    "eia7a_cleaned_quarterly_coal_imports_and_exports" -> StructType(Seq(
      t("date"), s("export_import_type"), s("coal_rank_id"),
      s("coal_rank_description"), s("country_id"), s("country_description"),
      s("customs_district_id"), s("customs_district_description"),
      f("price"), f("quantity"), s("price_units"), s("quantity_units"))),
    "eia7a_cleaned_quarterly_coal_shipment_receipts" -> StructType(Seq(
      t("date"), s("plant_state_id"), s("plant_state_description"),
      s("mine_state_id"), s("mine_state_description"), s("mine_type_id"),
      s("mine_type_description"), i("mine_mshaid"), s("mine_name"),
      s("mine_basin_id"), s("mine_basin_description"), i("mine_county_id"),
      s("mine_county_name"), s("contract_type"), s("transportation_mode"),
      s("coal_supplier"), s("coal_rank_id"), s("coal_rank_description"),
      i("plant_id"), s("plant_name"), f("ash_content"), f("heat_content"),
      f("price"), f("quantity"), f("sulfur_content"),
      s("ash_content_units"), s("heat_content_units"), s("price_units"),
      s("quantity_units"), s("sulfur_content_units")))
  )
}
