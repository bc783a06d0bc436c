package graft.pipelines

import graft.sources.Schemas
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Open-Meteo weather pipeline (OpenMeteoWeatherPipelineHourlyData.py):
  * hourly rows per coordinate -> per-state-per-hour mean and sample-stddev
  * tables.
  *
  * The reference labels states POSITIONALLY (`index // 3` grouping +
  * `iloc[i::numberOfStates]` round-robin, :94-103), silently assuming 24
  * rows per location and a state-sorted CSV. Here state attachment is a
  * broadcast equi-join on (latitude, longitude) — order-independent and
  * correct when a location returns != 24 rows (SURVEY.md §7, a documented
  * semantic improvement, not a translation).
  *
  * Sink frames sort within partitions, never globally: the reference's
  * sorts (O3, :79 and :105) order rows for a heap table that keeps no
  * order, and a global sort in front of a parquet partition write is a
  * range exchange that buys nothing (the `Eia930Pipeline` docs make the
  * full argument). `OpenMeteoSource.parseResponses` decodes the responses
  * on the driver into one partition, so the apps' sink frames plan no
  * exchange and each table lands one file per run date, in key order.
  */
object OpenMeteoPipeline {

  /** cleaner (:60-83), sorted within partitions by (date, latitude,
    * longitude) where the reference sorts the whole frame by date.
    */
  def clean(hourlyRows: DataFrame): DataFrame =
    hourlyRows.sortWithinPartitions(col("date"), col("latitude"), col("longitude"))

  /** computeMetricsPerStatePerHour (:86-107), A4 (`mean`) and A5 (`std`):
    * J2 state join + one aggregate per weather variable, sorted within
    * partitions by (date, state). `std` is SAMPLE stddev (pandas Series.std
    * ddof=1).
    */
  def metricsPerStatePerHour(cleaned: DataFrame, coordinates: DataFrame,
                             stat: String): DataFrame = {
    val fn: org.apache.spark.sql.Column => org.apache.spark.sql.Column = stat match {
      case "mean" => avg
      case "std" => stddev_samp
      case other => throw new IllegalArgumentException(s"unsupported stat: $other")
    }
    val coords = coordinates.select(
      col("State").as("state"),
      col("Latitude").as("latitude"),
      col("Longitude").as("longitude"))
    val vars = Schemas.weatherVariables
    cleaned
      .join(broadcast(coords), Seq("latitude", "longitude"))
      .groupBy(col("date"), col("state"))
      .agg(fn(col(vars.head)).as(vars.head),
        vars.tail.map(v => fn(col(v)).as(v)): _*)
      .sortWithinPartitions(col("date"), col("state"))
  }

  def transform(hourlyRows: DataFrame, coordinates: DataFrame): Map[String, DataFrame] = {
    val cleaned = clean(hourlyRows)
    Map(
      "openmeteo_cleaned_weather" -> cleaned,
      "openmeteo_weather_means_per_hour" ->
        metricsPerStatePerHour(cleaned, coordinates, "mean"),
      "openmeteo_weather_deviations_per_hour" ->
        metricsPerStatePerHour(cleaned, coordinates, "std"))
  }
}
