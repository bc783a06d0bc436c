package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Open-Meteo hourly archive source (SURVEY.md S7/S8).
  *
  * The reference consumes flatbuffer responses via the vendor SDK
  * (OpenMeteoWeatherPipelineHourlyData.py:14-44); the same API serves JSON,
  * which is what this source models: one response document per coordinate,
  * epoch-second `time` array + 30 parallel float arrays. The columnar
  * array-per-variable response becomes rows via one `posexplode` of the time
  * axis + positional `element_at` into each variable array. The response
  * bodies are already on the driver (one per curated coordinate, a few
  * thousand hourly rows per run date), so the rows come back in ONE
  * partition, as `EnvelopeJson.parsePages` returns them: the sort, state
  * join and aggregates of `OpenMeteoPipeline` then plan no exchange.
  */
object OpenMeteoSource {

  /** Parse response bodies (one JSON string per location) into hourly rows:
    * (date timestamp, latitude, longitude, 30 weather-variable doubles).
    * The reference's end-exclusive hourly date_range (inclusive="left",
    * OpenMeteoWeatherPipelineHourlyData.py:67-70) corresponds to the
    * response's `time` array listing each hour's start — positions align
    * 1:1 with the value arrays.
    */
  def parseResponses(spark: SparkSession, bodies: Seq[String]): DataFrame = {
    import spark.implicits._
    val parsed = spark.createDataset(bodies).toDF("body")
      .select(from_json(col("body"), Schemas.openMeteoResponse).as("r"))
    val vars = Schemas.weatherVariables
    parsed
      .select(col("r.latitude").as("latitude"), col("r.longitude").as("longitude"),
        col("r.hourly").as("hourly"))
      .select(col("latitude"), col("longitude"),
        posexplode(col("hourly.time")).as(Seq("idx", "epoch_s")),
        col("hourly"))
      .select(
        Seq(
          timestamp_seconds(col("epoch_s")).as("date"),
          col("latitude"), col("longitude")) ++
          vars.map(v => element_at(col(s"hourly.`$v`"), col("idx") + 1).as(v)): _*)
      .coalesce(1)
  }
}
