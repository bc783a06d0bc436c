package graft.pipelines

import graft.core.Naming
import graft.operators.EtlOps
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** EIA-930 hourly electricity pipeline (EIA930PipelineHourlyData.py) as one
  * lazy Spark dataflow: three endpoint datasets -> shared cleaner -> three
  * aggregates -> snake-cased outputs named after their sink tables.
  *
  * Deterministic by construction: the cutoff timestamp is a parameter (the
  * reference computes `now - 2 days` inside the transform, :98), and the
  * positional `iloc` trim (:102) is the relational half-open filter
  * `date < cutoff` (SURVEY.md §7 "hard parts").
  *
  * Sink order. The reference sorts each aggregate before appending it to a
  * Postgres heap table, which keeps no row order (loadTask, :277-284). A
  * global `orderBy` in front of a parquet partition write buys nothing
  * relationally and costs a range exchange, a sampling job and a second
  * read of the aggregate's shuffle. So the aggregates here (and
  * `OpenMeteoPipeline`'s) sort only WITHIN partitions, on the reference's
  * keys: no exchange is added, every written file holds its rows in key
  * order, and the clustering keeps parquet row groups run-length friendly.
  * The apps' sources are the pages' rows, decoded on the driver into one
  * partition (`EnvelopeJson.parsePages`), so each aggregate plans no
  * exchange either and each table lands ONE file per run date, in key
  * order. A partitioned input keeps its parallelism: one hash exchange per
  * aggregate, each file still in key order. A reader that needs a total
  * order across files says so with its own `orderBy`.
  */
object Eia930Pipeline {

  /** The shared cleaner (:96-108): rename period->date, lossy-parse, cutoff,
    * then semi-join against balancing authorities on `respondent` —
    * or `fromba` for the interchange dataset (:105), the reference's only
    * dynamic-schema dispatch.
    */
  def clean(pages: DataFrame, baRef: DataFrame, cutoff: java.sql.Timestamp): DataFrame = {
    val renamed = pages.withColumnRenamed("period", "date")
      .withColumn("date", try_to_timestamp(col("date"), lit("yyyy-MM-dd'T'HH")))
      .filter(col("date") < lit(cutoff))
    val key = if (renamed.columns.contains("respondent")) "respondent" else "fromba"
    EtlOps.semiJoinFilter(baRef.select(col("`BA Code`").as("__ba")), key, "__ba")(renamed)
  }

  /** A1 (:111-118): hourly net generation by energy source, sorted within
    * partitions by (date, fueltype). The coalesce matches pandas
    * groupby-sum over an all-NaN group (= 0.0, skipna); Spark's sum would
    * return null there.
    */
  def hourlyNetGenerationByEnergySource(cleaned: DataFrame): DataFrame =
    cleaned
      .withColumn("value", expr("try_cast(value AS DOUBLE)"))
      .groupBy(col("date"), col("fueltype"))
      .agg(coalesce(sum(col("value")), lit(0.0)).as("value"))
      .sortWithinPartitions(col("date"), col("fueltype"))

  /** The reference's `pivot_table(columns='type', aggfunc='sum')` over
    * D/DF/NG/TI as one aggregate: one sum per type of the values whose
    * `type` is that type. A NULL or unlisted type adds to no column, and a
    * type a group lacks is NULL, as in pandas. Spark's `pivot` plans the
    * same result as two aggregates (PivotFirst), with two hash exchanges
    * over partitioned input; this is one aggregate and at most one exchange.
    */
  private def sumsByType(cleaned: DataFrame, keys: String*): DataFrame = {
    val sums = pivotTypes.map(t => sum(when(col("type") === t, col("value"))).as(t))
    cleaned
      .withColumn("value", expr("try_cast(value AS DOUBLE)"))
      .groupBy(keys.map(col): _*)
      .agg(sums.head, sums.tail: _*)
  }

  private val pivotTypes = Seq("D", "DF", "NG", "TI")

  /** A2 (:121-131): per-respondent pivot over type D/DF/NG/TI, incomplete
    * rows dropped (pandas pivot_table + dropna), sorted within partitions by
    * (date, respondent).
    */
  def hourlyRespondentsProducingAndGenerating(cleaned: DataFrame): DataFrame =
    sumsByType(cleaned, "date", "respondent", "respondent-name")
      .na.drop(pivotTypes)
      .sortWithinPartitions(col("date"), col("respondent"))

  /** A3 (:134-142): same pivot keyed by date only, incomplete rows kept,
    * sorted within partitions by date.
    */
  def hourlyStatsByResponseType(cleaned: DataFrame): DataFrame =
    sumsByType(cleaned, "date").sortWithinPartitions(col("date"))

  /** Full transform stage: 8 snake-cased output frames keyed by sink table
    * (loadTask mapping, :277-284).
    */
  def transform(
      fuelTypePages: DataFrame,
      regionPages: DataFrame,
      interchangePages: DataFrame,
      balancingAuthorities: DataFrame,
      energySources: DataFrame,
      cutoff: java.sql.Timestamp): Map[String, DataFrame] = {
    val fuel = clean(fuelTypePages, balancingAuthorities, cutoff)
    val region = clean(regionPages, balancingAuthorities, cutoff)
    val interchange = clean(interchangePages, balancingAuthorities, cutoff)
    // Cleaned frames are typed to their sink schemas (value FLOAT) — the
    // reference ships raw strings and lets Postgres coerce at INSERT.
    def typed(df: DataFrame): DataFrame =
      df.withColumn("value", expr("try_cast(value AS DOUBLE)"))
    Map(
      "eia930_balancing_authorities" -> balancingAuthorities,
      "eia930_energy_sources" -> energySources,
      "eia930_cleaned_hourly_net_generation" -> typed(fuel),
      "eia930_cleaned_hourly_demand_interchange_generation" -> typed(region),
      "eia930_cleaned_hourly_interchange_by_neighboring_ba" -> typed(interchange),
      "eia930_hourly_net_generation_by_energy_source" ->
        hourlyNetGenerationByEnergySource(fuel),
      "eia930_hourly_respondents_producing_and_generating" ->
        hourlyRespondentsProducingAndGenerating(region),
      "eia930_hourly_statistics_by_response_type" ->
        hourlyStatsByResponseType(region)
    ).map { case (k, v) => k -> Naming.snakeCaseColumns(v) }
  }
}
