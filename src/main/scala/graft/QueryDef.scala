package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One verifiable unit of engine surface: a Spark query over the driver's
  * synthetic tables plus (when SQL-expressible) a DuckDB oracle producing the
  * same rows, columns and values. Column names must match exactly — the
  * driver sorts columns by name before hashing.
  */
final case class QueryDef(
    name: String,
    fn: (SparkSession, String) => DataFrame,
    oracle: Option[String]
)

object QueryDef {
  def apply(name: String, oracle: String)(
      fn: (SparkSession, String) => DataFrame): QueryDef =
    QueryDef(name, fn, Some(oracle))
}
