package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries.Registry

/** The engine's entry point (build plan: SURVEY.md §7).
  * The query surface itself lives in graft.queries (one `Q` per operator
  * row of SURVEY §2, each with its DuckDB oracle when SQL-expressible).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The END-TO-END flood forecast pipeline FROM BINARY INPUTS: GRIB2
    * ensemble messages ⋈ the three real GloFAS RP NetCDFs → exceedance
    * flags → grouped exact quantiles → control/peak/tendency/intensity →
    * summary with WKT — the reference's `forecast` asset as one Catalyst
    * plan whose leaves are the byte-level sources (q141).
    */
  def entry(spark: SparkSession): DataFrame =
    Registry.queries("q141_e2e_summary")(spark, "/root/testdata/sf0.001")

  /** One per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    Registry.queries

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys get a rows-only check.
    */
  def oracleSql: Map[String, String] = Registry.oracleSql
}
