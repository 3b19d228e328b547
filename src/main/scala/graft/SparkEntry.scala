package graft

import graft.queries.{NorthStar, Pipelines, ReferenceParity, Relational, SqlSurface, TpchShapes}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the declared operator inventory (one entry per implemented
  * operator from SURVEY.md §2); `oracleSql` carries the DuckDB-equivalent
  * SQL the driver hash-checks each query against at sf=0.01.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The full bulk-load pipeline ([[BulkLoad.fromPositional]]): MD5
    * composite rowkey → region-aligned exchange of wide rows →
    * partition-local row sort → ordered cell explode, cells in KeyValue
    * order with no cell sort (SURVEY.md §7.2). */
  def entry(spark: SparkSession): DataFrame =
    queries("ingest_sorted_cells")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ReferenceParity.defs ++ Relational.defs ++ SqlSurface.defs ++ TpchShapes.defs ++ NorthStar.defs ++ Pipelines.defs

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    ReferenceParity.oracle ++ Relational.oracle ++ SqlSurface.oracle ++ TpchShapes.oracle ++ NorthStar.oracle ++ Pipelines.oracle
}
