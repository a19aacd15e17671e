package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("pipeline_price_update")(spark, "/root/testdata/sf0.001")

  /** Every gate batch, in merge order. */
  private def batches: Seq[GateBatch] =
    Seq(Relational, Relational2, Extensions, Pipelines, Round7, Analytics7,
      Round9, Round10, Round11, Round11b, Round12, Round12b, Round12c,
      Round12d, Round13, Round13b, Round13c, Round13d, Round13e, Round13f,
      Round13g, Round13h, Round13i, Round13j, Round13k, Round14, Round14b,
      Round14c, Round15, Round15b, Round15c, Round15d, Round16, Round16b,
      Round16c, Round16d, Round16e, Round16f, Round16g, Round16h, Round17,
      Round18)

  /** A duplicate key across batch files would SILENTLY shadow the
    * earlier gate under `++` (found the hard way in round 16: a second
    * `scalar_currency_pen` replaced the round-11 one) — merge with an
    * explicit uniqueness check instead. */
  private def merged[V](maps: Seq[Map[String, V]], what: String)
      : Map[String, V] = {
    val all = maps.flatMap(_.keys)
    val dups = all.groupBy(identity).collect {
      case (k, vs) if vs.size > 1 => k
    }
    require(dups.isEmpty, s"duplicate $what keys across batches: $dups")
    maps.reduce(_ ++ _)
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    merged(batches.map(_.defs), "queries")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = merged(batches.map(_.oracles), "oracleSql")
}
