package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

package object queries {
  /** A query over a testdata scale-factor directory. */
  type Q = (SparkSession, String) => DataFrame

  /** One batch of gates: each key in `defs` is a gate, and `oracles`
    * holds the DuckDB SQL for the keys that have one. */
  trait GateBatch {
    def defs: Map[String, Q]
    def oracles: Map[String, String]
  }

  def tbl(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Older testdata drops carry events.ts as parquet TIMESTAMP(NANOS),
    // which Spark only reads via the legacy long mapping (ns since
    // epoch as BIGINT); newer drops use TIMESTAMP(MICROS). Normalize
    // both to the BIGINT-ns domain the operators compute in.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    graft.streaming.EventWindows.tsToNs(
      spark.read.parquet(s"$dir/$name.parquet"))
  }

  /** events.ts read under nanosAsLong: BIGINT ns since epoch -> whole
    * seconds, via exact integral division (not double floor). */
  def nsToEpochSec(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    graft.streaming.EventWindows.nsDiv(c, 1000000000L)
}
