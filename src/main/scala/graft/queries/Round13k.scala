package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.Moments

/** Round-13 final batch: distribution-shape audit (grouped skewness /
  * excess kurtosis). */
object Round13k extends GateBatch {

  val defs: Map[String, Q] = Map(

    // per-type shape of the value distribution — one shuffle of five
    // power sums per key; the drift signal mean/stddev can't see
    "agg_moments_grouped" -> ((s, dir) =>
      Moments.shape(tbl(s, dir, "events"), col("event_type"),
        col("value"))
        .select(col("key").as("event_type"), col("n"), col("mean"),
          col("skewness"), col("kurtosis_excess"))
        .orderBy("event_type")))

  val oracles: Map[String, String] = Map(

    "agg_moments_grouped" ->
      """WITH a AS (SELECT event_type, count(*)::BIGINT AS n,
             sum(value::DOUBLE) AS s1,
             sum(value::DOUBLE * value::DOUBLE) AS s2,
             sum(value::DOUBLE * value::DOUBLE * value::DOUBLE) AS s3,
             sum(value::DOUBLE * value::DOUBLE * value::DOUBLE
               * value::DOUBLE) AS s4
           FROM events
           WHERE event_type IS NOT NULL AND value IS NOT NULL
           GROUP BY 1),
         m AS (SELECT event_type, n, s1 / n AS mu,
             s2 / n - (s1 / n) * (s1 / n) AS m2,
             s3 / n - 3 * (s1 / n) * (s2 / n)
               + 2 * (s1 / n) * (s1 / n) * (s1 / n) AS m3,
             s4 / n - 4 * (s1 / n) * (s3 / n)
               + 6 * (s1 / n) * (s1 / n) * (s2 / n)
               - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n) AS m4
           FROM a)
         SELECT event_type, n,
           floor(mu * 10000 + 0.5) / 10000 AS mean,
           CASE WHEN m2 > 0 THEN
             floor(m3 / pow(m2, 1.5) * 10000 + 0.5) / 10000
           ELSE 0.0 END AS skewness,
           CASE WHEN m2 > 0 THEN
             floor((m4 / (m2 * m2) - 3) * 10000 + 0.5) / 10000
           ELSE 0.0 END AS kurtosis_excess
         FROM m ORDER BY event_type"""
  )
}
