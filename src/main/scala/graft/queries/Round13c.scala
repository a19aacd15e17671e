package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{Gini, KsDrift, RankNormalize}

/** Round-13 third batch: the rest of the laned family on the grouped
  * prefix — per-segment KS drift and per-group percent-rank — plus the
  * exact Lorenz-curve report the Gini coefficient summarizes. */
object Round13c extends GateBatch {

  /** Drift snapshot boundary: ships before 1998 vs 1998-and-later
    * (the corpus median lands mid-1998, so both periods are populated
    * in every returnflag segment). */
  private val KsCutoff = "1998-01-01"

  /** Lorenz report resolution: deciles. */
  private val LorenzPoints = 10

  val defs: Map[String, Q] = Map(

    // per-returnflag two-sample KS between the ship periods: "did THIS
    // segment's price distribution drift", the drill-down the pooled
    // audit_drift_ks averages away
    "audit_drift_ks_grouped" -> ((s, dir) => {
      val li = tbl(s, dir, "lineitem")
        .where(col("l_returnflag").isNotNull &&
          col("l_extendedprice").isNotNull)
      KsDrift.ksGrouped(
        li.where(col("l_shipdate") < lit(KsCutoff).cast("timestamp")),
        li.where(col("l_shipdate") >= lit(KsCutoff).cast("timestamp")),
        col("l_returnflag"), "l_extendedprice")
        .orderBy("g")
    }),

    // per-group percent-rank normalization ("normalize within
    // segment", where one segment can itself be 100 TB): identical tie
    // and (n-1) semantics to the partitioned window the oracle runs,
    // but no task ever sees more than a (group, lane) slice
    "scalar_rank_pct_grouped" -> ((s, dir) =>
      RankNormalize.grouped(
        tbl(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_linenumber"),
            col("l_returnflag"), col("l_extendedprice")),
        col("l_returnflag"), "l_extendedprice")
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_returnflag"),
          (floor(col("rank_pct") * 1e6 + 0.5) / 1e6).as("rank_pct"))
        .orderBy("l_orderkey", "l_linenumber")),

    // exact spend-concentration curve: at each decile p, the share of
    // total spend held by the bottom ceil(p*n) line items — integer
    // target ranks, integer tie-block interpolation, one division per
    // point; the agg_gini statistic is this curve's area summarized
    "agg_lorenz" -> ((s, dir) =>
      Gini.lorenz(
        tbl(s, dir, "lineitem").where(col("l_extendedprice").isNotNull),
        floor(col("l_extendedprice") * 100 + 0.5), LorenzPoints)))

  val oracles: Map[String, String] = Map(

    "audit_drift_ks_grouped" ->
      s"""WITH src AS (SELECT l_returnflag AS g,
             l_extendedprice::DOUBLE AS v,
             l_shipdate < TIMESTAMP '$KsCutoff' AS is_base
           FROM lineitem
           WHERE l_returnflag IS NOT NULL
             AND l_extendedprice IS NOT NULL),
         vals AS (SELECT g, v,
             sum(CASE WHEN is_base THEN 1 ELSE 0 END)::BIGINT AS ca,
             sum(CASE WHEN is_base THEN 0 ELSE 1 END)::BIGINT AS cb
           FROM src GROUP BY 1, 2),
         cum AS (SELECT g,
             sum(ca) OVER (PARTITION BY g ORDER BY v)::DOUBLE AS cuma,
             sum(cb) OVER (PARTITION BY g ORDER BY v)::DOUBLE AS cumb
           FROM vals),
         t AS (SELECT g, sum(ca)::BIGINT AS na, sum(cb)::BIGINT AS nb
           FROM vals GROUP BY g)
         SELECT c.g,
           floor(max(abs(cuma / na - cumb / nb)) * 1000000 + 0.5)
             / 1000000 AS ks_stat,
           na AS n_base, nb AS n_current
         FROM cum c JOIN t ON c.g = t.g
         WHERE na > 0 AND nb > 0
         GROUP BY c.g, na, nb ORDER BY c.g""",

    "scalar_rank_pct_grouped" ->
      """SELECT l_orderkey, l_linenumber, l_returnflag,
           floor(percent_rank() OVER (PARTITION BY l_returnflag
             ORDER BY l_extendedprice) * 1000000 + 0.5) / 1000000
             AS rank_pct
         FROM lineitem
         WHERE l_extendedprice IS NOT NULL AND l_returnflag IS NOT NULL
         ORDER BY l_orderkey, l_linenumber""",

    "agg_lorenz" ->
      s"""WITH cents AS (SELECT
             floor(l_extendedprice * 100 + 0.5)::BIGINT AS v
           FROM lineitem WHERE l_extendedprice IS NOT NULL),
         vals AS (SELECT v, count(*)::BIGINT AS c FROM cents GROUP BY 1),
         cum AS (SELECT v, c,
             coalesce(sum(c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0)::BIGINT AS p0,
             coalesce(sum(v * c) OVER (ORDER BY v
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0)::HUGEINT AS s0
           FROM vals),
         t AS (SELECT sum(c)::BIGINT AS n, sum(v * c)::HUGEINT AS tt
           FROM vals),
         targets AS (SELECT d, n, tt,
             (d * n + ${LorenzPoints - 1}) // $LorenzPoints AS r
           FROM generate_series(1, $LorenzPoints) AS g(d), t
           WHERE n > 0 AND tt > 0)
         SELECT d / $LorenzPoints.0 AS p, r::BIGINT AS r,
           floor((s0 + v * (r - p0))::DOUBLE / tt::DOUBLE
             * 1000000 + 0.5) / 1000000 AS cum_share
         FROM cum JOIN targets ON p0 < r AND r <= p0 + c
         ORDER BY p""")
}
