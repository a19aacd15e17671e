package graft.queries

import org.apache.spark.sql.functions._
import graft.graph.KCore
import graft.operators.{Benford, Holt}

/** Round-13 ninth batch: k-core density filtering, the Benford
  * first-digit audit, and Holt double-exponential forecasting. */
object Round13i extends GateBatch {

  private val K = 3
  private val Rounds = 3

  private def dailyEvents(s: org.apache.spark.sql.SparkSession,
                          dir: String) =
    tbl(s, dir, "events")
      .select(col("event_type"),
        nsToEpochSec(col("ts")).cast("long").as("sec"))
      .where(col("event_type").isNotNull && col("sec").isNotNull)
      .withColumn("day", expr("sec div 86400"))

  val defs: Map[String, Q] = Map(

    // 3-round k=3 core peel of the customer-supplier trade graph: per
    // round one degree count + two semi-joins, lineage truncated
    "graph_kcore" -> ((s, dir) => {
      // shared trade multigraph (Extensions.tradeEdgesFor)
      val edges = Extensions.tradeEdgesFor(s, dir)
        .select((col("cust") * 2).as("a"), (col("supp") * 2 + 1).as("b"))
      KCore.peel(edges, "a", "b", K, Rounds).orderBy("node")
    }),

    // first-significant-digit distribution of line amounts vs
    // Benford's law — integer-cents digit extraction, no log10(x)
    // power-of-ten knife edge
    "audit_benford" -> ((s, dir) =>
      Benford.firstDigit(tbl(s, dir, "lineitem"),
        col("l_extendedprice"))
        .orderBy("digit")),

    // Holt level+trend forecast of daily volumes per type — the
    // sequential fold runs over the bounded per-key PERIOD array via
    // one aggregate() HOF; exact-integer inputs + binary-exact alpha,
    // beta make the IEEE sequence engine-identical
    "window_holt" -> ((s, dir) =>
      Holt.linear(dailyEvents(s, dir), col("event_type"), col("day"))
        .select(col("key").as("event_type"), col("n_periods"),
          col("level"), col("trend"), col("forecast"))
        .orderBy("event_type")))

  private def kcoreOracleSql(k: Int, rounds: Int): String = {
    val steps = (1 to rounds).map { r =>
      s"""keep$r AS (SELECT u FROM (SELECT u, count(*) AS c
             FROM u${r - 1} GROUP BY 1) WHERE c >= $k),
         u$r AS (SELECT e.u, e.v FROM u${r - 1} e
           JOIN keep$r a ON e.u = a.u
           JOIN keep$r b ON e.v = b.u)"""
    }.mkString(",\n         ")
    s"""WITH e0 AS (SELECT DISTINCT o_custkey * 2 AS u,
           l_suppkey * 2 + 1 AS v
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       u0 AS (SELECT u, v FROM e0 UNION SELECT v, u FROM e0),
       $steps
       SELECT u AS node, count(*)::BIGINT AS degree
       FROM u$rounds GROUP BY 1 ORDER BY node"""
  }

  val oracles: Map[String, String] = Map(

    "graph_kcore" -> kcoreOracleSql(K, Rounds),

    "audit_benford" ->
      """WITH v AS (SELECT
             floor(l_extendedprice::DOUBLE * 100 + 0.5)::BIGINT AS cents
           FROM lineitem
           WHERE l_extendedprice IS NOT NULL
             AND l_extendedprice::DOUBLE > 0
             AND floor(l_extendedprice::DOUBLE * 100 + 0.5) >= 1),
         c AS (SELECT substr(cents::VARCHAR, 1, 1)::INT AS digit,
             count(*)::BIGINT AS n
           FROM v GROUP BY 1),
         t AS (SELECT sum(n)::BIGINT AS tt FROM c)
         SELECT digit, n,
           floor(n::DOUBLE / tt::DOUBLE * 1000000 + 0.5) / 1000000
             AS share,
           floor(log10(1.0 + 1.0 / digit) * 1000000 + 0.5) / 1000000
             AS expected,
           floor((n::DOUBLE / tt::DOUBLE -
             floor(log10(1.0 + 1.0 / digit) * 1000000 + 0.5) / 1000000)
             * 1000000 + 0.5) / 1000000 AS dev
         FROM c, t ORDER BY digit""",

    "window_holt" -> {
      import Holt.{Alpha, Beta}
      val a = Alpha
      val na = 1 - Alpha
      val nb = 1 - Beta
      s"""WITH ev AS (SELECT event_type AS key,
             epoch_ns(ts) // 1000000000 // 86400 AS t
           FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL),
         daily AS (SELECT key, t, count(*)::DOUBLE AS x
           FROM ev GROUP BY 1, 2),
         ser AS (SELECT key, count(*)::BIGINT AS n_periods,
             list(x ORDER BY t)::DOUBLE[] AS xs
           FROM daily GROUP BY 1),
         f AS (SELECT key, n_periods,
             list_reduce(
               [[0.0, 0.0, 0.0]]::DOUBLE[][] ||
                 list_transform(xs, x -> [x, 0.0, 0.0]::DOUBLE[]),
               (acc, e) -> CASE WHEN acc[3] = 0.0
                 THEN [e[1], 0.0, 1.0]::DOUBLE[]
                 ELSE [$a * e[1] + $na * (acc[1] + acc[2]),
                   $Beta * (($a * e[1] + $na * (acc[1] + acc[2]))
                     - acc[1]) + $nb * acc[2],
                   acc[3] + 1.0]::DOUBLE[] END) AS st
           FROM ser)
         SELECT key AS event_type, n_periods,
           floor(st[1] * 1000000 + 0.5) / 1000000 AS level,
           floor(st[2] * 1000000 + 0.5) / 1000000 AS trend,
           floor((st[1] + st[2]) * 1000000 + 0.5) / 1000000 AS forecast
         FROM f ORDER BY event_type"""
    })
}
