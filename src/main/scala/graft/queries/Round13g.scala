package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.Cusum
import graft.graph.NeighborJaccard

/** Round-13 seventh batch: CUSUM changepoint monitoring on event
  * volumes and neighbor-set Jaccard link scoring on the near-dup
  * graph. */
object Round13g extends GateBatch {

  private def dailyEvents(s: org.apache.spark.sql.SparkSession,
                          dir: String) =
    tbl(s, dir, "events")
      .select(col("event_type"),
        nsToEpochSec(col("ts")).cast("long").as("sec"))
      .where(col("event_type").isNotNull && col("sec").isNotNull)
      .withColumn("day", expr("sec div 86400"))

  val defs: Map[String, Q] = Map(

    // standardized count-CUSUM per event type over days — every
    // floating-point input derives from exact integer moments, so the
    // series replays bit-identically on any engine
    "window_cusum" -> ((s, dir) =>
      Cusum.series(dailyEvents(s, dir), col("event_type"), col("day"))
        .select(col("key").as("event_type"), col("t").as("day"),
          col("c"), col("cusum"))
        .orderBy("event_type", "day")),

    // the changepoint candidate: argmax |cusum| per key, earliest day
    // on ties
    "window_cusum_peak" -> ((s, dir) =>
      Cusum.changepoint(dailyEvents(s, dir), col("event_type"),
        col("day"))
        .select(col("key").as("event_type"), col("n_periods"),
          col("cp_t").as("cp_day"), col("cp_cusum"))
        .orderBy("event_type")),

    // shared-neighbor Jaccard on the near-dup pair graph — the wedge
    // join supplies the intersection, degrees supply the union via
    // inclusion-exclusion; never builds per-node neighbor sets
    "graph_jaccard" -> ((s, dir) => {
      // shared near-dup pair graph (Extensions.neardupPairsFor) — the
      // same checkpointed frame dedup_components consumes; referenced
      // 3x here (degrees + both wedge legs)
      val e = Extensions.neardupPairsFor(s, dir)
        .select(col("id_a").as("a"), col("id_b").as("b"))
      NeighborJaccard.pairs(e, "a", "b")
        .orderBy("id_a", "id_b")
    }))

  val oracles: Map[String, String] = Map(

    "window_cusum" ->
      """WITH ev AS (SELECT event_type AS key,
             epoch_ns(ts) // 1000000000 // 86400 AS t
           FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL),
         daily AS (SELECT key, t, count(*)::BIGINT AS c
           FROM ev GROUP BY 1, 2),
         stats AS (SELECT key, count(*)::BIGINT AS n,
             sum(c)::BIGINT AS s, sum(c * c)::BIGINT AS s2
           FROM daily GROUP BY 1),
         ser AS (SELECT d.key, d.t, d.c,
             sum(c) OVER (PARTITION BY d.key ORDER BY d.t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               ::BIGINT AS st,
             row_number() OVER (PARTITION BY d.key ORDER BY d.t) AS i,
             s::DOUBLE / n::DOUBLE AS mu,
             sqrt((s2::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE)
               / n::DOUBLE) AS sigma
           FROM daily d JOIN stats USING (key))
         SELECT key AS event_type, t AS day, c,
           CASE WHEN sigma > 0 THEN
             floor((st::DOUBLE - i::DOUBLE * mu) / sigma
               * 1000000 + 0.5) / 1000000
           ELSE 0.0 END AS cusum
         FROM ser ORDER BY event_type, day""",

    "window_cusum_peak" ->
      """WITH ev AS (SELECT event_type AS key,
             epoch_ns(ts) // 1000000000 // 86400 AS t
           FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL),
         daily AS (SELECT key, t, count(*)::BIGINT AS c
           FROM ev GROUP BY 1, 2),
         stats AS (SELECT key, count(*)::BIGINT AS n,
             sum(c)::BIGINT AS s, sum(c * c)::BIGINT AS s2
           FROM daily GROUP BY 1),
         ser AS (SELECT d.key, d.t, d.c,
             sum(c) OVER (PARTITION BY d.key ORDER BY d.t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               ::BIGINT AS st,
             row_number() OVER (PARTITION BY d.key ORDER BY d.t) AS i,
             n, s::DOUBLE / n::DOUBLE AS mu,
             sqrt((s2::DOUBLE - s::DOUBLE * s::DOUBLE / n::DOUBLE)
               / n::DOUBLE) AS sigma
           FROM daily d JOIN stats USING (key)),
         cs AS (SELECT key, t, n,
             CASE WHEN sigma > 0 THEN
               floor((st::DOUBLE - i::DOUBLE * mu) / sigma
                 * 1000000 + 0.5) / 1000000
             ELSE 0.0 END AS cusum
           FROM ser),
         best AS (SELECT key, t, n, cusum, row_number() OVER
             (PARTITION BY key ORDER BY abs(cusum) DESC, t ASC) AS r
           FROM cs)
         SELECT key AS event_type, n AS n_periods, t AS cp_day,
           cusum AS cp_cusum
         FROM best WHERE r = 1 ORDER BY event_type""",

    "graph_jaccard" ->
      """WITH sets AS (SELECT doc_id,
             list_distinct(regexp_split_to_array(trim(text), '\s+')) AS s
           FROM documents),
         e AS (
           SELECT a.doc_id AS a, b.doc_id AS b
           FROM sets a JOIN sets b
             ON b.doc_id > a.doc_id AND b.doc_id <= a.doc_id + 25
           WHERE len(list_intersect(a.s, b.s))::DOUBLE
               / len(list_distinct(a.s || b.s)) >= 0.8),
         und AS (SELECT a AS u, b AS v FROM e
           UNION SELECT b, a FROM e),
         deg AS (SELECT u AS node, count(*)::BIGINT AS deg
           FROM und GROUP BY 1),
         wed AS (SELECT l.v AS a, r.v AS b, count(*)::BIGINT AS common
           FROM und l JOIN und r ON l.u = r.u AND l.v < r.v
           GROUP BY 1, 2)
         SELECT a AS id_a, b AS id_b, common,
           floor(common::DOUBLE /
             (da.deg + db.deg - common)::DOUBLE * 1000000 + 0.5)
             / 1000000 AS jaccard
         FROM wed JOIN deg da ON da.node = a
           JOIN deg db ON db.node = b
         ORDER BY id_a, id_b""")
}
