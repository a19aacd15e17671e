package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.Labeling

/** Round-15 second batch: the labeling-panel suite around the kappa
  * family — consensus voting, per-rater reliability, and
  * Krippendorff's alpha (panel reliability under VARIABLE rater
  * counts, the real shape of labeling queues that Fleiss'
  * constant-panel design excludes). Panel fixture: order lines as
  * raters (l_linenumber), return flag as the label — orders carry 1–7
  * ratings, so the alpha gate exercises the pairable-unit filter and
  * several rater-count classes at once. */
object Round15b extends GateBatch {

  private def ratings(s: org.apache.spark.sql.SparkSession, dir: String) =
    tbl(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), col("l_returnflag"))

  val defs: Map[String, Q] = Map(

    // majority-vote consensus with the deterministic (votes DESC,
    // label ASC) tie-break — one grouped count + one min-of-struct
    // reduce, no window over the data
    "label_consensus" -> ((s, dir) =>
      Labeling.consensus(ratings(s, dir), col("l_orderkey"),
          col("l_returnflag"))
        .orderBy("item")),

    // per-rater reliability against the panel's own consensus: line
    // number as the rater id — "does position k systematically
    // disagree with the panel"
    "label_rater_accuracy" -> ((s, dir) =>
      Labeling.raterAccuracy(ratings(s, dir), col("l_orderkey"),
          col("l_linenumber"), col("l_returnflag"))
        .orderBy("rater")),

    // Krippendorff's alpha (nominal) over the variable-size panels:
    // singleton orders are excluded as unpairable, the per-unit
    // disagreements accumulate as INTEGERS per rater-count class, and
    // the only float fold is over the handful of classes (m = 2..7),
    // replayed in ascending-m order on both engines
    "audit_krippendorff_alpha" -> ((s, dir) =>
      Labeling.krippendorffAlpha(ratings(s, dir), col("l_orderkey"),
        col("l_returnflag"))))

  val oracles: Map[String, String] = Map(

    "label_consensus" ->
      """WITH r AS (SELECT l_orderkey::VARCHAR AS item,
             l_returnflag AS label FROM lineitem
           WHERE l_orderkey IS NOT NULL AND l_returnflag IS NOT NULL),
         cells AS (SELECT item, label, count(*)::BIGINT AS c
           FROM r GROUP BY item, label),
         tot AS (SELECT item, sum(c)::BIGINT AS total
           FROM cells GROUP BY item),
         win AS (SELECT item, label, c, row_number() OVER
             (PARTITION BY item ORDER BY c DESC, label) AS rn
           FROM cells)
         SELECT w.item, w.label, w.c::BIGINT AS votes, t.total,
           floor(w.c::DOUBLE / t.total * 1000000 + 0.5) / 1000000
             AS confidence,
           w.c = t.total AS unanimous
         FROM win w JOIN tot t USING (item)
         WHERE w.rn = 1 ORDER BY item""",

    "label_rater_accuracy" ->
      """WITH r AS (SELECT l_orderkey::VARCHAR AS item,
             l_linenumber::VARCHAR AS rater, l_returnflag AS label
           FROM lineitem
           WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
             AND l_returnflag IS NOT NULL),
         cells AS (SELECT item, label, count(*)::BIGINT AS c
           FROM r GROUP BY item, label),
         win AS (SELECT item, label AS consensus, row_number() OVER
             (PARTITION BY item ORDER BY c DESC, label) AS rn
           FROM cells)
         SELECT rater, count(*)::BIGINT AS n,
           sum(CASE WHEN r.label = w.consensus THEN 1 ELSE 0 END)::BIGINT
             AS n_match,
           floor(sum(CASE WHEN r.label = w.consensus THEN 1 ELSE 0
               END)::DOUBLE / count(*) * 1000000 + 0.5) / 1000000
             AS accuracy
         FROM r JOIN win w ON r.item = w.item AND w.rn = 1
         GROUP BY rater ORDER BY rater""",

    "audit_krippendorff_alpha" ->
      """WITH r AS (SELECT l_orderkey::VARCHAR AS item,
             l_returnflag AS label FROM lineitem
           WHERE l_orderkey IS NOT NULL AND l_returnflag IS NOT NULL),
         cells AS (SELECT item, label, count(*)::BIGINT AS c
           FROM r GROUP BY item, label),
         units AS (SELECT item, sum(c)::BIGINT AS nu,
             sum(c * c)::BIGINT AS s2
           FROM cells GROUP BY item HAVING sum(c) >= 2),
         classes AS (SELECT nu AS m, count(*)::BIGINT AS units,
             sum((nu * nu - s2)::DECIMAL(38,0)) AS disagree
           FROM units GROUP BY nu),
         cl AS (SELECT list([m::DOUBLE, units::DOUBLE, disagree::DOUBLE]
             ORDER BY m) AS xs FROM classes),
         f AS (SELECT list_reduce(
             [[0.0, 0.0, 0.0]]::DOUBLE[][] || xs,
             (acc, e) -> [acc[1] + e[3] / (e[1] - 1),
               acc[2] + e[1] * e[2], acc[3] + e[2]]::DOUBLE[]) AS st
           FROM cl),
         m2 AS (SELECT coalesce(sum(nc * nc), 0::DECIMAL(38,0))
             AS nc2_sum
           FROM (SELECT sum(c::DECIMAL(38,0)) AS nc
             FROM cells JOIN units USING (item) GROUP BY label)),
         d AS (SELECT st[3]::BIGINT AS n_units, st[2] AS n,
             st[1] / st[2] AS d_o,
             (st[2] * st[2] - nc2_sum::DOUBLE)
               / (st[2] * (st[2] - 1)) AS d_e
           FROM f, m2 WHERE st[3] > 0)
         SELECT n_units, n::BIGINT AS n_ratings,
           floor(d_o * 1000000 + 0.5) / 1000000 AS d_o,
           floor(d_e * 1000000 + 0.5) / 1000000 AS d_e,
           floor(CASE WHEN d_e = 0 THEN (CASE WHEN d_o = 0 THEN 1
               ELSE 0 END)
             ELSE 1 - d_o / d_e END * 1000000 + 0.5) / 1000000 AS alpha
         FROM d""")
}
