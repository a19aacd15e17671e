package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.{Bootstrap, ClassBalance}
import graft.streaming.StreamingHll

/** Round-13 eighth batch: streaming HLL distinct counts (mergeable
  * bounded state, batch-twin gated), the Poisson bootstrap, and
  * class-balanced downsampling. */
object Round13h extends GateBatch {

  /** Bootstrap replicates for both gates. */
  private val B = 32
  private val Alpha = 0.05

  val defs: Map[String, Q] = Map(

    // streaming twin of the grouped HLL sketch: the per-key bounded
    // register state computed order-free as the batch end state and
    // MERGED — identical numbers to the batch sketch, which is what
    // the oracle replays
    "stream_hll" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
        .where(col("event_type").isNotNull && col("user_id").isNotNull)
      StreamingHll.merged(
          StreamingHll.endStates(ev, "event_type", "user_id"))
        .select(col("key").as("event_type"), col("n_events"),
          col("hll_est"))
        .orderBy("event_type")
    }),

    // all-32-replicate Poisson bootstrap means in ONE scan: exact
    // integer Σm and Σm·q per replicate, one IEEE division each
    "agg_bootstrap_means" -> ((s, dir) =>
      Bootstrap.replicateMeans(tbl(s, dir, "lineitem"),
        concat_ws("|", col("l_orderkey"), col("l_linenumber")),
        col("l_quantity"), B)
        .orderBy("rep")),

    // the interval those replicates imply: order statistics of the B
    // means (a B-row sort) + the full-sample point estimate
    "agg_bootstrap_ci" -> ((s, dir) =>
      Bootstrap.ci(tbl(s, dir, "lineitem"),
        concat_ws("|", col("l_orderkey"), col("l_linenumber")),
        col("l_quantity"), B, Alpha)),

    // equalize the language distribution: min-class-count rows per
    // lang, md5-smallest ids, selected on the custom top-k-per-group
    // physical operator (bounded buffers, no per-class window sort)
    "sample_class_balance" -> ((s, dir) =>
      ClassBalance.downsample(tbl(s, dir, "documents"), "lang",
        "doc_id")
        .select("lang", "doc_id")
        .orderBy("lang", "doc_id")))

  /** The bootstrap multiplicity as DuckDB SQL over a 60-bit hash `u`
    * — generated from the SAME integer thresholds the operator
    * compares against. */
  private def multSql(u: String): String =
    Bootstrap.Thresholds
      .map(t => s"(CASE WHEN $u >= $t THEN 1 ELSE 0 END)")
      .mkString(" + ")

  private def repMeansCtes: String =
    s"""li AS (SELECT l_orderkey::VARCHAR || '|' ||
           l_linenumber::VARCHAR AS seed, l_quantity::BIGINT AS q
         FROM lineitem
         WHERE l_orderkey IS NOT NULL AND l_linenumber IS NOT NULL
           AND l_quantity IS NOT NULL),
       reps AS (SELECT unnest(generate_series(0, ${B - 1})) AS rep),
       u AS (SELECT rep, q,
           CAST(('0x' || substr(md5(seed || '|' || rep::VARCHAR),
             1, 15)) AS BIGINT) AS u
         FROM li CROSS JOIN reps),
       mm AS (SELECT rep, q, ${multSql("u")} AS m FROM u),
       rmeans AS (SELECT rep::BIGINT AS rep, sum(m)::BIGINT AS n_eff,
           CASE WHEN sum(m) > 0
             THEN (sum(m * q)::DOUBLE / sum(m)::DOUBLE)
             ELSE 0.0 END AS mean
         FROM mm GROUP BY rep)"""

  val oracles: Map[String, String] = Map(

    "stream_hll" -> {
      import StreamingHll.{P, WBits}
      val m = 1 << P
      val mask = (1L << WBits) - 1
      val alpha = 0.7213 / (1.0 + 1.079 / m)
      val numer = alpha * m * m * math.pow(2.0, WBits + 1)
      s"""WITH h AS (SELECT event_type,
             CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
               AS BIGINT) AS hash
           FROM events
           WHERE event_type IS NOT NULL AND user_id IS NOT NULL),
         reg AS (SELECT event_type, hash >> $WBits AS bucket,
             max(CASE WHEN (hash & $mask) = 0 THEN ${WBits + 1}
                 ELSE ${WBits + 1} - length(bin(hash & $mask))::INT
                 END) AS m_reg
           FROM h GROUP BY 1, 2),
         s AS (SELECT event_type,
             sum(1::BIGINT << (${WBits + 1} - m_reg))::BIGINT AS zp,
             count(*)::BIGINT AS nonempty FROM reg GROUP BY 1),
         z AS (SELECT event_type, ($m - nonempty) AS v,
             zp + ($m - nonempty) * (1::BIGINT << ${WBits + 1}) AS z
           FROM s),
         n AS (SELECT event_type, count(*)::BIGINT AS n_events
           FROM h GROUP BY 1)
         SELECT event_type, n_events,
           round(CASE WHEN $numer / z.z <= ${2.5 * m} AND v > 0
               THEN ${m.toDouble} * ln(${m.toDouble} / v)
               ELSE $numer / z.z END, 4) AS hll_est
         FROM z JOIN n USING (event_type) ORDER BY event_type"""
    },

    "agg_bootstrap_means" ->
      s"""WITH $repMeansCtes
         SELECT rep, n_eff, mean FROM rmeans ORDER BY rep""",

    "agg_bootstrap_ci" -> {
      val loIdx = math.max(1, math.ceil(Alpha * B).toInt)
      val hiIdx = math.ceil((1.0 - Alpha) * B).toInt
      s"""WITH $repMeansCtes,
         sel AS (SELECT mean, row_number() OVER (ORDER BY mean) AS r
           FROM rmeans)
         SELECT ${B}::BIGINT AS b,
           (SELECT sum(q)::DOUBLE / count(*)::DOUBLE FROM li) AS point,
           (SELECT mean FROM sel WHERE r = $loIdx) AS ci_lo,
           (SELECT mean FROM sel WHERE r = $hiIdx) AS ci_hi"""
    },

    "sample_class_balance" ->
      """WITH d AS (SELECT doc_id, lang,
             CAST(('0x' || substr(md5(doc_id::VARCHAR), 1, 15))
               AS BIGINT) AS h
           FROM documents
           WHERE lang IS NOT NULL AND doc_id IS NOT NULL),
         m AS (SELECT min(c) AS mc FROM
           (SELECT count(*) AS c FROM d GROUP BY lang)),
         r AS (SELECT lang, doc_id, row_number() OVER
             (PARTITION BY lang ORDER BY h, doc_id) AS rn
           FROM d)
         SELECT lang, doc_id FROM r, m WHERE rn <= mc
         ORDER BY lang, doc_id""")
}
