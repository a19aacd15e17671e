package graft.queries

import org.apache.spark.sql.functions._

import graft.operators.{ChiSquare, GlobalShuffle, JsDivergence, Kappa}

/** Round-14 operator batch: seeded global shuffle + shard assignment
  * (the reproducible-ordering stage the sampling family feeds into:
  * deterministic splits → mixture → balance → SHUFFLE+SHARD → write),
  * its bin-packing composition, and three categorical audits —
  * Jensen–Shannon snapshot divergence, Cohen's kappa labeler
  * agreement, chi-squared independence. */
object Round14b extends GateBatch {

  private val Seed = "s14"
  private val NShards = 16
  private val BinCapacity = 512L

  val defs: Map[String, Q] = Map(

    // the full shuffle contract: md5(seed|id) sort key, hash-mod shard,
    // per-shard 1-based position — DuckDB replays the key, the shard
    // and the order byte-for-byte
    "sample_global_shuffle" -> ((s, dir) =>
      GlobalShuffle.shuffle(tbl(s, dir, "documents"), col("doc_id"),
          Seed, NShards)
        .select(col("shard"), col("pos"), col("id").as("doc_id"),
          col("sort_key"))
        .orderBy("shard", "pos")),

    // shuffled doc-granularity bin packing: the shuffle order fed into
    // fixed-capacity bins via a per-shard exclusive token prefix
    "curate_shuffle_pack" -> ((s, dir) =>
      GlobalShuffle.packBins(tbl(s, dir, "documents"), col("doc_id"),
          col("text"), Seed, NShards, BinCapacity)
        .select(col("shard"), col("bin"), col("pos"),
          col("id").as("doc_id"), col("n_tokens"), col("cum_before"))
        .orderBy("shard", "pos")),

    // JSD between the even-doc and odd-doc snapshots' lang mixes —
    // finite even where the supports differ, one row per category
    "audit_js_divergence" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      JsDivergence.audit(
          docs.where(col("doc_id") % 2 === 0),
          docs.where(col("doc_id") % 2 === 1), col("lang"))
        .select(col("category"), col("n_base"), col("n_current"),
          (floor(col("p") * 1e6 + 0.5) / 1e6).as("p"),
          (floor(col("q") * 1e6 + 0.5) / 1e6).as("q"),
          col("js_term"))
        .orderBy("category")
    }),

    // Cohen's kappa between the event label and a synthetic second
    // annotator that relabels low-value events — chance-corrected
    // agreement, exact-integer margins
    "audit_label_kappa" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
        .where(col("event_type").isNotNull && col("value").isNotNull)
      Kappa.cohen(ev, col("event_type"),
        when(col("value") > 50.0, col("event_type"))
          .otherwise(lit("click")))
    }),

    // chi-squared independence screen of the source x lang mix — one
    // row per observed contingency cell
    "audit_chi2_independence" -> ((s, dir) =>
      ChiSquare.independence(tbl(s, dir, "documents"), col("source"),
          col("lang"))
        .orderBy("a", "b")),

    // streaming quantile sketch, batch-twin gated: the per-key
    // bottom-K (md5, value) end state (order-free min-semilattice) read
    // off by the family's deterministic lower-index rule — "p50/p99 per
    // event type over the whole stream" in O(K) state per key
    "stream_quantile" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
        .where(col("event_type").isNotNull && col("value").isNotNull &&
          col("event_id").isNotNull)
      graft.streaming.StreamingQsketch.keyedQuantiles(
          graft.streaming.StreamingQsketch.keyedEndStates(
            ev, "event_type", col("event_id"), "value"),
          QProbs)
        .select(col("key").as("event_type"), col("prob"), col("est_q"))
        .orderBy("event_type", "prob")
    }))

  private val QProbs =
    Seq("p25" -> 0.25, "p50" -> 0.5, "p90" -> 0.9, "p99" -> 0.99)

  val oracles: Map[String, String] = Map(

    "sample_global_shuffle" ->
      s"""WITH h AS (SELECT doc_id,
             md5('$Seed' || '|' || doc_id::VARCHAR) AS sort_key
           FROM documents WHERE doc_id IS NOT NULL),
         s AS (SELECT doc_id, sort_key,
             (CAST(('0x' || substr(sort_key, 1, 8)) AS BIGINT)
               % $NShards)::INT AS shard
           FROM h)
         SELECT shard,
           row_number() OVER (PARTITION BY shard
             ORDER BY sort_key, doc_id)::BIGINT AS pos,
           doc_id, sort_key
         FROM s ORDER BY shard, pos""",

    "curate_shuffle_pack" ->
      s"""WITH h AS (SELECT doc_id,
             CASE WHEN text IS NOT NULL AND length(trim(text)) > 0
               THEN len(regexp_split_to_array(trim(text), '\\s+'))::BIGINT
               ELSE 0 END AS n_tokens,
             md5('$Seed' || '|' || doc_id::VARCHAR) AS sort_key
           FROM documents WHERE doc_id IS NOT NULL),
         s AS (SELECT doc_id, n_tokens, sort_key,
             (CAST(('0x' || substr(sort_key, 1, 8)) AS BIGINT)
               % $NShards)::INT AS shard
           FROM h),
         w AS (SELECT shard, doc_id, n_tokens,
             row_number() OVER (PARTITION BY shard
               ORDER BY sort_key, doc_id)::BIGINT AS pos,
             coalesce(sum(n_tokens) OVER (PARTITION BY shard
               ORDER BY sort_key, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0)::BIGINT AS cum_before
           FROM s)
         SELECT shard, cum_before // $BinCapacity AS bin, pos, doc_id,
           n_tokens, cum_before
         FROM w ORDER BY shard, pos""",

    "audit_js_divergence" ->
      """WITH a AS (SELECT lang AS category, count(*)::BIGINT AS n_base
           FROM documents WHERE doc_id % 2 = 0 AND lang IS NOT NULL
           GROUP BY 1),
         b AS (SELECT lang AS category, count(*)::BIGINT AS n_current
           FROM documents WHERE doc_id % 2 = 1 AND lang IS NOT NULL
           GROUP BY 1),
         u AS (SELECT coalesce(a.category, b.category) AS category,
             coalesce(n_base, 0)::BIGINT AS n_base,
             coalesce(n_current, 0)::BIGINT AS n_current
           FROM a FULL OUTER JOIN b ON a.category = b.category),
         t AS (SELECT sum(n_base)::BIGINT AS na,
             sum(n_current)::BIGINT AS nb FROM u),
         d AS (SELECT category, n_base, n_current,
             n_base::DOUBLE / na AS p, n_current::DOUBLE / nb AS q
           FROM u, t WHERE na > 0 AND nb > 0)
         SELECT category, n_base, n_current,
           floor(p * 1000000 + 0.5) / 1000000 AS p,
           floor(q * 1000000 + 0.5) / 1000000 AS q,
           floor(((CASE WHEN p > 0
               THEN p * ln(p / ((p + q) / 2)) * 0.5 ELSE 0 END) +
             (CASE WHEN q > 0
               THEN q * ln(q / ((p + q) / 2)) * 0.5 ELSE 0 END))
             * 1000000 + 0.5) / 1000000 AS js_term
         FROM d ORDER BY category""",

    "audit_label_kappa" ->
      """WITH lab AS (SELECT event_type AS la,
             CASE WHEN value > 50.0 THEN event_type
                  ELSE 'click' END AS lb
           FROM events
           WHERE event_type IS NOT NULL AND value IS NOT NULL),
         cells AS (SELECT la, lb, count(*)::BIGINT AS o FROM lab
           GROUP BY 1, 2),
         rm AS (SELECT la, sum(o)::BIGINT AS rown FROM cells GROUP BY 1),
         cm AS (SELECT lb, sum(o)::BIGINT AS coln FROM cells GROUP BY 1),
         pe AS (SELECT coalesce(sum(rown::DECIMAL(38,0) *
             coln::DECIMAL(38,0)), 0::DECIMAL(38,0)) AS pe_num
           FROM rm JOIN cm ON rm.la = cm.lb),
         ag AS (SELECT sum(o)::BIGINT AS n,
             sum(CASE WHEN la = lb THEN o ELSE 0 END)::BIGINT AS diag
           FROM cells),
         f AS (SELECT n, diag::DOUBLE / n AS po,
             pe_num::DOUBLE / (n::DOUBLE * n::DOUBLE) AS pe
           FROM ag, pe WHERE n > 0)
         SELECT n, floor(po * 1000000 + 0.5) / 1000000 AS p_o,
           floor(pe * 1000000 + 0.5) / 1000000 AS p_e,
           floor((CASE WHEN pe = 1.0
               THEN (CASE WHEN po = 1.0 THEN 1.0 ELSE 0.0 END)
               ELSE (po - pe) / (1.0 - pe) END)
             * 1000000 + 0.5) / 1000000 AS kappa
         FROM f""",

    "audit_chi2_independence" ->
      """WITH cells AS (SELECT source AS a, lang AS b,
             count(*)::BIGINT AS o
           FROM documents
           WHERE source IS NOT NULL AND lang IS NOT NULL
           GROUP BY 1, 2),
         rm AS (SELECT a, sum(o)::BIGINT AS rown FROM cells GROUP BY 1),
         cm AS (SELECT b, sum(o)::BIGINT AS coln FROM cells GROUP BY 1),
         t AS (SELECT sum(o)::BIGINT AS n FROM cells),
         d AS (SELECT cells.a, cells.b, o,
             rown::DOUBLE * coln::DOUBLE / n AS e
           FROM cells JOIN rm ON cells.a = rm.a
             JOIN cm ON cells.b = cm.b, t)
         SELECT a, b, o, floor(e * 1000000 + 0.5) / 1000000 AS e,
           floor((o::DOUBLE - e) * (o::DOUBLE - e) / e
             * 1000000 + 0.5) / 1000000 AS chi2_term
         FROM d ORDER BY a, b""",

    "stream_quantile" -> {
      val k = graft.streaming.StreamingQsketch.KeyedK
      val labels = QProbs.map(p => s"'${p._1}'").mkString(", ")
      val pvals = QProbs.map(_._2).mkString(", ")
      s"""WITH h AS (SELECT event_type AS key,
             CAST(('0x' || substr(md5(event_id::VARCHAR), 1, 15))
               AS BIGINT) AS h,
             value::DOUBLE AS v
           FROM events
           WHERE event_type IS NOT NULL AND value IS NOT NULL
             AND event_id IS NOT NULL),
         bk AS (SELECT key, h, v FROM (SELECT key, h, v,
             row_number() OVER (PARTITION BY key ORDER BY h, v) AS rn
           FROM (SELECT DISTINCT key, h, v FROM h))
           WHERE rn <= $k),
         r AS (SELECT key, h, v,
             row_number() OVER (PARTITION BY key ORDER BY v, h) AS rn,
             count(*) OVER (PARTITION BY key) AS n
           FROM bk),
         p AS (SELECT unnest([$labels]) AS prob,
             unnest([$pvals]::DOUBLE[]) AS pv)
         SELECT key AS event_type, prob, v AS est_q
         FROM r JOIN p ON r.rn = (floor(pv * (n - 1)) + 1)::BIGINT
         ORDER BY event_type, prob"""
    })
}
