package graft.queries

import org.apache.spark.sql.functions._
import graft.operators.MixtureKl
import graft.textanalysis.{Chunker, UnigramLm}

/** Round-13 fourth batch: training-data prep operators — RAG chunking
  * with overlap, the corpus-mixture KL audit, and unigram-LM quality
  * scoring. */
object Round13d extends GateBatch {

  /** Chunking fixture: 40-token windows, 8-token overlap (stride 32). */
  private val ChunkSize = 40
  private val ChunkOverlap = 8

  /** The mixing recipe the audit gate compares the documents corpus
    * against; BOTH the Spark query and the oracle derive from this
    * constant. */
  private[queries] val MixTarget: Seq[(String, Double)] = Seq(
    "de" -> 0.15, "en" -> 0.40, "es" -> 0.15, "fr" -> 0.15,
    "zh" -> 0.15)

  val defs: Map[String, Q] = Map(

    // fixed-size token chunks with overlap — the context-window prep
    // step; integer boundary arithmetic, one explode, no UDF
    "text_chunk_overlap" -> ((s, dir) =>
      Chunker.chunk(tbl(s, dir, "documents"), "doc_id", "text",
        ChunkSize, ChunkOverlap)
        .orderBy("doc_id", "chunk_id")),

    // per-source share vs the target recipe + KL contribution — the
    // "is the mix drifting from the spec" audit before a retrain
    "audit_mixture_kl" -> ((s, dir) =>
      MixtureKl.audit(tbl(s, dir, "documents"), col("lang"),
        MixTarget.toMap)
        .orderBy("source")),

    // add-1 unigram LM mean token log-probability per document — the
    // cheap "is this doc's vocabulary unusual for the corpus" quality
    // cut; ln runs per DISTINCT token, not per occurrence
    "text_unigram_logprob" -> ((s, dir) =>
      UnigramLm.scoreDocs(tbl(s, dir, "documents"), "doc_id", "text")
        .orderBy("doc_id")),

    // streaming twin of agg_decayed_counts: the per-key 3-long decay
    // state (dyadic weights — decay is one exact right shift),
    // computed as the order-free batch end state per key and MERGED to
    // the global reference day; identical numbers to the batch gate's
    // global-ref formula, which is what the oracle recomputes
    "stream_decayed_counts" -> ((s, dir) => {
      val ev = tbl(s, dir, "events")
        .select(col("event_type"),
          nsToEpochSec(col("ts")).cast("long").as("sec"))
        .where(col("event_type").isNotNull && col("sec").isNotNull)
        .withColumn("day", expr("sec div 86400"))
      graft.streaming.StreamingDecay.merged(
        graft.streaming.StreamingDecay.endStates(ev, "event_type", "day"))
        .select(col("key").as("event_type"), col("n_events"),
          col("decayed_count"))
        .orderBy("event_type")
    }))

  private def recipeValues: String =
    MixTarget.map { case (s, w) => s"('$s', $w)" }.mkString(", ")

  val oracles: Map[String, String] = Map(

    "text_chunk_overlap" -> {
      val stride = ChunkSize - ChunkOverlap
      s"""WITH d AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\\s+') AS arr
           FROM documents
           WHERE text IS NOT NULL AND length(trim(text)) > 0),
         m AS (SELECT doc_id, arr, len(arr) AS n,
             CASE WHEN len(arr) <= $ChunkSize THEN 0
               ELSE (len(arr) - $ChunkSize + ${stride - 1}) // $stride
             END AS kmax
           FROM d),
         ks AS (SELECT doc_id, arr, n,
             unnest(generate_series(0, kmax)) AS k
           FROM m),
         ch AS (SELECT doc_id, k AS chunk_id,
             arr[(k * $stride + 1):least(k * $stride + $ChunkSize, n)]
               AS ct
           FROM ks)
         SELECT doc_id, chunk_id::BIGINT AS chunk_id,
           len(ct)::BIGINT AS n_chunk_tokens,
           array_to_string(ct, ' ') AS chunk_text
         FROM ch ORDER BY doc_id, chunk_id"""
    },

    "audit_mixture_kl" ->
      s"""WITH counts AS (SELECT lang AS source, count(*)::BIGINT AS n
           FROM documents WHERE lang IS NOT NULL GROUP BY 1),
         tot AS (SELECT sum(n)::BIGINT AS t FROM counts),
         recipe AS (SELECT * FROM (VALUES $recipeValues)
           AS r(source, tw))
         SELECT c.source, n, n::DOUBLE / t::DOUBLE AS share,
           r.tw::DOUBLE AS target_w,
           floor((n::DOUBLE / t::DOUBLE) *
             ln((n::DOUBLE / t::DOUBLE) / r.tw::DOUBLE)
             * 1000000 + 0.5) / 1000000 AS kl_term
         FROM counts c LEFT JOIN recipe r USING (source), tot
         ORDER BY source""",

    // the batch gate's oracle verbatim (per-type counts + dyadic sums
    // at the GLOBAL reference day) — the lane-merged streaming state
    // must land on exactly these numbers
    "stream_decayed_counts" ->
      s"""WITH ev AS (SELECT event_type,
             epoch_ns(ts) // 1000000000 // 86400 AS day
           FROM events
           WHERE event_type IS NOT NULL AND ts IS NOT NULL),
         ref AS (SELECT max(day) AS ref_day FROM ev),
         wtd AS (SELECT event_type,
             CASE WHEN ref_day - day <= ${graft.streaming.StreamingDecay.CapDays}
               THEN (1::BIGINT << (${graft.streaming.StreamingDecay.CapDays}
                 - (ref_day - day)))
               ELSE 0 END AS w
           FROM ev, ref)
         SELECT event_type, count(*)::BIGINT AS n_events,
           sum(w)::DOUBLE / ${graft.streaming.StreamingDecay.Scale}.0
             AS decayed_count
         FROM wtd GROUP BY 1 ORDER BY 1""",

    "text_unigram_logprob" ->
      """WITH d AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\s+') AS arr
           FROM documents
           WHERE text IS NOT NULL AND length(trim(text)) > 0),
         toks AS (SELECT doc_id, unnest(arr) AS w FROM d),
         model AS (SELECT w, count(*)::BIGINT AS c FROM toks
           GROUP BY 1),
         stats AS (SELECT sum(c)::BIGINT AS tt, count(*)::BIGINT AS vv
           FROM model),
         lp AS (SELECT w, ln((c + 1)::DOUBLE / (tt + vv)::DOUBLE)
             AS lp
           FROM model, stats)
         SELECT doc_id, count(*)::BIGINT AS n_tokens,
           floor(avg(lp) * 10000 + 0.5) / 10000 AS avg_logprob
         FROM toks JOIN lp USING (w)
         GROUP BY doc_id ORDER BY doc_id""")
}
