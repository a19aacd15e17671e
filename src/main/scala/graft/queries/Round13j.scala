package graft.queries

import org.apache.spark.sql.functions._
import graft.dedup.NgramSpans
import graft.functions.NfcNormalize
import graft.operators.TokenBudget
import graft.textanalysis.HtmlStrip

/** Round-13 tenth batch: the end-to-end web-curation pipeline
  * (strip → boilerplate-coverage cut → per-source token budget)
  * composing the 13e/13f operators, and Unicode NFC normalization as
  * a native codegen expression. */
object Round13j extends GateBatch {

  private val N = 4
  private val MaxDupFrac = 0.5
  private val Budget = 800L

  /** Decomposed vs precomposed "café" suffixes — same TEXT, different
    * bytes until NFC. */
  private val Decomp = " café"
  private val Precomp = " café"

  val defs: Map[String, Q] = Map(

    // the curation pipeline a crawl shard actually runs: strip the
    // markup, drop docs that are mostly cross-doc boilerplate
    // (dup_frac > 0.5), then admit per source until the token budget —
    // three shuffle-lean stages, all oracle-replayable
    "pipeline_curation3" -> ((s, dir) => {
      // materialize the cleaned corpus ONCE: three downstream stages
      // (span coverage, the keep-join, the token budget) each
      // reference it, and without truncation every stage re-runs the
      // strip chain; at cluster scale this is persist()/checkpoint
      val clean = tbl(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"), col("source"),
          HtmlStrip.strip(Round13e.htmlExpr).as("text"))
        .transform(d => graft.operators.Checkpoints.pin(d))
      val keep = NgramSpans.coverage(clean, "doc_id", "text", N)
        .where(col("dup_frac") <= MaxDupFrac)
        .select("doc_id")
      TokenBudget.cap(clean.join(keep, "doc_id"), "source", "doc_id",
        "text", Budget)
        .orderBy("source", "doc_id")
    }),

    // NFC canonical composition (native codegen expression — no UDF):
    // every 2nd doc carries a DECOMPOSED accent, the rest precomposed;
    // after NFC both spell the same bytes, which the byte counts show
    "text_nfc" -> ((s, dir) => {
      val raw = concat(col("text"),
        when(col("doc_id") % 2 === 0, lit(Decomp)).otherwise(lit(Precomp)))
      tbl(s, dir, "documents")
        .where(col("text").isNotNull)
        .select(col("doc_id"), raw.as("__raw"))
        .select(col("doc_id"),
          octet_length(col("__raw")).cast("long").as("raw_bytes"),
          NfcNormalize(col("__raw")).as("text_nfc"))
        .withColumn("nfc_bytes",
          octet_length(col("text_nfc")).cast("long"))
        .orderBy("doc_id")
    }))

  val oracles: Map[String, String] = Map(

    "pipeline_curation3" ->
      s"""WITH h AS (SELECT doc_id, source, ${Round13e.htmlSql} AS html
           FROM documents WHERE text IS NOT NULL),
         cl AS (SELECT doc_id, source, ${Round13e.stripSql} AS text
           FROM h),
         d AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\\s+') AS arr
           FROM cl WHERE length(trim(text)) > 0),
         g0 AS (SELECT doc_id, arr,
             unnest(generate_series(0, len(arr) - $N)) AS k
           FROM d WHERE len(arr) >= $N),
         g AS (SELECT doc_id, k,
             array_to_string(arr[k+1 : k+$N], ' ') AS gram
           FROM g0),
         dup AS (SELECT gram FROM g GROUP BY gram
           HAVING count(DISTINCT doc_id) >= 2),
         hits AS (SELECT doc_id, k AS s, k + ${N - 1} AS e
           FROM g JOIN dup USING (gram)),
         w AS (SELECT doc_id, s, e,
             max(e) OVER (PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
           FROM hits),
         isl AS (SELECT doc_id, s, e,
             CASE WHEN pmax IS NULL OR s > pmax + 1 THEN 1 ELSE 0 END
               AS brk
           FROM w),
         grp AS (SELECT doc_id, s, e,
             sum(brk) OVER (PARTITION BY doc_id ORDER BY s
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
           FROM isl),
         sp AS (SELECT doc_id, max(e) - min(s) + 1 AS st
           FROM grp GROUP BY doc_id, gid),
         per AS (SELECT doc_id, sum(st)::BIGINT AS dup_tokens
           FROM sp GROUP BY doc_id),
         cov AS (SELECT d.doc_id, len(arr)::BIGINT AS n_tokens,
             floor(coalesce(dup_tokens, 0)::DOUBLE / len(arr)::DOUBLE
               * 1000000 + 0.5) / 1000000 AS dup_frac
           FROM d LEFT JOIN per USING (doc_id)),
         keep AS (SELECT doc_id FROM cov WHERE dup_frac <= $MaxDupFrac),
         kk AS (SELECT cl.source, cl.doc_id, cov.n_tokens
           FROM cl JOIN keep USING (doc_id) JOIN cov USING (doc_id)),
         c AS (SELECT source, doc_id, n_tokens,
             sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               ::BIGINT AS cum_tokens
           FROM kk)
         SELECT source, doc_id, n_tokens, cum_tokens FROM c
         WHERE cum_tokens <= $Budget
         ORDER BY source, doc_id""",

    "text_nfc" ->
      s"""WITH r AS (SELECT doc_id, text ||
             CASE WHEN doc_id % 2 = 0 THEN ' caf' || 'e' || chr(769)
               ELSE ' caf' || chr(233) END AS raw
           FROM documents WHERE text IS NOT NULL)
         SELECT doc_id, strlen(raw)::BIGINT AS raw_bytes,
           nfc_normalize(raw) AS text_nfc,
           strlen(nfc_normalize(raw))::BIGINT AS nfc_bytes
         FROM r ORDER BY doc_id""")
}
