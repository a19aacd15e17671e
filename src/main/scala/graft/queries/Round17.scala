package graft.queries

import org.apache.spark.sql.functions._

import graft.multimodal.Multimodal
import graft.textanalysis.{PerplexityBuckets, TextAnalysis}

/** Round-17 batch: character-level ExactSubstr deduplication — the
  * Lee et al. 2021 suffix-array pass's semantics (substrings ≥ 50
  * chars occurring more than once corpus-wide are cut, first
  * occurrence kept) via the exact char-gram cover reduction, no suffix
  * array. The word-granularity siblings (`dedup_ngram_spans`,
  * `text_dup_spans`) catch repeated PHRASES; this catches the
  * byte-identical boilerplate runs that cross word boundaries. */
object Round17 extends GateBatch {

  /** The paper's threshold: 50 characters. */
  private val SubstrMinLen = 50

  /** JPEG compression quality for the lossy-tier gate. */
  private val JpegQuality = 0.9f

  val defs: Map[String, Q] = Map(

    // ExactSubstr (Lee et al. 2107.06499): cut every non-canonical
    // occurrence of a ≥50-char duplicated substring, keep-first;
    // linear char-gram explode + md5-keyed count, per-doc bounded
    // interval merge — no suffix array, no window over data
    "dedup_exact_substr" -> ((s, dir) =>
      TextAnalysis.exactSubstrDedup(tbl(s, dir, "documents"), "doc_id",
          "text", minLen = SubstrMinLen)
        .orderBy("doc_id")),

    // REAL lossy JPEG trip: margin-160 fixture -> JDK JPEG writer at
    // quality 0.9 -> ImageIO decode of the actual JFIF bytes -> dHash.
    // The pixel VALUES don't survive (lossy by construction, the spec
    // asserts it); the dims and the 64 gradient SIGNS do, so the
    // oracle replays them straight from the fixture formula — a codec
    // that mangles dims, channels, or block decode flips bits
    "mm_jpeg_real" -> ((s, dir) =>
      Multimodal.jpegDHashes(tbl(s, dir, "documents"), "doc_id",
          quality = JpegQuality)
        .toDF().orderBy("doc_id")),

    // streaming twin of curate_ccnet_buckets: same per-language LM
    // scores, same assignment rule, but the tercile cuts come from the
    // BOUNDED keyed quantile sketch (the state an unbounded
    // StreamingQsketch.keyedStream run converges to) instead of the
    // exact selection — the order-free batch replay, DuckDB-replayable
    // because the sketch sample is a deterministic md5 bottom-K
    "stream_ccnet_buckets" -> ((s, dir) =>
      PerplexityBuckets.streamingSummary(tbl(s, dir, "documents"),
          "doc_id", "text", "lang")
        .orderBy("lang", "bucket")),

    // the boilerplate audit a curation run books after ExactSubstr:
    // per-language doc counts, how many docs were cut, and the exact
    // chars-removed share (ppm integer division — replays exactly)
    "pipeline_curation6" -> ((s, dir) => {
      val docs = tbl(s, dir, "documents")
      TextAnalysis.exactSubstrDedup(docs, "doc_id", "text",
          minLen = SubstrMinLen)
        .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_removed") > 0, 1L).otherwise(0L))
            .as("docs_touched"),
          sum("n_chars").as("chars_total"),
          sum("n_removed").as("chars_removed"))
        .withColumn("removed_ppm",
          expr("(chars_removed * 1000000) div chars_total"))
        .orderBy("lang")
    }))

  /** Shared ExactSubstr oracle CTE chain — per-doc (d: id, text, len)
    * and (cut: id, nrem, pre, laste), the removal evidence both the
    * per-doc gate and the curation-audit gate read. */
  private[queries] def exactSubstrCtes(L: Int): String =
    s"""d AS (SELECT doc_id AS id, text, length(text) AS len
           FROM documents WHERE text IS NOT NULL),
         g AS (SELECT id, i,
             CAST(('0x' || substr(md5(substr(text, i, $L)), 1, 15))
               AS BIGINT) AS k
           FROM d, LATERAL unnest(generate_series(1, len - ${L - 1}))
             t(i)
           WHERE len >= $L),
         o AS (SELECT id, i, count(*) OVER (PARTITION BY k) AS n,
             row_number() OVER (PARTITION BY k ORDER BY id, i) AS rn
           FROM g),
         dup AS (SELECT id, i AS s, i + ${L - 1} AS e
           FROM o WHERE n >= 2 AND rn > 1),
         isl AS (SELECT id, s, e, CASE WHEN s >
               coalesce(lag(e) OVER (PARTITION BY id ORDER BY s), 0) + 1
             THEN 1 ELSE 0 END AS brk
           FROM dup),
         grpd AS (SELECT id, s, e,
             sum(brk) OVER (PARTITION BY id ORDER BY s) AS grp
           FROM isl),
         mrg AS (SELECT id, grp, min(s) AS s, max(e) AS e
           FROM grpd GROUP BY 1, 2),
         seg AS (SELECT id, s, e,
             coalesce(lag(e) OVER (PARTITION BY id ORDER BY s), 0) AS pe
           FROM mrg),
         cut AS (SELECT seg.id, sum(seg.e - seg.s + 1)::BIGINT AS nrem,
             string_agg(substr(d.text, seg.pe + 1, seg.s - seg.pe - 1),
               '' ORDER BY seg.s) AS pre,
             max(seg.e) AS laste
           FROM seg JOIN d USING (id) GROUP BY seg.id)"""

  val oracles: Map[String, String] = Map(

    "dedup_exact_substr" ->
      s"""WITH ${exactSubstrCtes(SubstrMinLen)}
       SELECT d.id AS doc_id, d.len::BIGINT AS n_chars,
         coalesce(cut.nrem, 0)::BIGINT AS n_removed,
         CASE WHEN cut.id IS NULL THEN d.text
           ELSE cut.pre || substr(d.text, cut.laste + 1) END AS clean_text
       FROM d LEFT JOIN cut ON cut.id = d.id
       ORDER BY doc_id""",

    // replays testJpegCell (dims 9cs x 8cs) and testJpegDHash: bit
    // y*8+x set iff ((doc_id >> y) + x) % 2 = 1; bit 63's power
    // spelled as MinLong (1 << 63 overflows checked arithmetic)
    "mm_jpeg_real" ->
      """WITH d AS (SELECT doc_id, CAST(3 + doc_id % 3 AS INT) AS cs
           FROM documents),
         b AS (SELECT doc_id, cs, unnest(generate_series(0, 63)) AS i
           FROM d),
         v AS (SELECT doc_id, cs, i,
             ((doc_id // (1::BIGINT << CAST(i // 8 AS INT))) + (i % 8))
               % 2 AS bit
           FROM b)
       SELECT doc_id, CAST(9 * cs AS INT) AS width,
         CAST(8 * cs AS INT) AS height,
         CAST(sum(CASE WHEN bit = 1 THEN
           CASE WHEN i = 63 THEN -9223372036854775807 - 1
             ELSE 1::BIGINT << CAST(i AS INT) END
           ELSE 0 END) AS BIGINT) AS dhash
       FROM v GROUP BY 1, 2, 3 ORDER BY doc_id""",

    // per-language ExactSubstr accounting off the same shared CTE
    // chain; removed share as a ppm integer floor-division
    "pipeline_curation6" ->
      s"""WITH ${exactSubstrCtes(SubstrMinLen)},
         pd AS (SELECT d.id, dd.lang, d.len,
             coalesce(cut.nrem, 0)::BIGINT AS nrem
           FROM d LEFT JOIN cut ON cut.id = d.id
           JOIN documents dd ON dd.doc_id = d.id)
       SELECT lang, count(*)::BIGINT AS n_docs,
         sum(CASE WHEN nrem > 0 THEN 1 ELSE 0 END)::BIGINT
           AS docs_touched,
         sum(len)::BIGINT AS chars_total,
         sum(nrem)::BIGINT AS chars_removed,
         CAST((sum(nrem)::BIGINT * 1000000) // sum(len)::BIGINT
           AS BIGINT) AS removed_ppm
       FROM pd GROUP BY lang ORDER BY lang""",

    // replays the csc score CTE (shared with curate_ccnet_buckets),
    // then the bounded keyed sketch: 60-bit md5 bottom-64 per lang
    // (dedup'd, ORDER BY h,v), the deterministic lower-index read-off
    // rn = floor(p*(n-1))+1, the 1e-4 cut snap, and the > cut rules
    "stream_ccnet_buckets" -> {
      val k = graft.streaming.StreamingQsketch.KeyedK
      s"""WITH ${Round16e.ccnetAssignCtes},
         sh AS (SELECT lang,
             CAST(('0x' || substr(md5(id::VARCHAR), 1, 15)) AS BIGINT)
               AS h,
             alp AS v
           FROM csc),
         bk AS (SELECT lang, h, v FROM (SELECT lang, h, v,
             row_number() OVER (PARTITION BY lang ORDER BY h, v) AS rn
           FROM (SELECT DISTINCT lang, h, v FROM sh))
           WHERE rn <= $k),
         r AS (SELECT lang, v,
             row_number() OVER (PARTITION BY lang ORDER BY v, h) AS rn,
             count(*) OVER (PARTITION BY lang) AS n
           FROM bk),
         p AS (SELECT unnest(['q33', 'q67']) AS prob,
             unnest([1.0/3.0, 2.0/3.0]::DOUBLE[]) AS pv),
         est AS (SELECT lang, prob, v AS est_q
           FROM r JOIN p ON r.rn = (floor(pv * (n - 1)) + 1)::BIGINT),
         scuts AS (SELECT lang,
             floor(max(CASE WHEN prob = 'q33' THEN est_q END)
               * 10000 + 0.5) / 10000 AS q33,
             floor(max(CASE WHEN prob = 'q67' THEN est_q END)
               * 10000 + 0.5) / 10000 AS q67
           FROM est GROUP BY lang),
         sa AS (SELECT csc.lang, csc.n_tokens, csc.alp,
             CASE WHEN csc.alp > scuts.q67 THEN 'head'
               WHEN csc.alp > scuts.q33 THEN 'middle'
               ELSE 'tail' END AS bucket
           FROM csc JOIN scuts USING (lang))
       SELECT lang, bucket, count(*)::BIGINT AS n_docs,
         sum(n_tokens)::BIGINT AS n_tokens,
         min(alp) AS lp_min, max(alp) AS lp_max
       FROM sa GROUP BY 1, 2 ORDER BY 1, 2"""
    })
}
